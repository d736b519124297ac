"""Property-based check of the native window router (round 4): for
randomly drawn frame specs and aggregate subsets, whenever
``_native_expressible`` routes a shape to the pure-Catalyst evaluator
its results must equal the Arrow kernel's row-for-row on tie-heavy
data with NULLs. Complements the hand-picked matrix in
test_native_frame_matrix.py with shapes nobody thought to write."""

from __future__ import annotations

import math
import os

from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from openmldb_spark.operators.window import (
    Agg,
    WindowSpec,
    _native_expressible,
    window_agg,
)

_AGG_POOL = [
    Agg("sum", "v", "a_sum"),
    Agg("count", "v", "a_cnt"),
    Agg("avg", "v", "a_avg"),
    Agg("min", "v", "a_min"),
    Agg("max", "v", "a_max"),
    Agg("sum_where", "v", "a_sw", cond="hot"),
    Agg("count_where", "v", "a_cw", cond="hot"),
    Agg("lag", "v", "a_lag", n=2),
    Agg("first_value", "v", "a_fv"),
    Agg("count", None, "a_all"),
]

_DF_CACHE = {}


def _data(spark, kind: str = "mixed"):
    if kind not in _DF_CACHE:
        rows = []
        for k in range(3):
            for i in range(90):
                if kind == "all_ties":
                    # one giant tie run per key — stresses buffer-order
                    # corrections where the range bound never binds
                    ts = 5000
                else:
                    ts = None if i % 19 == 18 else (i // 3) * 1000
                v = None if i % 7 == 0 else float(i % 11)
                # a tiebreak with NULLs, ordered against i where set
                tb = None if i % 4 == 1 else 1000 - i
                rows.append((f"k{k}", i, ts, v, tb))
        df = (spark.createDataFrame(rows, "k string, i long, ts long, v double, tb long")
              .withColumn("hot", F.col("i") % 3 == 0).cache())
        df.count()
        _DF_CACHE[kind] = df
    return _DF_CACHE[kind]


@st.composite
def frame_specs(draw):
    frame = draw(st.sampled_from(["rows", "rows_range"]))
    unit = 1 if frame == "rows" else 1000
    preceding = draw(st.one_of(
        st.none(), st.integers(min_value=0, max_value=12).map(lambda x: x * unit)))
    end_preceding = draw(st.integers(min_value=-3, max_value=5)) * unit
    end_is_offset = draw(st.booleans())
    kwargs = dict(
        frame=frame,
        preceding=preceding,
        end_preceding=end_preceding if (end_preceding or end_is_offset) else 0,
        end_is_offset=end_is_offset,
        open_preceding=draw(st.booleans()),
        open_end=draw(st.booleans()),
        exclude_current_time=draw(st.booleans()),
        exclude_current_row=draw(st.booleans()),
        # NULL tb values sort first; i makes the order total
        tiebreak=draw(st.sampled_from([["i"], ["tb", "i"]])),
    )
    return WindowSpec(["k"], "ts", **kwargs)


@settings(max_examples=int(os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "40")),
          deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(spec=frame_specs(),
       idxs=st.sets(st.integers(min_value=0, max_value=len(_AGG_POOL) - 1),
                    min_size=1, max_size=4),
       with_union=st.booleans(),
       data_kind=st.sampled_from(["mixed", "all_ties"]))
def test_native_equals_kernel_fuzz(spark, spec, idxs, with_union, data_kind):
    df = _data(spark, data_kind)
    aggs = [_AGG_POOL[i] for i in sorted(idxs)]
    assume(_native_expressible(spec, aggs, None, df))
    if with_union:
        # the union-native route: primary = odd rows, union = even rows
        union = [df.filter(F.col("i") % 2 == 0)]
        df = df.filter(F.col("i") % 2 == 1)
        nat = window_agg(df, spec, aggs, union=union, impl="auto")
        assume("InArrow" not in
               nat._jdf.queryExecution().executedPlan().toString())
        ker = window_agg(df, spec, aggs, union=union, impl="kernel")
    else:
        nat = window_agg(df, spec, aggs, impl="native")
        ker = window_agg(df, spec, aggs, impl="kernel")
    cols = ["k", "i"] + [a.name for a in aggs]
    key = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    got = sorted([tuple(r[c] for c in cols) for r in nat.collect()], key=key)
    want = sorted([tuple(r[c] for c in cols) for r in ker.collect()], key=key)
    assert len(got) == len(want) > 0
    for ra, rb in zip(got, want):
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                assert math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9), (spec, ra, rb)
            else:
                assert x == y, (spec, ra, rb)
