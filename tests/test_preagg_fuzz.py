"""Property-based check of the incremental pre-agg state: for random
chunkings of tie-heavy data with NULLs, appending chunk-by-chunk
through ``PreAggTable`` (across random bucket widths) must emit
exactly what ``long_window_agg`` computes over the full history — the
even/odd carry merge, per-key watermarks, and ``append_tail``
idempotence all live on this property.

Example count scales with SPARK_GRAFT_FUZZ_EXAMPLES (default 25;
the round-4 fuzz harness convention)."""

from __future__ import annotations

import math
import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from openmldb_spark.operators.long_window import long_window_agg
from openmldb_spark.operators.preagg import PreAggTable
from openmldb_spark.operators.window import Agg, WindowSpec

SPEC = WindowSpec(["k"], "ts", "rows", None, tiebreak=["i"])
AGGS = [
    Agg("sum", "v", "a_sum"),
    Agg("count", "v", "a_cnt"),
    Agg("avg", "v", "a_avg"),
    Agg("min", "v", "a_min"),
    Agg("max", "v", "a_max"),
]

_N_EXAMPLES = int(os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "25"))

_DF = {}


def _rows():
    if "rows" not in _DF:
        rows = []
        i = 0
        for k in range(3):
            for j in range(60):
                ts = (j // 4) * 1000  # heavy duplicate-ts runs
                v = None if j % 7 == 0 else float((j * 13) % 23 - 11)
                rows.append((f"k{k}", ts, i, v))
                i += 1
        rows.sort(key=lambda r: r[1])
        _DF["rows"] = rows
    return _DF["rows"]


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k string, ts long, i long, v double")


def _full(spark):
    """The whole history as one cached DataFrame, built once per session."""
    if "full" not in _DF:
        _DF["full"] = _mk(spark, _rows()).cache()
    return _DF["full"]


def _expected(spark, bucket_ms):
    """The full-history recompute depends only on the bucket width, so
    each width's answer is computed once per session."""
    key = ("expected", bucket_ms)
    if key not in _DF:
        _DF[key] = _canon(long_window_agg(_full(spark), SPEC, AGGS, bucket_ms=bucket_ms))
    return _DF[key]


def _canon(df):
    out = []
    for r in df.select("k", "ts", "i", "a_sum", "a_cnt", "a_avg",
                       "a_min", "a_max").collect():
        row = []
        for x in r:
            if isinstance(x, float):
                row.append("␀" if math.isnan(x) else round(x, 9))
            else:
                row.append(x)
        out.append(tuple(row))
    return sorted(out)


@settings(max_examples=_N_EXAMPLES, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    # global-time split points (chunk boundaries respect row order,
    # which is per-key ordered because rows are globally sorted)
    cuts=st.lists(st.integers(min_value=1, max_value=179),
                  min_size=0, max_size=3, unique=True),
    bucket_ms=st.sampled_from([700, 1000, 2500, 10_000, 10_000_000]),
)
def test_chunked_appends_equal_full_recompute(spark, tmp_path_factory,
                                              cuts, bucket_ms):
    rows = _rows()
    bounds = sorted(cuts) + [len(rows)]
    chunks, lo = [], 0
    for b in bounds:
        if b > lo:
            chunks.append(rows[lo:b])
            lo = b
    full = _full(spark)

    state_dir = str(tmp_path_factory.mktemp("pa") / "state")
    t = PreAggTable.create(spark, state_dir, SPEC, AGGS, bucket_ms=bucket_ms)
    got = []
    for c in chunks:
        got.extend(_canon(t.append(_mk(spark, c))))
    assert sorted(got) == _expected(spark, bucket_ms)

    # append_tail of already-seen data is a no-op generation
    before = sum(g["pairs"] for g in t.meta["generations"])
    t.append_tail(full)
    after = sum(g["pairs"] for g in t.meta["generations"])
    assert before == after
