"""Native-route coverage of the §2.2 frame-attribute matrix (round 4):
every ROWS shape and every ROWS_RANGE end-bound shape evaluates
natively (no MapInArrow nodes) and matches the Arrow kernel row-for-row
on tie-heavy data with NULL values and NULL order keys.

Modes (window._native_frame_info): 'exact' (plain ANSI offsets),
'ect_cur' (strict range + current row), 'tie' (cum-minus-before along
buffer order). MAXSIZE / INSTANCE_NOT_IN_WINDOW / ROWS+ECT / ECT+lag
stay on the kernel by design."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from openmldb_spark.operators.window import (
    Agg,
    WindowSpec,
    _native_expressible,
    window_agg,
)

EXACT = [Agg("sum", "v", "sm"), Agg("count", "v", "c"), Agg("avg", "v", "av"),
         Agg("min", "v", "mn"), Agg("max", "v", "mx"), Agg("stddev", "v", "sd"),
         Agg("sum_where", "v", "sw", cond="hot"), Agg("count", None, "call"),
         Agg("lag", "v", "lg", n=1)]
COMB = [Agg("sum", "v", "sm"), Agg("count", "v", "c"), Agg("avg", "v", "av"),
        Agg("min", "v", "mn"), Agg("max", "v", "mx"),
        Agg("min_where", "v", "mw", cond="hot"), Agg("count", None, "call")]
CORR = [Agg("sum", "v", "sm"), Agg("count", "v", "c"), Agg("avg", "v", "av"),
        Agg("sum_where", "v", "sw", cond="hot"), Agg("count", None, "call"),
        Agg("lag", "v", "lg", n=1)]

CASES = [
    ("rows_end", WindowSpec(["k"], "ts", "rows", 10, end_preceding=2, tiebreak=["i"]), EXACT),
    ("rows_ocr", WindowSpec(["k"], "ts", "rows", 10, exclude_current_row=True, tiebreak=["i"]), EXACT),
    ("rows_open", WindowSpec(["k"], "ts", "rows", 10, open_preceding=True, tiebreak=["i"]), EXACT),
    ("rows_open_end", WindowSpec(["k"], "ts", "rows", 10, open_preceding=True, end_preceding=3, tiebreak=["i"]), EXACT),
    ("rows_unb_end", WindowSpec(["k"], "ts", "rows", None, end_preceding=2, tiebreak=["i"]), EXACT),
    ("rr_end", WindowSpec(["k"], "ts", "rows_range", 8000, end_preceding=2000, tiebreak=["i"]), EXACT),
    ("rr_end_open", WindowSpec(["k"], "ts", "rows_range", 8000, end_preceding=2000, open_end=True, tiebreak=["i"]), EXACT),
    ("rr_e0_offset", WindowSpec(["k"], "ts", "rows_range", 8000, end_is_offset=True, tiebreak=["i"]), CORR),
    ("rr_ect", WindowSpec(["k"], "ts", "rows_range", 8000, exclude_current_time=True, tiebreak=["i"]), COMB),
    ("rr_ect_ocr", WindowSpec(["k"], "ts", "rows_range", 8000, exclude_current_time=True, exclude_current_row=True, tiebreak=["i"]), COMB),
    ("rr_ocr", WindowSpec(["k"], "ts", "rows_range", 8000, exclude_current_row=True, tiebreak=["i"]), CORR),
    ("rr_open", WindowSpec(["k"], "ts", "rows_range", 8000, open_preceding=True, tiebreak=["i"]), CORR),
    ("rr_unb_ect", WindowSpec(["k"], "ts", "rows_range", None, exclude_current_time=True, tiebreak=["i"]), COMB),
    ("rr_neg_end", WindowSpec(["k"], "ts", "rows_range", 8000, end_preceding=-2000, tiebreak=["i"]), CORR),
    # small-frame exact median (sorted-collect_list middles) + stats
    ("rows_median", WindowSpec(["k"], "ts", "rows", 7, tiebreak=["i"]),
     [Agg("median", "v", "md"), Agg("stddev", "v", "sd"), Agg("var", "v", "vr")]),
    ("rows_median_end", WindowSpec(["k"], "ts", "rows", 9, end_preceding=2, tiebreak=["i"]),
     [Agg("median", "v", "md")]),
    # positional newest-in-frame + at (buffer-positional lag alias)
    ("rows_fv_ocr", WindowSpec(["k"], "ts", "rows", 5, exclude_current_row=True, tiebreak=["i"]),
     [Agg("first_value", "v", "fv"), Agg("at", "v", "a2", n=2)]),
    ("rows_fv_end", WindowSpec(["k"], "ts", "rows", 8, end_preceding=3, tiebreak=["i"]),
     [Agg("first_value", "v", "fv")]),
    ("rr_fv_tie", WindowSpec(["k"], "ts", "rows_range", 8000, exclude_current_row=True, tiebreak=["i"]),
     [Agg("first_value", "v", "fv"), Agg("sum", "v", "sm")]),
]


@pytest.fixture(scope="module")
def tie_df(spark):
    rows = []
    for k in range(4):
        for i in range(150):
            ts = None if i % 17 == 16 else (i // 4) * 1000
            v = None if i % 7 == 0 else float(i % 13)
            rows.append((f"k{k}", i, ts, v))
    df = (spark.createDataFrame(rows, "k string, i long, ts long, v double")
          .withColumn("hot", F.col("i") % 3 == 0).cache())
    df.count()
    return df


def _rows(df, cols):
    key = lambda t: tuple((v is None, v) for v in t)  # noqa: E731
    return sorted([tuple(r[c] for c in cols) for r in df.collect()], key=key)


def _close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


@pytest.mark.parametrize("name,spec,aggs", CASES, ids=[c[0] for c in CASES])
def test_native_matches_kernel(tie_df, name, spec, aggs):
    assert _native_expressible(spec, aggs, None, tie_df), f"{name} should route native"
    nat = window_agg(tie_df, spec, aggs, impl="native")
    plan = nat._jdf.queryExecution().executedPlan().toString()
    assert "InArrow" not in plan and "Python" not in plan
    cols = ["k", "i"] + [a.name for a in aggs]
    got = _rows(nat, cols)
    want = _rows(window_agg(tie_df, spec, aggs, impl="kernel"), cols)
    assert len(got) == len(want) > 0
    for ra, rb in zip(got, want):
        assert all(_close(x, y) for x, y in zip(ra, rb)), (ra, rb)


def test_native_window_union(spark, tie_df):
    """WINDOW UNION on the native plans: union rows feed frames only,
    later-listed tables sort first at equal keys (-union tie order),
    primary rows filtered at the end — zero Python."""
    u = tie_df.filter(F.col("i") % 2 == 0)
    prim = tie_df.filter(F.col("i") % 2 == 1)
    for spec in [
        WindowSpec(["k"], "ts", "rows", 5, tiebreak=["i"]),
        WindowSpec(["k"], "ts", "rows_range", 5000, tiebreak=["i"]),
        WindowSpec(["k"], "ts", "rows_range", 5000, exclude_current_time=True,
                   tiebreak=["i"]),
    ]:
        aggs = [Agg("sum", "v", "sm"), Agg("count", "v", "c")]
        nat = window_agg(prim, spec, aggs, union=[u], impl="auto")
        plan = nat._jdf.queryExecution().executedPlan().toString()
        assert "InArrow" not in plan and "Python" not in plan
        cols = ["k", "i", "sm", "c"]
        got = _rows(nat, cols)
        want = _rows(window_agg(prim, spec, aggs, union=[u], impl="kernel"), cols)
        assert len(got) == len(want) > 0
        for ra, rb in zip(got, want):
            assert all(_close(x, y) for x, y in zip(ra, rb)), (spec.frame, ra, rb)


def test_kernel_only_shapes_stay_gated(tie_df):
    # ROWS + EXCLUDE CURRENT_TIME anchors at the first same-ts row
    assert not _native_expressible(
        WindowSpec(["k"], "ts", "rows", 10, exclude_current_time=True,
                   tiebreak=["i"]), [Agg("sum", "v", "s")], None, tie_df)
    # lag under ECT anchors before the tie run
    assert not _native_expressible(
        WindowSpec(["k"], "ts", "rows_range", 8000, exclude_current_time=True,
                   tiebreak=["i"]), [Agg("lag", "v", "lg", n=1)], None, tie_df)
    # MAXSIZE and feature-zero splits are kernel-only
    assert not _native_expressible(
        WindowSpec(["k"], "ts", "rows_range", 8000, maxsize=5, tiebreak=["i"]),
        [Agg("sum", "v", "s")], None, tie_df)
    assert not _native_expressible(
        WindowSpec(["k"], "ts", "rows", 5, tiebreak=["i"]),
        [Agg("count", "v", "s", split=("split", ",", None))], None, tie_df)
    # negative PRECEDING (degenerate bounds)
    assert not _native_expressible(
        WindowSpec(["k"], "ts", "rows", -2, tiebreak=["i"]),
        [Agg("sum", "v", "s")], None, tie_df)
