"""Tie-corrected native ROWS_RANGE plan (round 4): sum/count/avg
(+ _where) over time-range frames evaluate as
``cum(buffer order) - before(range start)`` on ONE exchange with zero
Python nodes, matching the kernel's buffer-order semantics exactly —
including duplicate-ts ties, NULLs, NULL order keys, int32 wraparound
and *_where masks."""

from __future__ import annotations

from pyspark.sql import functions as F

from openmldb_spark.operators.window import Agg, WindowSpec, window_agg


def _collect(df, cols):
    key = lambda t: tuple((v is None, v) for v in t)  # noqa: E731
    return sorted([tuple(r[c] for c in cols) for r in df.collect()], key=key)


def _tie_df(spark):
    rows = []
    for k in range(4):
        for i in range(120):
            ts = None if i % 17 == 16 else (i // 4) * 1000  # 4-way ties + NULLs
            v = None if i % 7 == 0 else float(i % 13)
            rows.append((f"k{k}", i, ts, v))
    return (spark.createDataFrame(rows, "k string, i long, ts long, v double")
            .withColumn("hot", F.col("i") % 3 == 0))


def test_native_rows_range_matches_kernel(spark):
    df = _tie_df(spark)
    spec = WindowSpec(["k"], "ts", "rows_range", 5000, tiebreak=["i"])
    aggs = [
        Agg("count", "v", "c"),
        Agg("sum", "v", "sm"),
        Agg("avg", "v", "av"),
        Agg("count_where", "v", "cw", cond="hot"),
        Agg("sum_where", "v", "sw", cond="hot"),
        Agg("lag", "v", "lg", n=2),
        Agg("count", None, "call"),
    ]
    nat = window_agg(df, spec, aggs, impl="auto")
    plan = nat._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "InArrow" not in plan, \
        "rows_range sum/count/avg should route native"
    assert plan.count("Exchange") == 1, "cum+before must share one exchange"
    cols = ["k", "i", "c", "sm", "av", "cw", "sw", "lg", "call"]
    got = _collect(nat, cols)
    want = _collect(window_agg(df, spec, aggs, impl="kernel"), cols)
    assert len(got) == len(want) > 0  # NULL-ts rows dropped on BOTH paths
    assert got == want


def test_native_rows_range_int_wrap(spark):
    rows = [("k", i, (i // 3) * 1000, (2**28 + i) if i % 2 == 0 else i)
            for i in range(90)]
    df = spark.createDataFrame(rows, "k string, i long, ts long, v int")
    spec = WindowSpec(["k"], "ts", "rows_range", 8000, tiebreak=["i"])
    aggs = [Agg("sum", "v", "sm")]
    got = _collect(window_agg(df, spec, aggs, impl="native"), ["i", "sm"])
    want = _collect(window_agg(df, spec, aggs, impl="kernel"), ["i", "sm"])
    assert got == want
    assert any(v < 0 for _, v in got), "test data should actually wrap int32"


def test_non_correctable_aggs_stay_on_kernel(spark):
    df = _tie_df(spark)
    spec = WindowSpec(["k"], "ts", "rows_range", 5000, tiebreak=["i"])
    out = window_agg(df, spec, [Agg("min", "v", "mn")], impl="auto")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan, "min is not prefix-invertible — kernel path"
