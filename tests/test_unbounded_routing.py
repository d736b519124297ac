"""Routing tests for unbounded-frame windows (VERDICT r3 #3/#4):

- UNBOUNDED ROWS_RANGE canonicalizes to ROWS and, with distinct_count
  rewritten to a first-occurrence-indicator sum, takes the skew-free
  long-window pre-agg plan with ZERO Python nodes — while matching the
  salted kernel row-for-row.
- A multi-skewed-window backfill runs ONE key-statistics job, shared
  via ``key_stats`` (the reference's skew.opt.config pattern).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from openmldb_spark.operators.window import Agg, WindowSpec, window_agg


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df, cols):
    key = lambda t: tuple((v is None, v) for v in t)  # noqa: E731
    out = []
    for r in df.collect():
        row = []
        for c in cols:
            v = r[c]
            row.append(round(v, 6) if isinstance(v, float) else v)
        out.append(tuple(row))
    return sorted(out, key=key)


def test_unbounded_rows_range_dc_routes_native(spark):
    from openmldb_spark.operators.skew import window_agg_skewed

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    spec = WindowSpec(["user_id"], "ts", "rows_range", None, tiebreak=["event_id"])
    aggs = [
        Agg("count", None, "cnt"),
        Agg("sum", "value", "s"),
        Agg("distinct_count", "event_type", "dt"),
    ]
    out = window_agg_skewed(ev, spec, aggs, quantiles=4, hot_threshold=50)
    p = _plan(out)
    assert "Python" not in p and "InArrow" not in p, \
        "unbounded dc should be zero-Python"
    cols = ["event_id", "cnt", "s", "dt"]
    got = _rows(out, cols)
    want = _rows(window_agg(ev, spec, aggs, impl="kernel"), cols)
    assert len(got) == len(want) > 0
    for a, b in zip(got, want):
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                assert math.isclose(x, y, rel_tol=1e-9)
            else:
                assert x == y


def test_unbounded_dc_null_counts_type_default(spark):
    """NULL values collapse to the type default — one distinct value
    (reference udaf id=5/6) — on the rewritten plan too."""
    rows = [("k", i, None if i % 2 else "a") for i in range(6)]
    df = spark.createDataFrame(rows, "k string, ts long, v string")
    spec = WindowSpec(["k"], "ts", "rows", None)
    out = window_agg(df, spec, [Agg("distinct_count", "v", "dc")])
    p2 = _plan(out)
    assert "Python" not in p2 and "InArrow" not in p2
    got = {r["ts"]: r["dc"] for r in out.collect()}
    # ts=0: {a} → 1; ts=1: {a, ''} → 2; stays 2 afterwards
    assert got == {0: 1, 1: 2, 2: 2, 3: 2, 4: 2, 5: 2}


def test_unbounded_maxsize_canonicalizes_to_rows(spark):
    """UNBOUNDED ROWS_RANGE + MAXSIZE m keeps exactly the newest m
    frame rows — canonicalized to a ROWS frame and routed native."""
    rows = [(f"k{k}", i, (i // 4) * 1000,
             None if i % 7 == 0 else float(i % 13))
            for k in range(3) for i in range(100)]
    df = spark.createDataFrame(rows, "k string, i long, ts long, v double")
    for ocr in (False, True):
        spec = WindowSpec(["k"], "ts", "rows_range", None, maxsize=6,
                          exclude_current_row=ocr, tiebreak=["i"])
        aggs = [Agg("sum", "v", "sm"), Agg("count", "v", "c")]
        nat = window_agg(df, spec, aggs, impl="auto")
        assert "InArrow" not in _plan(nat)
        cols = ["k", "i", "sm", "c"]
        assert _rows(nat, cols) == _rows(
            window_agg(df, spec, aggs, impl="kernel"), cols)


def test_backfill_single_stats_job(spark, transcripts, conv_meta, monkeypatch):
    import openmldb_spark.operators.skew as skew_mod
    from openmldb_spark.operators.window import WindowSpec
    from openmldb_spark.plans.backfill import AsOfSource, FeatureWindow, backfill_features

    calls = []
    real = skew_mod.key_counts

    def spy(df, keys, min_n, union=None):
        calls.append(tuple(keys))
        return real(df, keys, min_n, union)

    monkeypatch.setattr(skew_mod, "key_counts", spy)
    primary = transcripts.withColumn("__is_tool__", F.col("role") == "tool")
    fws = [
        FeatureWindow(
            spec=WindowSpec(["conv_id"], "ts", "rows", 10, tiebreak=["turn_idx"]),
            aggs=[Agg("count_where", "turn_idx", "n_tools", cond="__is_tool__")],
            skew=True, skew_quantiles=4, skew_hot_threshold=100,
        ),
        FeatureWindow(
            spec=WindowSpec(["conv_id"], "ts", "rows", 5, tiebreak=["turn_idx"]),
            aggs=[Agg("entropy", "role", "role_ent")],
            skew=True, skew_quantiles=4, skew_hot_threshold=100,
        ),
    ]
    out = backfill_features(
        primary, "ts", fws,
        asof=[AsOfSource(conv_meta, on=["conv_id"], right_ts="ts", prefix="m_")],
    )
    n = out.count()
    assert n == transcripts.count()
    # one shared statistics computation for both skewed windows
    assert calls == [("conv_id",)]
