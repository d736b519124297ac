"""Skew-salted window aggregation must equal the plain kernel exactly."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from openmldb_spark.operators.skew import window_agg_skewed
from openmldb_spark.operators.window import Agg, WindowSpec, window_agg

AGGS = [
    Agg("count", None, "a_cnt"),
    Agg("sum", "turn_idx", "a_sum"),
    Agg("min", "turn_idx", "a_min"),
    Agg("max", "turn_idx", "a_max"),
    Agg("distinct_count", "tool", "a_dt"),
]


def _norm(pdf, cols):
    out = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    return out[["conv_id", "turn_idx"] + cols]


SPECS = [
    WindowSpec(["conv_id"], "ts", "rows", 7, tiebreak=["turn_idx"]),
    WindowSpec(["conv_id"], "ts", "rows_range", 1_800_000, tiebreak=["turn_idx"]),
    WindowSpec(["conv_id"], "ts", "rows_range", None, tiebreak=["turn_idx"]),
    WindowSpec(["conv_id"], "ts", "rows_range", 3_600_000, maxsize=5, tiebreak=["turn_idx"]),
]


@pytest.mark.parametrize("spec_idx", range(len(SPECS)))
def test_skewed_equals_plain(spark, transcripts, spec_idx):
    spec = SPECS[spec_idx]
    plain = window_agg(transcripts, spec, AGGS, impl="kernel").toPandas()
    # hot_threshold=50 → every conv with ≥50 turns gets salted (the hot
    # conv_000000 certainly does); quantiles=3 exercises multi-bucket
    salted = window_agg_skewed(
        transcripts, spec, AGGS, quantiles=3, hot_threshold=50
    ).toPandas()
    cols = [a.name for a in AGGS]
    p, s = _norm(plain, cols), _norm(salted, cols)
    assert len(p) == len(s)
    for c in cols:
        pn = pd.to_numeric(p[c], errors="coerce").astype(float).to_numpy()
        sn = pd.to_numeric(s[c], errors="coerce").astype(float).to_numpy()
        assert np.allclose(pn, sn, equal_nan=True), f"spec {spec_idx} col {c}"


def test_skewed_with_union(spark, transcripts, archive):
    spec = WindowSpec(["conv_id"], "ts", "rows_range", None, tiebreak=["turn_idx"])
    plain = window_agg(transcripts, spec, AGGS, union=[archive], impl="kernel").toPandas()
    salted = window_agg_skewed(
        transcripts, spec, AGGS, quantiles=3, hot_threshold=50, union=[archive]
    ).toPandas()
    cols = [a.name for a in AGGS]
    p, s = _norm(plain, cols), _norm(salted, cols)
    assert len(p) == len(s)
    for c in cols:
        pn = pd.to_numeric(p[c], errors="coerce").astype(float).to_numpy()
        sn = pd.to_numeric(s[c], errors="coerce").astype(float).to_numpy()
        assert np.allclose(pn, sn, equal_nan=True), f"union col {c}"


def test_skewed_union_same_ts_rows_frame(spark, transcripts):
    """ROWS frame + WINDOW UNION with union rows at EXACTLY the primary
    rows' timestamps: the salted context-suffix ranking must be the
    exact reverse of buffer order (union rows buffer BEFORE primary at
    equal order keys), or the kept n-rows suffix diverges from the
    kernel (ADVICE r5: 4/240 rows wrong before the (-union) desc term —
    the +100000 tiebreak makes the wrong ordering visible)."""
    from pyspark.sql import functions as F

    spec = WindowSpec(["conv_id"], "ts", "rows", 7, tiebreak=["turn_idx"])
    archive_same_ts = transcripts.withColumn(
        "turn_idx", F.col("turn_idx") + 100000)
    plain = window_agg(
        transcripts, spec, AGGS, union=[archive_same_ts], impl="kernel").toPandas()
    salted = window_agg_skewed(
        transcripts, spec, AGGS, quantiles=3, hot_threshold=50,
        union=[archive_same_ts]).toPandas()
    cols = [a.name for a in AGGS]
    p, s = _norm(plain, cols), _norm(salted, cols)
    assert len(p) == len(s)
    for c in cols:
        pn = pd.to_numeric(p[c], errors="coerce").astype(float).to_numpy()
        sn = pd.to_numeric(s[c], errors="coerce").astype(float).to_numpy()
        assert np.allclose(pn, sn, equal_nan=True), f"same-ts union col {c}"


def test_salting_actually_splits(spark, transcripts):
    """The hot conversation must land in >1 bucket."""
    from openmldb_spark.operators.skew import _BUCKET, _order_ms_expr
    from openmldb_spark.operators.window import with_flags
    from pyspark.sql import functions as F

    spec = SPECS[0]
    work = with_flags(transcripts, None).withColumn("__oms__", _order_ms_expr(transcripts, "ts"))
    probs = [i / 3 for i in range(1, 3)]
    dist = (
        work.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n"), F.percentile_approx("__oms__", probs, 10_000).alias("__qs__"))
        .filter(F.col("n") >= 50)
        .select("conv_id", "__qs__")
    )
    tagged = work.join(F.broadcast(dist), on=["conv_id"], how="left")
    bucket = F.when(F.col("__qs__").isNull(), F.lit(0)).otherwise(
        F.aggregate(F.col("__qs__"), F.lit(0), lambda acc, q: acc + F.when(F.col("__oms__") > q, 1).otherwise(0))
    )
    nb = (
        tagged.withColumn("b", bucket)
        .filter(F.col("conv_id") == "conv_000000")
        .select("b").distinct().count()
    )
    assert nb >= 2


def test_salted_native_route_zero_python(spark, transcripts):
    """Native-expressible agg lists evaluate the salted (key, bucket)
    buffer with the JVM window — no Arrow/Python node in the plan (the
    kernel at 1 JVM thread + 1 Python worker per core is the measured
    scaling ceiling; see BENCH.md r5)."""
    spec = WindowSpec(["conv_id"], "ts", "rows", 7, tiebreak=["turn_idx"])
    out = window_agg_skewed(transcripts, spec, AGGS, quantiles=3, hot_threshold=50)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InArrow" not in plan and "ArrowEvalPython" not in plan, plan[:2000]


def test_salted_kernel_route_for_non_native(spark, transcripts):
    """Non-native aggregates (ew_avg) still take the kernel under
    salting and match the plain kernel."""
    spec = WindowSpec(["conv_id"], "ts", "rows", 7, tiebreak=["turn_idx"])
    aggs = [Agg("ew_avg", "turn_idx", "a_ew", n=5)]
    plain = window_agg(transcripts, spec, aggs, impl="kernel").toPandas()
    salted = window_agg_skewed(
        transcripts, spec, aggs, quantiles=3, hot_threshold=50
    ).toPandas()
    p, s = _norm(plain, ["a_ew"]), _norm(salted, ["a_ew"])
    pn = pd.to_numeric(p["a_ew"], errors="coerce").astype(float).to_numpy()
    sn = pd.to_numeric(s["a_ew"], errors="coerce").astype(float).to_numpy()
    assert np.allclose(pn, sn, equal_nan=True)


def _reads(df):
    """Cached, checkpointed and local relations a fresh plan of ``df``
    reads (a new Dataset re-runs the cache lookup)."""
    plan = df.select("*")._jdf.queryExecution().optimizedPlan().toString()
    return {n: plan.count(n) for n in ("InMemoryRelation", "LogicalRDD", "LocalRelation")}


def test_skewed_intermediates_outlive_later_calls(spark, transcripts):
    """Building more salted windows must not evict what an earlier,
    not yet run, result reads: its plan keeps every intermediate it read
    when built alone."""
    first = window_agg_skewed(transcripts, SPECS[0], AGGS, quantiles=3, hot_threshold=50)
    alone = _reads(first)
    later = [window_agg_skewed(
        transcripts, WindowSpec(["conv_id"], "ts", "rows", n, tiebreak=["turn_idx"]),
        AGGS, quantiles=3, hot_threshold=50) for n in (5, 9)]
    assert _reads(first) == alone
    assert all(_reads(x) == alone for x in later)


@pytest.mark.parametrize("spec_idx", [0, 1])
def test_union_regime_reads_exact_hot_rows(spark, monkeypatch, caplog, spec_idx):
    """With a WINDOW UNION the regime is decided from the hot key's rows
    in primary ∪ union, counted, not estimated from the primary side:
    here the union holds 4× the primary rows of the hot key, so only
    the exact count (100) reaches the BIG bound. The BIG plan equals
    the plain kernel."""
    import logging

    import openmldb_spark.operators.skew as skew_mod

    monkeypatch.setattr(skew_mod, "_BIG_HOT_ROWS", 90)
    rows = [("h", i * 60_000, i, i % 7) for i in range(20)]
    rows += [("c", i * 60_000, 100 + i, i % 3) for i in range(5)]
    urows = [("h", i * 15_000 + 7, 200 + i, i % 5) for i in range(80)]
    urows += [("c", i * 30_000 + 3, 300 + i, i % 2) for i in range(5)]
    schema = "conv_id string, ts long, turn_idx long, tool long"
    df = spark.createDataFrame(rows, schema)
    union = [spark.createDataFrame(urows, schema)]
    spec = SPECS[spec_idx]
    aggs = [Agg("count", None, "a_cnt"), Agg("sum", "turn_idx", "a_sum"),
            Agg("distinct_count", "tool", "a_dt")]
    with caplog.at_level(logging.INFO, logger="openmldb_spark"):
        salted = window_agg_skewed(df, spec, aggs, quantiles=3, hot_threshold=50,
                                   union=union).toPandas()
    msgs = [r.getMessage() for r in caplog.records if r.getMessage().startswith("skew ")]
    assert len(msgs) == 1 and msgs[0].startswith("skew ['conv_id']: salted ")
    assert msgs[0].endswith(", BIG (1 hot keys, 100 hot rows)")
    plain = window_agg(df, spec, aggs, union=union, impl="kernel").toPandas()
    cols = [a.name for a in aggs]
    p, s = _norm(plain, cols), _norm(salted, cols)
    assert len(p) == len(s) == 25
    for c in cols:
        assert p[c].tolist() == s[c].tolist(), f"spec {spec_idx} col {c}"


def test_cold_route_logged(spark, transcripts, caplog):
    import logging

    spec = SPECS[0]
    with caplog.at_level(logging.INFO, logger="openmldb_spark"):
        window_agg_skewed(transcripts, spec, AGGS, quantiles=3, hot_threshold=10**9)
    msgs = [r.getMessage() for r in caplog.records if r.getMessage().startswith("skew ")]
    assert msgs == ["skew ['conv_id']: cold → native (0 hot keys ≥ 1000000000)"]
