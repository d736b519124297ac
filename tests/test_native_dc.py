"""Native (pure-JVM) exact distinct_count for ROWS frames — the
event-difference plan — against the kernel, plus its row_key payload
bypass and the cold-path native routing in window_agg_skewed."""

from __future__ import annotations

import random

import pandas as pd
import pytest

from openmldb_spark.operators.skew import window_agg_skewed
from openmldb_spark.operators.window import Agg, WindowSpec, window_agg


def _df(spark, n=700, keys=5, seed=4):
    rng = random.Random(seed)
    rows = [(i, f"k{rng.randrange(keys)}", rng.randrange(40) * 1000,
             None if rng.random() < 0.2 else rng.randrange(7),
             None if rng.random() < 0.25 else f"t{rng.randrange(5)}",
             f"payload-{i}" * 4) for i in range(n)]
    return spark.createDataFrame(
        rows, "id int, k string, ts long, v int, tool string, text string")


AGGS = [Agg("distinct_count", "v", "dv"),
        Agg("distinct_count", "tool", "dt"),
        Agg("count_where", "v", "cw", cond="__c__"),
        Agg("lag", "tool", "lt", n=1),
        Agg("stddev", "v", "sd")]


@pytest.mark.parametrize("prec", [3, 10, None])
def test_native_dc_matches_kernel(spark, prec):
    from pyspark.sql import functions as F

    df = _df(spark).withColumn("__c__", F.col("v") > 2)
    spec = WindowSpec(["k"], "ts", "rows", prec, tiebreak=["id"])
    a = window_agg(df, spec, AGGS, impl="kernel").orderBy("id").toPandas()
    b = window_agg(df, spec, AGGS, impl="native").orderBy("id").toPandas()
    assert list(a.columns) == list(b.columns)
    for c in ("dv", "dt", "cw", "lt"):
        pd.testing.assert_series_equal(a[c], b[c], check_dtype=False)
    import numpy as np

    np.testing.assert_allclose(
        pd.to_numeric(a["sd"]).to_numpy(dtype=float),
        pd.to_numeric(b["sd"]).to_numpy(dtype=float), rtol=1e-6, atol=1e-6,
        equal_nan=True)
    plan = window_agg(df, spec, AGGS, impl="auto")._jdf \
        .queryExecution().executedPlan().toString()
    assert "InArrow" not in plan  # auto picks the zero-Python plan


def test_skewed_cold_path_goes_native(spark):
    """No key near hot_threshold → window_agg_skewed's statistics probe
    selects the plain native plan; a hot key salts into (key, bucket)
    buffers but — for native-expressible aggregates — still evaluates
    them with the JVM window (zero Python either way)."""
    df = _df(spark, n=400)
    spec = WindowSpec(["k"], "ts", "rows", 5, tiebreak=["id"])
    aggs = [Agg("distinct_count", "v", "dv"), Agg("count", None, "c")]
    cold = window_agg_skewed(df, spec, aggs, quantiles=3, hot_threshold=10_000)
    assert "InArrow" not in cold._jdf.queryExecution().executedPlan().toString()
    hot = window_agg_skewed(df, spec, aggs, quantiles=3, hot_threshold=10)
    assert "InArrow" not in hot._jdf.queryExecution().executedPlan().toString()
    a = cold.orderBy("id").toPandas()
    b = hot.orderBy("id").toPandas()
    for c in ("dv", "c"):
        pd.testing.assert_series_equal(a[c], b[c], check_dtype=False)


def test_row_key_payload_bypass_identical(spark):
    """row_key: the native distinct_count event plan (unbounded or
    >256-row frames) runs on a projection without the text payload and
    joins its features back — output identical to the full-frame plan.
    The kernel route accepts row_key but needs no join-back."""
    df = _df(spark, n=300)
    spec = WindowSpec(["k"], "ts", "rows", None, tiebreak=["id"])
    aggs = [Agg("distinct_count", "tool", "d"), Agg("sum", "v", "s")]
    a = window_agg(df, spec, aggs, impl="native").orderBy("id").toPandas()
    slim = window_agg(df, spec, aggs, impl="native", row_key=["id"])
    assert "Join" in slim._jdf.queryExecution().optimizedPlan().toString()
    b = slim.orderBy("id").toPandas()
    assert list(a.columns) == list(b.columns)
    pd.testing.assert_frame_equal(a, b)
    spec4 = WindowSpec(["k"], "ts", "rows", 4, tiebreak=["id"])
    ker = window_agg(df, spec4, [Agg("entropy", "tool", "e")], impl="kernel", row_key=["id"])
    assert "Join" not in ker._jdf.queryExecution().optimizedPlan().toString()
