"""Long-window pre-aggregation vs the exact window kernel.

Parity gate: ``long_window_agg`` (bucketed partials + carry-in,
long_window_optimized.cc analogue) must match ``window_agg``'s
buffer-order results exactly — including duplicate timestamps, NULL
values, *_where conditions and integer sum wraparound.
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from openmldb_spark.operators.long_window import long_window_agg
from openmldb_spark.operators.window import Agg, WindowSpec, window_agg


def _random_df(spark, n=800, keys=7, seed=11):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        rows.append((
            i,
            f"k{rng.randrange(keys)}",
            rng.randrange(0, 50) * 1_000_000,  # ms ts with many duplicates
            None if rng.random() < 0.15 else rng.randrange(-100, 100),
            rng.random() < 0.5,
        ))
    return spark.createDataFrame(rows, "id int, k string, ts long, v int, cond boolean")


AGGS = [
    Agg("sum", "v", "s"),
    Agg("count", "v", "c"),
    Agg("count", None, "call"),
    Agg("avg", "v", "a"),
    Agg("min", "v", "mn"),
    Agg("max", "v", "mx"),
    Agg("sum_where", "v", "sw", cond="cond"),
    Agg("count_where", "v", "cw", cond="cond"),
]


@pytest.mark.parametrize("bucket_ms", [1_000_000, 7_000_000, 10_000_000_000])
def test_long_window_matches_kernel(spark, bucket_ms):
    df = _random_df(spark)
    spec = WindowSpec(["k"], "ts", "rows", None, tiebreak=["id"])
    exact = window_agg(df, spec, AGGS, impl="kernel").orderBy("id").toPandas()
    fast = long_window_agg(df, spec, AGGS, bucket_ms=bucket_ms).orderBy("id").toPandas()
    assert list(exact.columns) == list(fast.columns)
    for col in ("s", "c", "call", "a", "mn", "mx", "sw", "cw"):
        for i in range(len(exact)):
            e, g = exact[col].iloc[i], fast[col].iloc[i]
            en = e is None or (isinstance(e, float) and math.isnan(e)) or e != e
            gn = g is None or (isinstance(g, float) and math.isnan(g)) or g != g
            assert en == gn, f"{col} row {i}: {e!r} vs {g!r}"
            if not en:
                assert float(e) == pytest.approx(float(g), abs=1e-9), f"{col} row {i}"


def test_long_window_rejects_bounded_and_nondecomposable(spark):
    df = _random_df(spark, n=10)
    with pytest.raises(ValueError, match="UNBOUNDED"):
        long_window_agg(df, WindowSpec(["k"], "ts", "rows", 5), [Agg("sum", "v", "s")])
    with pytest.raises(ValueError, match="non-decomposable"):
        long_window_agg(df, WindowSpec(["k"], "ts", "rows", None),
                        [Agg("distinct_count", "v", "d")])


def test_auto_routes_unbounded_decomposable_to_preagg(spark):
    """window_agg(impl='auto') and window_agg_skewed pick the 0-Python
    pre-agg plan for plain UNBOUNDED frames with decomposable
    aggregates (VERDICT r2 #5) — and results still match the kernel."""
    from openmldb_spark.operators.skew import window_agg_skewed

    df = _random_df(spark, n=300)
    spec = WindowSpec(["k"], "ts", "rows", None, tiebreak=["id"])
    sub = [Agg("sum", "v", "s"), Agg("avg", "v", "a"), Agg("count", None, "c")]
    exact = window_agg(df, spec, sub, impl="kernel").orderBy("id").toPandas()
    for out in (window_agg(df, spec, sub, impl="auto"),
                window_agg_skewed(df, spec, sub, quantiles=3, hot_threshold=10)):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "InArrow" not in plan and "Python" not in plan
        got = out.orderBy("id").toPandas()
        for col in ("s", "a", "c"):
            for i in range(len(exact)):
                e, g = exact[col].iloc[i], got[col].iloc[i]
                en = e is None or e != e
                gn = g is None or g != g
                assert en == gn, f"{col} row {i}: {e!r} vs {g!r}"
                if not en:
                    assert float(e) == pytest.approx(float(g), abs=1e-9)


def test_auto_keeps_kernel_for_mixed_aggs(spark):
    """A kernel-only aggregate (entropy) keeps the whole list on the
    kernel (one buffered pass beats kernel + an extra pre-agg pass);
    sum + distinct_count routes NATIVE (event-difference dc plan)."""
    df = _random_df(spark, n=100)
    spec = WindowSpec(["k"], "ts", "rows", None, tiebreak=["id"])
    out = window_agg(df, spec, [Agg("sum", "v", "s"),
                                Agg("entropy", "v", "e")], impl="auto")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    out2 = window_agg(df, spec, [Agg("sum", "v", "s"),
                                 Agg("distinct_count", "v", "d")], impl="auto")
    plan2 = out2._jdf.queryExecution().executedPlan().toString()
    assert "InArrow" not in plan2


def test_long_window_plan_is_native(spark):
    """Zero Python nodes — the whole pre-agg + carry + running-window
    plan stays in Catalyst/whole-stage codegen."""
    df = _random_df(spark, n=50)
    spec = WindowSpec(["k"], "ts", "rows", None, tiebreak=["id"])
    out = long_window_agg(df, spec, [Agg("sum", "v", "s")])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "MapInArrow" not in plan


BOUNDED_AGGS = [
    Agg("sum", "v", "s"),
    Agg("count", "v", "c"),
    Agg("count", None, "call"),
    Agg("avg", "v", "a"),
    Agg("sum_where", "v", "sw", cond="cond"),
    Agg("count_where", "v", "cw", cond="cond"),
]


def _assert_frame_equal(exact, fast, cols):
    assert list(exact.columns) == list(fast.columns)
    for col in cols:
        for i in range(len(exact)):
            e, g = exact[col].iloc[i], fast[col].iloc[i]
            en = e is None or (isinstance(e, float) and math.isnan(e)) or e != e
            gn = g is None or (isinstance(g, float) and math.isnan(g)) or g != g
            assert en == gn, f"{col} row {i}: {e!r} vs {g!r}"
            if not en:
                assert float(e) == pytest.approx(float(g), abs=1e-9), f"{col} row {i}"


@pytest.mark.parametrize("delta,bucket_ms", [
    (5_000_000, 1_000_000),    # frame spans several buckets
    (5_000_000, 5_000_000),    # frame == bucket
    (5_000_000, 20_000_000),   # frame inside one bucket
    (800_000, 3_000_000),      # short frame, ties at bucket edges
    (0, 1_000_000),            # degenerate [t, t] frame (ties only)
])
def test_bounded_range_matches_kernel(spark, delta, bucket_ms):
    """Prefix-subtraction bounded ROWS_RANGE plan ≡ the kernel across
    duplicate-ts ties, NULL values, *_where masks, and bucket widths
    narrower/equal/wider than the frame."""
    from openmldb_spark.operators.long_window import long_window_agg_bounded

    df = _random_df(spark)
    spec = WindowSpec(["k"], "ts", "rows_range", delta, tiebreak=["id"])
    exact = window_agg(df, spec, BOUNDED_AGGS, impl="kernel").orderBy("id").toPandas()
    fast = long_window_agg_bounded(df, spec, BOUNDED_AGGS,
                                   bucket_ms=bucket_ms).orderBy("id").toPandas()
    _assert_frame_equal(exact, fast, ("s", "c", "call", "a", "sw", "cw"))


def test_bounded_range_int_wraparound(spark):
    """int32 sums wrap at the declared width through the subtraction."""
    from openmldb_spark.operators.long_window import long_window_agg_bounded

    rows = [(i, "k", i * 1000, 2_000_000_000) for i in range(8)]
    df = spark.createDataFrame(rows, "id int, k string, ts long, v int")
    spec = WindowSpec(["k"], "ts", "rows_range", 3000, tiebreak=["id"])
    exact = window_agg(df, spec, [Agg("sum", "v", "s")], impl="kernel") \
        .orderBy("id").toPandas()
    fast = long_window_agg_bounded(df, spec, [Agg("sum", "v", "s")],
                                   bucket_ms=2000).orderBy("id").toPandas()
    assert list(exact["s"]) == list(fast["s"])


def test_bounded_range_plan_native_and_routed(spark):
    """window_agg_skewed routes eligible bounded ROWS_RANGE aggregate
    lists to the subtraction plan — zero Python, no salted expansion."""
    from openmldb_spark.operators.skew import window_agg_skewed

    df = _random_df(spark, n=400)
    spec = WindowSpec(["k"], "ts", "rows_range", 5_000_000, tiebreak=["id"])
    out = window_agg_skewed(df, spec,
                            [Agg("sum", "v", "s"), Agg("count", None, "c")],
                            quantiles=4, hot_threshold=10,  # every key "hot"
                            native_when_cold=False, bounded_impl="subtract")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InArrow" not in plan
    exact = window_agg(df, spec, [Agg("sum", "v", "s"), Agg("count", None, "c")],
                       impl="kernel").orderBy("id").toPandas()
    _assert_frame_equal(exact, out.orderBy("id").toPandas(), ("s", "c"))
