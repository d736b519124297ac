"""backfill_features runs every pass off one hash exchange on the
shared key: the plan shape is pinned, and the rows equal those of the
composition that runs each operator on its own (windows, then the
as-of join, then sessionize)."""

from __future__ import annotations

import logging
import math
import re

import pytest
from pyspark.sql import functions as F

from openmldb_spark.operators.last_join import last_join
from openmldb_spark.operators.sessionize import sessionize
from openmldb_spark.operators.skew import window_agg_skewed
from openmldb_spark.operators.window import Agg, WindowSpec, window_agg
from openmldb_spark.plans.backfill import AsOfSource, FeatureWindow, backfill_features

HOUR_MS = 3_600_000


@pytest.fixture(scope="module")
def lcg(spark, tmp_path_factory):
    from openmldb_spark.data.lcg import generate_conv_meta_lcg, generate_transcripts_lcg

    d = tmp_path_factory.mktemp("lcg")
    generate_transcripts_lcg(spark, n_convs=40, avg_turns=25, seed=3).write.parquet(f"{d}/t")
    generate_conv_meta_lcg(spark, n_convs=40, seed=3).write.parquet(f"{d}/m")
    turns = spark.read.parquet(f"{d}/t").withColumn("__is_tool__", F.col("role") == "tool")
    return turns, spark.read.parquet(f"{d}/m")


def _windows(hot_threshold=100_000, skew_kernel=False, union=None):
    rows10 = FeatureWindow(
        spec=WindowSpec(["conv_id"], "ts", "rows", 10, tiebreak=["turn_idx"]),
        aggs=[Agg("count_where", "turn_idx", "n_tool_calls_10", cond="__is_tool__"),
              Agg("distinct_count", "tool", "n_distinct_tools_10"),
              Agg("lag", "tool", "prev_tool", n=1),
              Agg("lag", "role", "prev_role", n=1),
              Agg("count", None, "n_turns_10")],
        skew=True, skew_quantiles=4, skew_hot_threshold=hot_threshold,
        row_key=["conv_id", "turn_idx"])
    range1h = FeatureWindow(
        spec=WindowSpec(["conv_id"], "ts", "rows_range", HOUR_MS, tiebreak=["turn_idx"]),
        aggs=[Agg("entropy", "role", "role_entropy_1h"),
              Agg("ew_avg", "turn_idx", "turn_ew_avg_1h", param=0.5),
              Agg("avg_cate", "turn_idx", "turn_avg_by_role_1h", cate="role"),
              Agg("top_n_key_count_cate_where", "turn_idx", "top_tools_1h",
                  cond="__is_tool__", cate="tool", n=2)],
        skew=skew_kernel, skew_quantiles=4, skew_hot_threshold=hot_threshold,
        union=union, row_key=["conv_id", "turn_idx"])
    # declared first, but kernel-route: it must still run last
    return [range1h, rows10]


def _asof(meta):
    return [AsOfSource(meta, on=["conv_id"], right_ts="ts", prefix="m_", how="union_asof")]


def _composed(primary, windows, meta):
    """Each operator on its own, in the declared order of the windows."""
    out = primary
    for fw in windows:
        if fw.skew:
            out = window_agg_skewed(out, fw.spec, fw.aggs, quantiles=fw.skew_quantiles,
                                    hot_threshold=fw.skew_hot_threshold, union=fw.union)
        else:
            out = window_agg(out, fw.spec, fw.aggs, union=fw.union)
    out = last_join(out, meta, on=["conv_id"], order_by="ts", asof_left_ts="ts",
                    asof_right_ts="ts", how="union_asof", right_prefix="m_")
    return sessionize(out, "conv_id", "ts", gap=1800.0, tiebreak=["turn_idx"])


def _backfill(primary, windows, meta):
    return backfill_features(primary, "ts", windows, asof=_asof(meta), session_key="conv_id",
                             session_gap=1800.0, session_tiebreak=["turn_idx"])


def _assert_same_rows(got, want):
    assert got.columns == want.columns
    key = lambda r: (r["conv_id"], r["turn_idx"])  # noqa: E731
    a, b = sorted(got.collect(), key=key), sorted(want.collect(), key=key)
    assert len(a) == len(b) > 0
    for ra, rb in zip(a, b):
        for c in got.columns:
            x, y = ra[c], rb[c]
            if isinstance(x, float) and isinstance(y, float):
                assert math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9), (c, ra, rb)
            else:
                assert x == y, (c, ra, rb)


def test_benchmark_shaped_plan_has_one_exchange(lcg):
    turns, meta = lcg
    out = _backfill(turns, _windows(), meta)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # the plan that ran
    lines = plan.splitlines()
    sort = re.compile(r"^[\s:+-]*(\*\(\d+\) )?Sort \[")
    assert sum("Exchange hashpartitioning" in ln for ln in lines) == 1, plan
    assert "BroadcastExchange" not in plan, plan
    # the as-of join's sort, and one sort shared by sessionize, the
    # native window and the kernel
    assert sum(bool(sort.match(ln)) for ln in lines) == 2, plan
    i = next(i for i, ln in enumerate(lines) if "MapInArrow" in ln)
    assert not sort.match(lines[i + 1]), plan


def test_benchmark_shaped_rows_match_composition(lcg):
    turns, meta = lcg
    ws = _windows()
    _assert_same_rows(_backfill(turns, ws, meta), _composed(turns, ws, meta))


def test_hot_key_salted_backfill_matches_composition(lcg):
    turns, meta = lcg
    # LCG conversation 0 holds ~10% of the turns: hot at this threshold
    ws = _windows(hot_threshold=60, skew_kernel=True)
    got = _backfill(turns, ws, meta)
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert "__skew_bucket__" in plan and "MapInArrow" in plan
    _assert_same_rows(got, _composed(turns, ws, meta))


def test_window_union_backfill_matches_composition(lcg):
    turns, meta = lcg
    archive = (turns.filter(F.col("turn_idx") % 3 == 0)
               .withColumn("ts", F.col("ts") - F.expr("INTERVAL 20 MINUTES")))
    ws = _windows(union=[archive])
    _assert_same_rows(_backfill(turns, ws, meta), _composed(turns, ws, meta))


def test_backfill_logs_its_decision(lcg, caplog):
    turns, meta = lcg
    with caplog.at_level(logging.INFO, logger="openmldb_spark"):
        _backfill(turns, _windows(), meta)
    msg = next(r.getMessage() for r in caplog.records if r.getMessage().startswith("backfill:"))
    assert "one exchange on ['conv_id'] (n=4)" in msg
    native, kernel = msg.split("; native windows ")[1].split("; kernel windows ")
    assert "n_tool_calls_10" in native and "role_entropy_1h" not in native
    assert "role_entropy_1h" in kernel and "n_tool_calls_10" not in kernel
