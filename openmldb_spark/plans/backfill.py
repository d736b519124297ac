"""Point-in-time feature-vector backfill.

The batch analogue of the reference's online request mode (survey
§3.2): instead of one request row triggering a point-in-time window
over stored history, we compute the feature vector at EVERY
(entity, anchor-ts) row of the primary table — identical semantics,
one distributed pass. Zero temporal leakage by construction: every
frame only contains rows with ``ts <= anchor`` (strict under
EXCLUDE CURRENT_TIME / OPEN), which tests assert.

A backfill = optional as-of enrichment (LAST JOIN dimension tables) +
optional sessionization + one pass per feature window (+ optional
WINDOW UNION history tables), composed from the engine's operators so
the whole plan stays lazy and Catalyst-optimizable. Where the reference
evaluates each window as its own repartition + sort and stitches the
results back with a row-index join (WindowAggPlan.scala:52-189,
SparkPlanner.scala:101-137), every pass here runs inside ONE hash
exchange on the key all passes share (see ``backfill_features``).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass

from pyspark.sql import DataFrame

from openmldb_spark.operators.last_join import _union_asof_join, last_join
from openmldb_spark.operators.sessionize import sessionize
from openmldb_spark.operators.window import (
    Agg,
    WindowSpec,
    _native_expressible,
    canonicalize_spec,
    kernel_columns,
    window_agg,
    window_route,
)

__all__ = ["AsOfSource", "FeatureWindow", "backfill_features"]

_log = logging.getLogger("openmldb_spark")


@dataclass
class AsOfSource:
    """A dimension table joined point-in-time (LAST JOIN)."""

    df: DataFrame
    on: list[str]
    right_ts: str
    prefix: str | None = None
    how: str = "auto"


@dataclass
class FeatureWindow:
    """One window spec + the aggregates computed over it.

    ``skew=True`` routes through the salted kernel (operators/skew.py):
    hot keys' timelines split into ``skew_quantiles`` buckets with
    frame-context replication — required whenever a single key can hold
    a task-dominating share of rows (the 10%-hot-conversation shape).
    """

    spec: WindowSpec
    aggs: list[Agg]
    union: list[DataFrame] | None = None
    impl: str = "auto"
    skew: bool = False
    skew_quantiles: int = 8
    skew_hot_threshold: int = 100_000
    # unique row identity (e.g. (conv_id, turn_idx)) — lets the native
    # distinct_count event plan (large/unbounded ROWS frames) run on a
    # projection without payload columns and join its features back
    # (window_agg row_key); the kernel route never needs it
    row_key: list[str] | None = None


def _uses_kernel(fw: FeatureWindow, df: DataFrame) -> bool:
    """Whether the window's plan ends in the Arrow kernel (mapInArrow)."""
    if not fw.skew:
        return window_route(df, fw.spec, fw.aggs, fw.union, fw.impl) == "kernel"
    # window_agg_skewed: long-window, cold-native or salted-native when
    # Catalyst expresses the frame, else the salted kernel
    return (window_route(df, fw.spec, fw.aggs) != "long_window"
            and not _native_expressible(canonicalize_spec(fw.spec), fw.aggs, None, df))


def _shared_key(windows, asof, session_keys) -> list[str]:
    """The partition-key columns every pass shares, in first-seen order."""
    sets = [list(fw.spec.partition_by) for fw in windows]
    sets += [[k if isinstance(k, str) else k[0] for k in src.on] for src in asof]
    if session_keys:
        sets.append(session_keys)
    if not sets:
        return []
    return [k for k in sets[0] if all(k in s for s in sets[1:])]


def backfill_features(
    primary: DataFrame,
    anchor_ts: str,
    windows: list[FeatureWindow],
    asof: list[AsOfSource] | None = None,
    session_key: str | list[str] | None = None,
    session_gap: float = 1800.0,
    session_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Compute the full feature vector at every primary row.

    The primary ∪ as-of timeline hash-partitions ONCE on the key every
    pass shares, with an explicit ``repartition(n, key)`` (``n`` =
    ``spark.sql.shuffle.partitions``; AQE does not coalesce it). Every
    later pass runs inside that partitioning, in this order: as-of LAST
    JOIN → sessionize → native-route windows → kernel-route windows.
    Sessionize and the native windows share one sort, which the kernel's
    JVM sort equals, so the planner drops it. The kernel goes last
    because ``mapInArrow`` emits new attributes — a pass after it would
    shuffle again. Windows may read the as-of and session columns.
    Windows keep their declared order when one reads another's output.
    The output columns are: primary, window features, as-of, session.

    The decision (shared key, ``n``, each window's route) is logged on
    the ``openmldb_spark`` logger.
    """
    asof = asof or []
    session_keys = [session_key] if isinstance(session_key, str) else list(session_key or [])
    shared = _shared_key(windows, asof, session_keys)
    n = int(primary.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    out = primary
    exchanged = False
    for src in asof:
        if src.how in ("auto", "union_asof") and shared and not exchanged:
            keys = [(k, k) if isinstance(k, str) else tuple(k) for k in src.on]
            out = _union_asof_join(out, src.df, keys, anchor_ts, src.right_ts,
                                   False, src.prefix, exchange=(n, shared))
            exchanged = True
            continue
        out = last_join(
            out,
            src.df,
            on=src.on,
            order_by=src.right_ts,
            asof_left_ts=anchor_ts,
            asof_right_ts=src.right_ts,
            how=src.how,
            right_prefix=src.prefix,
        )
    if shared and not exchanged:
        out = out.repartition(n, *shared)
    asof_cols = [c for c in out.columns if c not in primary.columns]
    if session_key is not None:
        out = sessionize(
            out, session_key, anchor_ts, gap=session_gap, tiebreak=session_tiebreak
        )
    session_cols = [c for c in out.columns if c not in primary.columns and c not in asof_cols]

    kernel = [_uses_kernel(fw, out) for fw in windows]
    produced = {a.name for fw in windows for a in fw.aggs}
    reads_features = any(kernel_columns(fw.spec, fw.aggs) & produced for fw in windows)
    order = list(range(len(windows)))
    if not reads_features:
        order.sort(key=lambda i: kernel[i])
    _log.info(
        "backfill: one exchange on %s (n=%d); native windows %s; kernel windows %s",
        shared or "none", n,
        [_describe(windows[i]) for i in order if not kernel[i]],
        [_describe(windows[i]) for i in order if kernel[i]])

    # ONE skew-statistics job per distinct (partition-key-set, union),
    # shared by every skewed window over it at the smallest of their hot
    # thresholds (the reference precomputes the same distribution via
    # openmldb.window.skew.opt.config — WindowAggPlan.scala:245-251);
    # without this, k skewed windows pay k statistics jobs
    stats: dict[tuple, DataFrame] = {}

    def stats_key(fw: FeatureWindow) -> tuple:
        return tuple(fw.spec.partition_by), tuple(map(id, fw.union or ()))

    for i in order:
        fw = windows[i]
        if fw.skew:
            from openmldb_spark.operators.skew import key_counts, window_agg_skewed

            sk = stats_key(fw)
            # a long-window route reads no statistics
            if sk not in stats and window_route(out, fw.spec, fw.aggs, fw.union) != "long_window":
                min_n = min(w.skew_hot_threshold for w in windows
                            if w.skew and stats_key(w) == sk)
                stats[sk] = key_counts(primary, list(sk[0]), min_n, fw.union)
            out = window_agg_skewed(
                out, fw.spec, fw.aggs,
                quantiles=fw.skew_quantiles,
                hot_threshold=fw.skew_hot_threshold,
                union=fw.union,
                row_key=fw.row_key,
                key_stats=stats.get(sk),
            )
        else:
            out = window_agg(out, fw.spec, fw.aggs, union=fw.union, impl=fw.impl,
                             row_key=fw.row_key)
    features = [a.name for fw in windows for a in fw.aggs]
    return out.select(*primary.columns, *features, *asof_cols, *session_cols)


def _describe(fw: FeatureWindow) -> str:
    s = fw.spec
    return f"{s.frame} {s.preceding} [{', '.join(a.name for a in fw.aggs)}]"
