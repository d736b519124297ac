"""Hot-key skew mitigation for per-key ordered window aggregation.

Reimplements the reference's window skew optimization
(``java/openmldb-batch/.../nodes/WindowAggPlan.scala:201-316`` +
``utils/SkewDataFrameUtils.scala``; survey §4.3) with native Spark
primitives:

1. **Detect** hot keys by per-key row counts (partial-aggregated, one
   job). The keys at or over the threshold are collected into a local
   relation, which decides the route (cold → native, salted
   BIG or SMALL regime from the exact hot-row count) and is broadcast
   back as the hot-key side of the salting joins.
2. **Slice** each hot key's timeline into ``q`` buckets by
   ``percentile_approx`` of the order key (time-quantile salting).
3. **Expand** context: each bucket i also receives the *frame-relevant*
   suffix of earlier buckets — bounded by the frame extent when finite
   (ROWS n → n newest rows per earlier bucket; ROWS_RANGE o → rows
   within o ms of the bucket boundary), full history only for unbounded
   frames — tagged ``emit=false`` so they buffer into frames but are
   never emitted (reference: ``expandedFlag``,
   ``WindowAggPlan.scala:531-541``).
4. **Compute** per (key, bucket) with the same kernel as window_agg.

In the BIG regime the intermediates the plan reads more than once (the
spread hot subset, the ROWS context suffix) are local checkpoints: they
live exactly as long as the returned DataFrame, and no module state
tracks them.

AQE's skew handling cannot fix per-key *ordered window* skew (the whole
key must otherwise be seen by one task), so this operator is what keeps
a 10%-hot-conversation transcript table scalable at 10^12 turns.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from openmldb_spark.operators.window import (
    _EMIT,
    Agg,
    WindowSpec,
    format_int_cols,
    make_kernel,
    result_schema,
    with_flags,
)

__all__ = ["window_agg_skewed", "key_counts"]

_BUCKET = "__skew_bucket__"
# hot rows from which the salted plan spreads and materializes the hot
# subset before expanding it (the BIG regime below)
_BIG_HOT_ROWS = 2_000_000

_log = logging.getLogger("openmldb_spark")


def key_counts(df: DataFrame, keys: list[str], min_n: int,
               union: list[DataFrame] | None = None) -> DataFrame:
    """The skew statistics: ``(*keys, __n__)`` for every key with at
    least ``min_n`` rows in ``df`` ∪ ``union``, collected by one job into
    a local relation (the hot keys are few by construction; the salted
    plan broadcasts them). Compute once and pass to several
    ``window_agg_skewed`` calls (or ``backfill_features`` windows) via
    ``key_stats=`` with ``min_n`` the smallest ``hot_threshold`` among
    them, so a k-window plan runs ONE statistics job instead of k — the
    batch analogue of the reference's precomputed
    ``openmldb.window.skew.opt.config`` distribution table
    (WindowAggPlan.scala:245-251)."""
    src = df.select(*keys)
    for u in union or []:
        src = src.unionByName(u.select(*keys))
    counts = (src.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n__"))
              .filter(F.col("__n__") >= min_n))._jdf
    spark = df.sparkSession
    local = spark._jsparkSession.createDataFrame(counts.collectAsList(), counts.schema())
    return DataFrame(local, spark)


def _order_ms_expr(df: DataFrame, order_by: str):
    dt = df.schema[order_by].dataType
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return (F.unix_micros(F.col(order_by).cast("timestamp")) / 1000).cast("long")
    return F.col(order_by).cast("long")


def window_agg_skewed(
    df: DataFrame,
    spec: WindowSpec,
    aggs: list[Agg],
    quantiles: int = 4,
    hot_threshold: int = 100_000,
    union: list[DataFrame] | None = None,
    row_key: list[str] | None = None,
    native_when_cold: bool = True,
    key_stats: DataFrame | None = None,
    bounded_impl: str = "salted",
) -> DataFrame:
    """``window_agg(impl='kernel')`` with time-quantile salting of hot
    keys; output identical, physical partitioning finer for hot keys.

    UNBOUNDED frames whose aggregates are ALL decomposable skip the
    salted expansion entirely: the context copies would be O(quantiles
    × hot rows), while ``long_window_agg``'s bucketed carry is O(rows)
    and inherently skew-free (VERDICT r2 #5). Mixed lists stay salted —
    the expansion is needed for the non-decomposable aggregates
    regardless, so a split would only add an extra full pass.

    ``row_key`` (unique row identity) reaches only the cold native
    route, where window_agg uses it for the distinct_count event plan;
    the salted kernel passes payload columns through its Arrow boundary.

    ``key_stats``: precomputed statistics (``key_counts`` over ``df`` ∪
    ``union`` with ``min_n`` ≤ ``hot_threshold``) shared across calls —
    replaces this call's own statistics job, so a k-window backfill pays
    for ONE distribution job (the reference's
    ``openmldb.window.skew.opt.config`` pattern).

    The route decision (cold → native, or salted native|kernel in the
    BIG|SMALL regime, with the hot-key and hot-row counts it read) is
    logged on the ``openmldb_spark`` logger."""
    from openmldb_spark.operators.window import canonicalize_spec

    spec = canonicalize_spec(spec)
    keys = list(spec.partition_by)

    if spec.preceding is None and not union:
        from openmldb_spark.operators.long_window import (
            long_window_agg, long_window_eligible, rewrite_unbounded_distinct_count)

        df2, aggs2 = rewrite_unbounded_distinct_count(df, spec, aggs)
        if long_window_eligible(spec, aggs2, union, df2):
            out = long_window_agg(df2, spec, aggs2)
            return out.select(*df.columns, *[a.name for a in aggs])

    if bounded_impl == "subtract" and spec.preceding is not None and not union:
        from openmldb_spark.operators.long_window import (
            bounded_range_eligible, long_window_agg_bounded)

        if bounded_range_eligible(spec, aggs, union, df):
            # OPT-IN bounded ROWS_RANGE prefix-subtraction plan:
            # (key, bucket)-parallel, zero replication, zero Python —
            # the plan for the regime where ONE key exceeds what a
            # single task can sort (10^12-turn conversations), where
            # neither the native single-exchange window (one task owns
            # the key) nor salting (O(quantiles × frame) context
            # copies through the Python pipe) holds up. NOT the
            # default: measured on this host class its extra full-data
            # sorts lose to the single-sort native plan and to the
            # salted kernel up through ~10^7-row keys (BENCH.md r5) —
            # it wins only past single-task capacity.
            # bucket width: the frame extent, capped at 1h.
            return long_window_agg_bounded(
                df, spec, aggs,
                bucket_ms=min(max(int(spec.preceding), 1), 3_600_000))

    # the skew decision reads the collected statistics locally
    # (the analogue of the reference's skew-config table): when NO key
    # reaches hot_threshold, salting buys nothing and the pure-JVM
    # native window plan (zero Python, whole-stage codegen) is strictly
    # better
    from openmldb_spark.operators.window import _native_expressible, window_agg

    counts = key_stats if key_stats is not None else key_counts(df, keys, hot_threshold, union)
    hot_stats = counts.filter(F.col("__n__") >= hot_threshold)
    hot_ns = [r[0] for r in hot_stats.select("__n__").collect()]
    hot_rows = sum(hot_ns)
    if native_when_cold and not union and not hot_ns and _native_expressible(spec, aggs, union, df):
        _log.info("skew %s: cold → native (0 hot keys ≥ %d)", keys, hot_threshold)
        return window_agg(df, spec, aggs, impl="native", row_key=row_key)

    work = with_flags(df, union).withColumn("__oms__", _order_ms_expr(df, spec.order_by))

    # 1. distribution analysis: the percentile sketch runs over the hot
    # keys' rows only (sketching every key's timeline would not be cheap)
    probs = [i / quantiles for i in range(1, quantiles)]
    dist = (
        work.join(F.broadcast(hot_stats.select(*keys)), on=keys, how="left_semi")
        .groupBy(*keys)
        .agg(F.percentile_approx("__oms__", probs, 1_000).alias("__qs__"))
    )

    tagged = work.join(F.broadcast(dist), on=keys, how="left")

    # 2. bucket id = #quantile boundaries strictly below the order key
    # (cold keys → bucket 0). Same-ts rows always share a bucket.
    bucket = F.when(F.col("__qs__").isNull(), F.lit(0)).otherwise(
        F.aggregate(
            F.col("__qs__"),
            F.lit(0),
            lambda acc, q: acc + F.when(F.col("__oms__") > q, 1).otherwise(0),
        )
    )
    tagged = tagged.withColumn(_BUCKET, bucket.cast("int"))

    # 3. context expansion (emit=0 copies into later buckets). Copies
    # derive from the HOT subset only. Two regimes, decided by the exact
    # hot-row count from the statistics:
    # - BIG: repartition the hot subset by (key, bucket) (a hot key's
    #   rows sit contiguously in source files, so an unspread subset
    #   serializes every consumer on one scan task) and checkpoint it
    #   NOW — the q-1 expansion branches below are siblings of one union
    #   and would otherwise EACH re-scan the full input behind the hot
    #   straggler task (measured: 7 extra full-table stages at q=8, 42M
    #   rows). The eager job is bounded (hot rows only).
    # - SMALL: the redundant branch scans cost less than the extra
    #   shuffle + eager jobs' fixed latency — keep the single-pass lazy
    #   plan with no barrier (measured: the eager plan is ~2x flagship
    #   latency at 660k rows, BENCH.md r5; a lazy checkpoint still runs
    #   its map stages at build time — 3 → 6 build jobs on a ROWS_RANGE
    #   and 2 → 6 on a ROWS skewed window over sf0.01 events, local[4] —
    #   and was no faster built and run).
    # A local checkpoint lives as long as the DataFrame that reads it:
    # Spark's ContextCleaner drops its blocks once the result is gone.
    big = hot_rows >= _BIG_HOT_ROWS
    hot = tagged.filter(F.col("__qs__").isNotNull())
    if big:
        hot = hot.repartition(*keys, _BUCKET).localCheckpoint(eager=True)
    copies = []
    if spec.preceding is None:
        for i in range(1, quantiles):
            copies.append(
                hot.filter(F.col(_BUCKET) < i)
                .withColumn(_BUCKET, F.lit(i))
                .withColumn(_EMIT, F.lit(0))
            )
    elif spec.frame == "rows_range":
        ext = int(spec.preceding)
        for i in range(1, quantiles):
            qi = F.element_at(F.col("__qs__"), i)  # boundary below bucket i
            copies.append(
                hot.filter(
                    (F.col(_BUCKET) < i) & (F.col("__oms__") >= qi - F.lit(ext))
                )
                .withColumn(_BUCKET, F.lit(i))
                .withColumn(_EMIT, F.lit(0))
            )
    else:  # ROWS n: the n newest rows of each earlier bucket suffice;
        # lag/at are buffer-positional and ignore the frame bound, so
        # the replication depth must also cover the largest lag offset
        from pyspark.sql import Window as W

        max_lag = max((a.n for a in aggs if a.func in ("lag", "at")), default=0)
        n_rows = max(int(spec.preceding), max_lag)
        from openmldb_spark.operators.window import _UNION as _U

        # exact reverse of kernel buffer order (order, union-first,
        # tiebreak): at equal order keys union rows buffer BEFORE
        # primary rows, so ranked newest-first they come AFTER — without
        # the (-union) desc term the n-rows context suffix kept the
        # wrong rows on same-ts union data (ADVICE r5, 4/240 rows wrong)
        wdesc = W.partitionBy(*keys, _BUCKET).orderBy(
            F.col("__oms__").desc(), (-F.col(_U)).desc(),
            *[F.col(c).desc() for c in spec.tiebreak]
        )
        # ONE ranked window over the hot subset keeps the per-bucket
        # context suffix (≤ n_rows × buckets × hot keys — tiny); BIG
        # checkpoints it so the q-1 branches are filters on a small
        # materialized table instead of q-1 window recomputations
        ctx = (hot.withColumn("__rk__", F.row_number().over(wdesc))
               .filter(F.col("__rk__") <= n_rows).drop("__rk__"))
        if big:
            ctx = ctx.localCheckpoint(eager=True)
        for i in range(1, quantiles):
            copies.append(
                ctx.filter(F.col(_BUCKET) < i)
                .withColumn(_BUCKET, F.lit(i))
                .withColumn(_EMIT, F.lit(0))
            )
    # BIG regime: primary buffer = cold rows straight off the scan (the
    # hot file's scan task filters to nothing) ∪ hot rows from the
    # spread checkpoint — no union branch funnels the hot key through a
    # single source task. SMALL: single-pass tagged scan.
    expanded = (tagged.filter(F.col("__qs__").isNull()).unionByName(hot)
                if big else tagged)
    for c in copies:
        expanded = expanded.unionByName(c)
    expanded = expanded.drop("__qs__", "__oms__")

    # 4a. native salted plan: when every aggregate lowers to Catalyst,
    # evaluate the SAME expanded (key, bucket) buffer with the JVM
    # window — emit=0 context rows feed frames (rowsBetween counts all
    # buffer rows, exactly the kernel's contract) and are filtered from
    # the output. The salting still breaks the one-task-per-hot-key
    # sort; the per-bucket evaluation stays in whole-stage codegen
    # instead of 1 JVM thread + 1 Python worker per core (measured: the
    # Arrow↔Python kernel is the scaling ceiling at 32 cores).
    from dataclasses import replace as _dc_replace

    from openmldb_spark.operators.window import _UNION, _native_window_agg

    spec_b = _dc_replace(
        spec, partition_by=tuple(keys) + (_BUCKET,),
        tiebreak=(("__negu__",) if union else ()) + tuple(spec.tiebreak))
    route = "native" if _native_expressible(spec_b, aggs, None, expanded) else "kernel"
    _log.info("skew %s: salted %s, %s (%d hot keys, %d hot rows)", keys, route,
              "BIG" if big else "SMALL", len(hot_ns), hot_rows)
    if route == "native":
        work_b = (expanded.withColumn("__negu__", -F.col(_UNION))
                  if union else expanded)
        out = _native_window_agg(work_b, spec_b, aggs)
        out = out.filter(F.col(_EMIT) == 1)
        return out.select(*df.columns, *[a.name for a in aggs])

    # 4b. per-(key, bucket) kernel — identical kernel, finer grouping
    from openmldb_spark.operators.window import (
        _session_tz, buffer_order, run_kernel_partitioned)

    result_fields, out_schema = result_schema(df, aggs)
    kernel = make_kernel(spec, aggs, list(df.columns), result_fields,
                         format_int_cols(df, aggs), keys=keys + [_BUCKET],
                         tz=_session_tz(df))
    return run_kernel_partitioned(expanded, keys + [_BUCKET], buffer_order(spec, bool(union)),
                                  kernel, out_schema)
