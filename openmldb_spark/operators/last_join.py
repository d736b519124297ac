"""LAST JOIN — point-in-time / as-of left join.

Semantics (reference ``docs/en/openmldb_sql/dql/JOIN_CLAUSE.md``;
offline algorithm ``java/openmldb-batch/.../nodes/JoinPlan.scala:163-204``):
every left row produces exactly one output row; among right rows that
satisfy the equi keys + residual condition, keep the one with the
**maximum ORDER BY value** (ties broken deterministically by the
largest tiebreak). Without ORDER BY, an arbitrary single match is kept
(we make it deterministic: max tiebreak). Unmatched left rows keep
NULL right columns. The canonical point-in-time shape is
``condition = right.ts <= left.ts`` + ``order_by = right.ts``.

Three physical strategies (survey §7.1-3), selectable or auto:

- ``broadcast`` — small right side: broadcast hash join + one
  row_number partition-by-left-row. No shuffle of the left table.
- ``shuffle`` — shuffle hash/sort-merge join on the equi keys +
  row_number reduction (DataFrame form of the reference's
  ``reduceByKey`` keep-max, JoinPlan.scala:176-196). Robust default;
  the join explodes |left_key_rows| × |right_key_rows| before reducing,
  so it degrades on hot keys with many right versions.
- ``union_asof`` — both sides unioned into one per-key timeline and
  the newest right row carried forward by a native window: one
  shuffle, one sort, no row explosion, no Python. The default for the
  point-in-time shape.

All strategies stay JVM-side — no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["last_join"]

_LIDX = "__left_row_id__"


def last_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | list[tuple[str, str]],
    order_by: str | None = None,
    condition: Column | None = None,
    asof_left_ts: str | None = None,
    asof_right_ts: str | None = None,
    strict: bool = False,
    how: str = "auto",  # 'auto' | 'broadcast' | 'shuffle' | 'union_asof'
    right_prefix: str | None = None,
    prefix_keys: bool = False,
    pick: str = "max",  # 'max' (ordered LAST JOIN) | 'min' (storage-order semantics)
) -> DataFrame:
    """LAST JOIN ``right`` onto ``left``.

    Args:
        on: equi-join keys — column names present in both sides, or
            (left_col, right_col) pairs.
        order_by: right-side column whose max picks the surviving match.
        condition: extra residual predicate over the joined columns
            (only for broadcast/shuffle strategies).
        asof_left_ts/asof_right_ts: sugar for the point-in-time
            condition ``right.ts <= left.ts`` (strict: ``<``); required
            by the union_asof strategy, implied condition for others.
        right_prefix: rename right output columns with this prefix to
            avoid collisions (key columns are not duplicated).
    """
    if how not in ("auto", "broadcast", "shuffle", "union_asof"):
        raise ValueError(f"unknown last_join strategy {how!r}")
    keys = [(k, k) if isinstance(k, str) else tuple(k) for k in on]
    if how == "auto":
        if asof_left_ts and order_by in (None, asof_right_ts) and condition is None:
            how = "union_asof"
        else:
            how = "shuffle"
    if how == "union_asof":
        if not (asof_left_ts and asof_right_ts):
            raise ValueError("union_asof strategy needs asof_left_ts/asof_right_ts")
        return _union_asof_join(left, right, keys, asof_left_ts, asof_right_ts,
                                strict, right_prefix)
    return _rownum_join(left, right, keys, order_by, condition,
                        asof_left_ts, asof_right_ts, strict,
                        broadcast=(how == "broadcast"), right_prefix=right_prefix,
                        prefix_keys=prefix_keys, pick=pick)


def _renamed_right(right: DataFrame, keys, right_prefix, prefix_keys: bool = False):
    """Right side with output columns renamed; returns (df, outname map).

    Join-key columns keep their names by default (the union
    strategy groups on them); ``prefix_keys`` prefixes them too so the
    caller can still address the right side's key values (NULL on
    unmatched rows) — used by the SQL front-end.
    """
    key_rights = {r for _, r in keys}
    mapping = {}
    for c in right.columns:
        if right_prefix and (prefix_keys or c not in key_rights):
            mapping[c] = f"{right_prefix}{c}"
        else:
            mapping[c] = c
    out = right.select(*[F.col(c).alias(mapping[c]) for c in right.columns])
    return out, mapping


def _rownum_join(left, right, keys, order_by, condition,
                 asof_left_ts, asof_right_ts, strict, broadcast, right_prefix,
                 prefix_keys: bool = False, pick: str = "max"):
    right2, m = _renamed_right(right, keys, right_prefix, prefix_keys)
    # tag left rows (reference: SparkUtil.addIndexColumn). Raw
    # monotonically_increasing_id is hazardous under AQE stage retry:
    # a replayed partition can read its shuffle blocks in a different
    # ORDER and re-tag rows differently (VERDICT r3 #2). Partition
    # CONTENT is deterministic for hash-shuffle / file-scan lineages,
    # so a canonical within-partition sort (no shuffle, no Python)
    # makes the (partition, position) tag reproducible on replay.
    # sort only by orderable columns — a MapType anywhere in a column's
    # type makes it unusable as a sort key (AnalysisException); the
    # orderable columns are enough to make the tag order canonical
    def _orderable(dt) -> bool:
        if isinstance(dt, T.MapType):
            return False
        if isinstance(dt, T.ArrayType):
            return _orderable(dt.elementType)
        if isinstance(dt, T.StructType):
            return all(_orderable(f.dataType) for f in dt.fields)
        return True

    sortable = [f.name for f in left.schema.fields if _orderable(f.dataType)]
    lt = (left.sortWithinPartitions(*sortable) if sortable else left
          ).withColumn(_LIDX, F.monotonically_increasing_id())

    cond = None
    for lk, rk in keys:
        # null-safe: a NULL key is a real index bucket in the dialect
        # (test_lastjoin_simple id=19 joins NULL to NULL); Spark still
        # plans <=> as an equi-join key
        c = lt[lk].eqNullSafe(right2[m[rk]])
        cond = c if cond is None else (cond & c)
    if asof_left_ts and asof_right_ts:
        rc = right2[m[asof_right_ts]]
        tcond = rc < lt[asof_left_ts] if strict else rc <= lt[asof_left_ts]
        cond = tcond if cond is None else (cond & tcond)
    if condition is not None:
        cond = condition if cond is None else (cond & condition)

    rside = F.broadcast(right2) if broadcast else right2
    joined = lt.join(rside, cond, "left")

    order_exprs = []
    if order_by:
        # NULL order keys rank highest (reference:
        # cases/function/window/test_maxsize.yaml id 23-2); harmless for
        # as-of joins where the time condition already excludes NULLs.
        # pick='min' realizes unordered LAST JOIN's storage-order
        # semantics: iterate newest-ts-first, the LAST match survives ⇒
        # the minimum index-ts row (test_lastjoin_simple.yaml id 4-5).
        oc = right2[m[order_by]]
        order_exprs.append(oc.desc_nulls_first() if pick == "max" else oc.asc_nulls_last())
    # deterministic tie-break at equal order keys: every right column desc
    order_exprs.extend(
        right2[m[c]].desc_nulls_last() for c in right.columns if c != order_by
    )
    w = Window.partitionBy(_LIDX).orderBy(*order_exprs)
    out = (
        joined.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__", _LIDX)
    )
    # drop duplicated right key columns (keep left's)
    for lk, rk in keys:
        if m[rk] == lk:
            out = out.drop(right2[m[rk]])
    return out


def _check_collisions(left, right2, key_cols, rts_out):
    """Left/right output-name collisions fail analysis deep inside the
    plan — raise a readable error up front (pass right_prefix)."""
    overlap = (set(right2.columns) - set(key_cols)) & set(left.columns)
    if overlap:
        raise ValueError(
            f"last_join: right columns {sorted(overlap)} collide with left "
            f"output names — pass right_prefix to rename the right side"
        )


def _union_asof_join(left, right, keys, lts, rts, strict, right_prefix,
                     exchange: tuple[int, list[str]] | None = None):
    """Fully native as-of join: union both sides into one per-key
    timeline, sort, and carry the newest right row forward with
    ``last(struct(right_cols), ignorenulls=True)`` over an unbounded
    preceding window. One shuffle + one sort, zero Python, no row
    explosion — the default scale path (cf. the reference's join+reduce,
    ``JoinPlan.scala:163-199``, which shuffles the joined product).

    Equal timestamps: right rows sort before left rows (closed bound,
    ``allow exact matches``); under ``strict`` left rows sort first.
    Ties among right rows at one ts resolve to the max tiebreak (the
    struct comparison is positional over right columns) — matching the
    row_number strategies.

    ``exchange=(n, cols)`` hash-partitions the unioned timeline with an
    explicit ``repartition(n, *cols)`` (``cols`` a subset of the join
    keys) instead of the planner's exchange, so passes over the output
    that partition by a superset of ``cols`` need no exchange of their
    own and AQE cannot coalesce the partition count (backfill_features).
    """
    if any(lk != rk for lk, rk in keys):
        right = right.select(*[
            F.col(c).alias(dict((r, l) for l, r in keys).get(c, c)) for c in right.columns
        ])
    key_cols = [lk for lk, _ in keys]
    right2, m = _renamed_right(right, [(k, k) for k in key_cols], right_prefix)
    rts_out = m[rts]
    _check_collisions(left, right2, key_cols, rts_out)
    right_val_cols = [c for c in right2.columns if c not in key_cols]
    left_only = [c for c in left.columns if c not in key_cols and c != lts]

    # align schemas: (keys, __ts__, __side__, left cols..., right struct)
    lhs = left.select(
        *key_cols,
        F.col(lts).alias("__ts__"),
        F.lit(1).alias("__side__"),
        *[F.col(c) for c in left_only],
        F.lit(None).cast(
            T.StructType([right2.schema[c] for c in right_val_cols])
        ).alias("__rv__"),
    )
    # right rows at one ts sorted by value columns asc → last = max tie
    rhs = right2.filter(F.col(rts_out).isNotNull()).select(
        *key_cols,
        F.col(rts_out).alias("__ts__"),
        F.lit(0 if not strict else 2).alias("__side__"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_only],
        F.struct(*[F.col(c) for c in right_val_cols]).alias("__rv__"),
    )
    unioned = lhs.unionByName(rhs)
    if exchange is not None:
        unioned = unioned.repartition(exchange[0], *exchange[1])
    order = [F.col("__ts__").asc_nulls_last(), F.col("__side__"), F.col("__rv__")]
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.withColumn("__last_rv__", F.last("__rv__", ignorenulls=True).over(w))
    out = carried.filter(F.col("__side__") == 1)
    # NULL left ts matches nothing (reference: null order keys excluded)
    matched = F.when(F.col("__ts__").isNotNull(), F.col("__last_rv__"))
    out = out.select(
        *key_cols,
        F.col("__ts__").alias(lts),
        *[F.col(c) for c in left_only],
        *[matched.getField(c).alias(c) for c in right_val_cols],
    )
    return out.select(*left.columns, *right_val_cols)

