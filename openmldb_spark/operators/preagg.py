"""Materialized incremental pre-aggregation state — the batch analogue
of the reference's insert-time aggregator.

The reference maintains pre-aggregated buckets *incrementally at insert
time* (``src/storage/aggregator.h:40-56``, ``aggregator.cc``: one
aggregated row per (key, time-bucket), updated as rows arrive, flushed
to a pre-agg table that long-window queries read instead of raw
history). ``long_window_agg`` re-derives those buckets per job; at
100 TB a daily backfill should not rescan years of history to rebuild
partials that never change.

``PreAggTable`` persists the bucket partials and updates them by
appending *generations*:

- ``create(...)`` writes the state manifest (spec, aggregates,
  bucket size) under ``state_dir``.
- ``ingest(df_new)`` writes the partials of ``df_new``'s rows as one
  generation and nothing else — no ordering check and no read of the
  stored state, because bucket partials merge by commutative
  re-aggregation: a row may land in any bucket, old or new, at any
  timestamp. This is the write path of the long-window DEPLOY, which
  hands it each INSERT's rows.
- ``append(df_new)`` computes partials of the appended rows ONLY
  (O(new) work), writes them as ``gen=N`` parquet, and returns the
  long-window feature rows for the appended data — carry state comes
  from the already-materialized partials, so history is never
  rescanned. Appends are validated against a high-watermark: each
  append's order keys must be ≥ every previous append's (per key the
  reference would accept out-of-order and re-aggregate; the batch
  contract is ordered appends, enforced loudly).
- generations merge by re-aggregation at read time (partials are
  associative: sum-of-sums, min-of-mins…); ``compact()`` folds all
  generations into one for bounded metadata. Each (key, bucket) row
  also keeps ``__pa_max_ord__``, the newest order ms it holds.
- state is read with the schema recorded at the first write, so a read
  starts no schema-inference job; write statistics (pairs, watermark,
  row count) are observed on the write itself, so no read-back job.

Scale shape: an append over D new rows touches O(D) raw data + the
partials table (keys × buckets rows — KBs per TB of raw history). The
only shuffles are the new-data groupBy and the (key, bucket) running
window; carried state joins on (key, bucket) and is broadcast-sized in
practice.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import time
from dataclasses import asdict
from functools import reduce
from operator import and_

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from openmldb_spark.operators.long_window import (
    _B,
    _DECOMPOSABLE,
    _order_ms,
    carry_exprs,
    combine_cols,
    merge_exprs,
    partial_cols,
    partial_exprs,
    running_cols,
)
from openmldb_spark.operators.window import Agg, WindowSpec, _result_type

__all__ = ["PreAggTable", "serve_long_window", "long_window_serveable"]

_META = "_preagg_meta.json"
_WM = "__pa_max_ord__"
_log = logging.getLogger("openmldb_spark")


def _check_spec(spec: WindowSpec, aggs: list[Agg]) -> None:
    if spec.preceding is not None or spec.maxsize or spec.end_preceding \
            or spec.end_is_offset or spec.open_preceding or spec.open_end \
            or spec.exclude_current_time or spec.exclude_current_row \
            or spec.instance_not_in_window:
        raise ValueError("PreAggTable supports plain UNBOUNDED..CURRENT ROW frames")
    bad = [a.func for a in aggs if a.func not in _DECOMPOSABLE]
    if bad:
        raise ValueError(f"non-decomposable aggregates for pre-aggregation: {bad}")
    for a in aggs:
        if a.split or a.cate or a.pair or a.cond_pair:
            raise ValueError(f"aggregate {a.name} uses kernel-only features")


class PreAggTable:
    """Persistent (key, bucket) partials for UNBOUNDED window features.

    See module docstring; reference parity target is
    ``src/storage/aggregator.h:40-56`` (per-bucket aggregated state,
    incrementally maintained) re-expressed as append-only parquet
    generations merged by re-aggregation.
    """

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.dir = state_dir
        with open(os.path.join(state_dir, _META)) as f:
            self.meta = json.load(f)
        self.spec = WindowSpec(**self.meta["spec"])
        self.aggs = [Agg(**{**a, "split": tuple(a["split"]) if a["split"] else None,
                            "pair": tuple(a["pair"]) if a["pair"] else None,
                            "cond_pair": tuple(a["cond_pair"]) if a["cond_pair"] else None})
                     for a in self.meta["aggs"]]
        self.bucket_ms = int(self.meta["bucket_ms"])
        sch = self.meta.get("schema")
        self._schema = T.StructType.fromJson(sch) if sch else None

    # -- lifecycle ---------------------------------------------------------

    @classmethod
    def create(cls, spark: SparkSession, state_dir: str, spec: WindowSpec,
               aggs: list[Agg], bucket_ms: int = 3_600_000) -> "PreAggTable":
        _check_spec(spec, aggs)
        os.makedirs(state_dir, exist_ok=True)
        if os.path.exists(os.path.join(state_dir, _META)):
            raise FileExistsError(f"pre-agg state already exists at {state_dir}")
        meta = {
            "spec": {**asdict(spec),
                     "partition_by": list(spec.partition_by),
                     "tiebreak": list(spec.tiebreak)},
            "aggs": [asdict(a) for a in aggs],
            "bucket_ms": int(bucket_ms),
            "generations": [],
            "watermark_ms": None,
        }
        with open(os.path.join(state_dir, _META), "w") as f:
            json.dump(meta, f, indent=1)
        return cls(spark, state_dir)

    @classmethod
    def open(cls, spark: SparkSession, state_dir: str) -> "PreAggTable":
        return cls(spark, state_dir)

    def _gen_dirs(self) -> list[str]:
        return [os.path.join(self.dir, g["dir"]) for g in self.meta["generations"]]

    def _save_meta(self) -> None:
        with open(os.path.join(self.dir, _META), "w") as f:
            json.dump(self.meta, f, indent=1)

    # -- state reads ---------------------------------------------------------

    def partials(self) -> DataFrame | None:
        """Merged (key, bucket) partials across all generations —
        the pre-agg table a long-window query plans against."""
        dirs = self._gen_dirs()
        if not dirs:
            return None
        keys = list(self.spec.partition_by)
        raw = self._read(dirs)
        if len(dirs) == 1:
            return raw
        return raw.groupBy(*keys, _B).agg(*merge_exprs(self.aggs),
                                          F.max(_WM).alias(_WM))

    def _read(self, dirs: list[str]) -> DataFrame:
        reader = self.spark.read
        if self._schema is not None:
            reader = reader.schema(self._schema)
        return reader.parquet(*dirs)

    def key_watermarks(self) -> DataFrame | None:
        """Per-key high-watermark (max ingested order ms) — derived
        from the partials, so it costs a scan of metadata-sized state,
        never of history."""
        P = self.partials()
        if P is None:
            return None
        keys = list(self.spec.partition_by)
        return P.groupBy(*keys).agg(F.max(_WM).alias("__pa_wm__"))

    def append_tail(self, df: DataFrame) -> None:
        """Idempotent catch-up: ingest only the rows of ``df`` STRICTLY
        newer than their key's watermark (new keys ingest whole).
        ``df`` may be the full current table — already-ingested history
        is filtered by the per-key watermark join, so re-running after
        new data lands appends only the new buckets. This is the
        late-data rule of the streaming sink (``preagg_sink``): a row
        at or below its key's watermark — a same-timestamp or
        out-of-order row — is dropped. Callers that know which rows
        are new use ``ingest`` instead, which keeps them all."""
        wmk = self.key_watermarks()
        if wmk is None:
            new = df
        else:
            keys = list(self.spec.partition_by)
            ord_ms = _order_ms(df, self.spec.order_by)
            wside = F.broadcast(wmk) if self._carry_small() else wmk
            new = (df.join(wside, on=keys, how="left")
                   .filter(F.col("__pa_wm__").isNull() | (ord_ms > F.col("__pa_wm__")))
                   .drop("__pa_wm__"))
        self.append(new)

    # -- append ---------------------------------------------------------------

    def append(self, df: DataFrame) -> DataFrame:
        """Ingest ``df`` (O(new) work) and return its long-window
        feature rows (input columns + one column per aggregate),
        exactly what ``long_window_agg`` over the full history would
        emit for these rows.

        Contract: ordered appends — ``min(order key)`` of ``df`` must
        be ≥ the state's high-watermark (the reference's aggregator
        re-aggregates out-of-order inserts; here they raise so a 100 TB
        backfill fails fast instead of silently double-counting).
        Rows with NULL order keys are skipped (reference buffer rule).
        """
        spec, aggs, keys = self.spec, self.aggs, list(self.spec.partition_by)
        work, ord_ms = self._bucketed(df)
        wmk = self.key_watermarks()
        if wmk is not None:
            # PER-KEY ordered-append validation (the reference's
            # aggregator orders per key/index, not globally): one tiny
            # job over new-chunk keys × the metadata-sized partials
            viol = (work.withColumn("__o__", ord_ms)
                    .join(wmk, on=keys, how="inner")
                    .filter(F.col("__o__") < F.col("__pa_wm__"))
                    .select(*keys, "__o__", "__pa_wm__").limit(1).collect())
            if viol:
                v = viol[0]
                raise ValueError(
                    f"out-of-order append: key {tuple(v[k] for k in keys)} "
                    f"has order {v['__o__']} < its watermark {v['__pa_wm__']}; "
                    f"pre-agg state requires per-key ordered appends "
                    f"(rebuild or compact from raw history for corrections)")

        hist = self.partials()
        own = self._own_partials(work, ord_ms)

        # ---- features for the appended rows (before merging them in) ----
        # carry for a row in bucket b = HISTORY partials over buckets
        # ≤ b (full buckets before + the same-bucket head — a complete
        # prefix because appends are ordered) ⊕ THIS CHUNK's partials
        # over buckets < b. One cumulative window serves both via an
        # even/odd sort key: history buckets at s=2β, own buckets at
        # s=2β+1 — the prefix s ≤ 2b is exactly {hist β ≤ b, own β < b}.
        pcols = partial_cols(aggs)
        _S = "__pa_s__"
        own_side = own.select(*keys, (F.col(_B) * 2 + 1).alias(_S), *pcols)
        if hist is not None:
            hist_side = hist.select(*keys, (F.col(_B) * 2).alias(_S), *pcols)
        else:
            hist_side = own_side.limit(0)
        # anchor rows at s=2b for every data bucket, so the join lands
        # even when history has no row at bucket b
        probe = (work.select(*keys, (F.col(_B) * 2).alias(_S)).distinct()
                 .join(hist_side.select(*keys, _S), on=keys + [_S], how="left_anti")
                 .select(*keys, _S, *[F.lit(None).alias(c) for c in pcols]))
        allb = hist_side.unionByName(probe).unionByName(own_side)
        wcum = (Window.partitionBy(*keys).orderBy(_S)
                .rowsBetween(Window.unboundedPreceding, 0))
        carry = (allb.select(*keys, _S, *carry_exprs(aggs, wcum))
                 .filter(F.col(_S) % 2 == 0))
        if self._carry_small():
            carry = F.broadcast(carry)
        joined = (work.withColumn(_S, F.col(_B) * 2)
                  .join(carry, on=keys + [_S], how="left"))

        order_cols = [F.col(spec.order_by)] + [F.col(c) for c in spec.tiebreak]
        wrun = (Window.partitionBy(*keys, _B).orderBy(*order_cols)
                .rowsBetween(Window.unboundedPreceding, 0))
        feats = combine_cols(running_cols(joined, aggs, wrun), aggs, df.schema)
        feats = feats.select(*df.columns, *[a.name for a in aggs])

        # ---- write this generation's partials (new rows only) ----
        self._write_generation(own)
        return feats

    def ingest(self, df: DataFrame) -> int:
        """Fold the rows of ``df`` into the state as one generation and
        return how many rows that was (rows with a NULL order key are
        skipped, the reference buffer rule). O(rows of ``df``) work:
        the stored state is neither read nor checked, because bucket
        partials merge commutatively — late, same-timestamp and
        out-of-order rows are all exact."""
        work, ord_ms = self._bucketed(df)
        rows = Observation()
        work = work.observe(rows, F.count(F.lit(1)).alias("n"))
        self._write_generation(self._own_partials(work, ord_ms))
        return int(rows.get["n"])

    def _bucketed(self, df: DataFrame):
        """``df`` without NULL order keys, with its bucket column, and
        the order-ms expression over it."""
        work = df.filter(F.col(self.spec.order_by).isNotNull())
        ord_ms = _order_ms(work, self.spec.order_by)
        return (work.withColumn(_B, (ord_ms / F.lit(self.bucket_ms)).cast("long")),
                ord_ms)

    def _own_partials(self, work: DataFrame, ord_ms) -> DataFrame:
        return work.groupBy(*self.spec.partition_by, _B).agg(
            *partial_exprs(self.aggs), F.max(ord_ms).alias(_WM))

    def _write(self, own: DataFrame, gen_dir: str) -> tuple[dict, int | None]:
        """Write partials ``own`` under ``gen_dir``; return its manifest
        entry and its max order ms, both observed during the write. The
        first write records the state schema."""
        stats = Observation()
        own = own.observe(stats, F.count(F.lit(1)).alias("pairs"),
                          F.max(_WM).alias("wm"))
        t0 = time.time()
        own.write.mode("errorifexists").parquet(os.path.join(self.dir, gen_dir))
        st = stats.get
        if self._schema is None:
            self._schema = T.StructType(
                [T.StructField(f.name, f.dataType, True) for f in own.schema])
            self.meta["schema"] = self._schema.jsonValue()
        entry = {"dir": gen_dir, "pairs": int(st["pairs"]),
                 "wall_sec": round(time.time() - t0, 3)}
        return entry, None if st["wm"] is None else int(st["wm"])

    def _write_generation(self, own: DataFrame) -> None:
        entry, wm = self._write(own, f"gen={len(self.meta['generations'])}")
        self.meta["generations"].append(entry)
        old = self.meta["watermark_ms"]
        if wm is not None:
            self.meta["watermark_ms"] = wm if old is None else max(old, wm)
        self._save_meta()

    def _carry_small(self) -> bool:
        # partials are keys × buckets — metadata-sized vs raw history;
        # broadcast unless the manifest says the state itself is huge
        pairs = sum(g["pairs"] for g in self.meta["generations"])
        return pairs <= 2_000_000

    # -- maintenance ------------------------------------------------------------

    def compact(self) -> int:
        """Fold all generations into one (bounded metadata / read
        fan-in); returns the number of merged (key, bucket) rows."""
        merged = self.partials()
        if merged is None or len(self.meta["generations"]) <= 1:
            return 0 if merged is None else self.meta["generations"][0]["pairs"]
        tmp = os.path.join(self.dir, "_compact_tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        entry, _ = self._write(merged, "_compact_tmp")
        for g in self._gen_dirs():
            shutil.rmtree(g)
        os.rename(tmp, os.path.join(self.dir, "gen=0"))
        self.meta["generations"] = [{**entry, "dir": "gen=0"}]
        self._save_meta()
        return entry["pairs"]


# ---------------------------------------------------------------------------
# request-mode serving over materialized partials — the batch analogue
# of the reference's long-window optimized DEPLOY
# (OPTIONS(long_windows=...), docs/en/openmldb_sql/deployment_manage/
# DEPLOY_STATEMENT.md:110-160; online pre-agg read path aggregator.cc)
# ---------------------------------------------------------------------------

_SERVE_FUNCS = frozenset(
    ["sum", "count", "avg", "min", "max",
     "sum_where", "count_where", "avg_where", "min_where", "max_where"])


def long_window_serveable(spec: WindowSpec, aggs: list, history) -> bool:
    """True when (spec, aggs) can be served from bucket partials:
    decomposable aggregates over plain columns, and a frame that is
    either UNBOUNDED..CURRENT ROW or a bounded ROWS_RANGE ms offset
    (the reference's long-window limitation list). ``*_where`` conds
    must be evaluable on the history side."""
    if spec.maxsize or spec.exclude_current_time or spec.exclude_current_row \
            or spec.end_preceding or spec.end_is_offset \
            or spec.open_preceding or spec.open_end:
        return False
    if spec.preceding is not None and spec.frame != "rows_range":
        return False  # row-count frames can't bucket-prune
    hist_cols = set(history.columns)
    for a in aggs:
        if a.func not in _SERVE_FUNCS or a.split or a.cate or a.pair or a.cond_pair:
            return False
        if a.cond and a.cond not in hist_cols:
            return False
        base = a.func[:-6] if a.func.endswith("_where") else a.func
        if base in ("sum", "avg"):
            if a.col is None or a.col not in hist_cols \
                    or not isinstance(history.schema[a.col].dataType,
                                      (T.ByteType, T.ShortType, T.IntegerType,
                                       T.LongType, T.FloatType, T.DoubleType,
                                       T.DecimalType)):
                return False
        elif a.col is not None and a.col not in hist_cols:
            return False
    return True


def serve_long_window(requests, history, state: PreAggTable,
                      spec: WindowSpec, aggs: list,
                      req_id: str = "__req_id__"):
    """Point-in-time long-window features for ``requests`` from the
    materialized bucket partials in ``state``, which must hold exactly
    the rows of ``history``. Each request sees stored rows + itself,
    never sibling requests (per-request isolation by construction — the
    reference's serving contract).

    Read rules, for a request at order ms ``a`` in bucket ``b``:

    - every full bucket inside the frame comes from the partials;
    - bucket ``b`` itself comes from the partials too when its stored
      ``__pa_max_ord__`` ≤ ``a`` (every stored row of it is in frame) —
      the usual case for a request about "now";
    - raw ``history`` is read only for a bucket ``b`` that holds a
      stored row newer than ``a``, and for a bounded frame's lower edge
      bucket, under a pushable global time bound;
    - when no request needs raw rows, the history join is not planned.

    One small collected job over (requests ⋈ partials) counts the requests
    that need raw rows; the plan then joins the partials once per
    request for both the carry and the raw-edge flag. The decision is
    logged on the ``openmldb_spark`` logger as ``raw edge: k of n
    requests``.

    Frames: UNBOUNDED..CURRENT ROW, or bounded ROWS_RANGE [t-Δ, t].
    Returns ``requests`` with one column per aggregate appended."""
    W = state.bucket_ms
    keys = list(spec.partition_by)
    bounded = spec.preceding is not None
    edge_cols = ["__lo__", "__b0__"] if bounded else []

    a_ms = _order_ms(requests, spec.order_by)
    r = (requests
         .withColumn("__a__", a_ms)
         .withColumn("__b__", (F.col("__a__") / F.lit(W)).cast("long")))
    if bounded:
        r = r.withColumn("__lo__", F.col("__a__") - F.lit(int(spec.preceding)))
        r = r.withColumn("__b0__", (F.col("__lo__") / F.lit(W)).cast("long"))
    r_cols = [req_id, *keys, "__a__", "__b__", *edge_cols]
    pcols = partial_cols(aggs)

    def on_keys(x: str, y: str):
        return reduce(and_, [F.col(f"{x}.{k}").eqNullSafe(F.col(f"{y}.{k}"))
                         for k in keys])

    P = state.partials()
    out, n_raw = requests, 0
    if P is None:  # nothing stored: the request row alone
        _log.info("raw edge: 0 requests (no stored rows)")
    else:
        # partials are metadata-sized relative to history, but at
        # 10^12-turn scale keys × buckets can still exceed broadcast
        # limits — broadcast only under the recorded pair count
        Pside = F.broadcast(P.alias("p")) if state._carry_small() else P.alias("p")
        pb, rb = F.col(f"p.{_B}"), F.col("r.__b__")

        # ---- which requests need raw rows (one small collected job)
        if bounded:  # the lower edge bucket is always read raw
            st = r.agg(F.count(F.lit(1)).alias("n"),
                       F.min(F.col("__b0__") * F.lit(W)).alias("g")).collect()[0]
            n_raw = st["n"]
        else:
            newer = F.col(f"p.{_WM}") > F.col("r.__a__")
            st = (r.alias("r").join(Pside, on_keys("r", "p") & (pb == rb), "left")
                  .agg(F.count(F.lit(1)).alias("n"),
                       F.count(F.when(newer, 1)).alias("k"),
                       F.min(F.when(newer, rb * F.lit(W))).alias("g"))
                  .collect()[0])
            n_raw = st["k"]
        gmin = st["g"]
        _log.info("raw edge: %d of %d requests", n_raw, st["n"])

        # ---- carry: partials of every bucket in frame that is read
        # whole, and the flag of an own bucket that is read raw. The
        # request rows ride through the aggregation (first() of one
        # request's identical copies), so nothing joins back.
        cond = on_keys("r", "p") & (pb <= rb)
        whole = (pb < rb) | (F.col(f"p.{_WM}") <= F.col("r.__a__"))
        if bounded:
            cond = cond & (pb >= F.col("r.__b0__"))
            whole = whole & (pb > F.col("r.__b0__"))
        out = (r.alias("r").join(Pside, cond, "left")
               .groupBy(F.col(f"r.{req_id}"))
               .agg(*[F.first(f"r.{c}").alias(c) for c in r.columns if c != req_id],
                    *[m.alias(f"__car_{c}")
                      for m, c in zip(merge_exprs(aggs, where=whole), pcols)],
                    F.max(F.coalesce((pb == rb) & ~whole, F.lit(False)))
                    .alias("__raw_b__")))

    # ---- raw rows of the edge buckets, globally time-pruned
    edge = None
    if n_raw:
        need = out if bounded else out.filter(F.col("__raw_b__"))
        need = need.select(*r_cols, "__raw_b__")
        h_ms = _order_ms(history, spec.order_by)
        H = (history.withColumn("__hms__", h_ms)
             .withColumn("__hb__", (h_ms / F.lit(W)).cast("long"))
             .filter(F.col("__hms__") >= gmin))
        in_edge = (F.col("h.__hb__") == F.col("r.__b__")) & F.col("r.__raw_b__")
        if bounded:
            in_edge = in_edge | (F.col("h.__hb__") == F.col("r.__b0__"))
        econd = on_keys("r", "h") & in_edge \
            & (F.col("h.__hms__") <= F.col("r.__a__"))
        if bounded:
            econd = econd & (F.col("h.__hms__") >= F.col("r.__lo__"))
        edge = (need.alias("r").join(H.alias("h"), econd, "inner")
                .groupBy(F.col(f"r.{req_id}"))
                .agg(*partial_exprs(aggs)))
        edge = edge.select(F.col(req_id),
                           *[F.col(c).alias(f"__edg_{c}") for c in pcols])

    # ---- fold: carry ⊕ edge ⊕ the request row itself (current row)
    if edge is not None:
        out = out.join(edge, on=req_id, how="left")
    for pre in ("__car_", "__edg_"):
        for c in pcols:
            if f"{pre}{c}" not in out.columns:
                out = out.withColumn(f"{pre}{c}", F.lit(None))

    int_wrap = (T.ByteType, T.ShortType, T.IntegerType)
    for i, a in enumerate(aggs):
        base = a.func[:-6] if a.func.endswith("_where") else a.func
        own = F.col(a.col) if a.col else F.lit(1)
        gate = F.col(a.cond) if a.cond else F.lit(True)
        own = F.when(gate.eqNullSafe(F.lit(True)), own)
        rt = _result_type(a, requests.schema[a.col].dataType if a.col
                          else T.LongType())
        cs, cc, cm = f"__car___s{i}__", f"__car___c{i}__", f"__car___m{i}__"
        es, ec, em = f"__edg___s{i}__", f"__edg___c{i}__", f"__edg___m{i}__"
        if base in ("sum", "avg"):
            s = (F.coalesce(F.col(cs), F.lit(0)) + F.coalesce(F.col(es), F.lit(0))
                 + F.coalesce(own, F.lit(0)))
            s = F.when(F.col(cs).isNotNull() | F.col(es).isNotNull()
                       | own.isNotNull(), s)
            c = (F.coalesce(F.col(cc), F.lit(0)) + F.coalesce(F.col(ec), F.lit(0))
                 + F.when(own.isNotNull(), 1).otherwise(0))
            if base == "avg":
                e = F.when(c > 0, s.cast("double") / c)
            else:
                dt = requests.schema[a.col].dataType
                if isinstance(dt, int_wrap):
                    bits = {T.ByteType: 8, T.ShortType: 16,
                            T.IntegerType: 32}[type(dt)]
                    e = (F.pmod(s + F.lit(2 ** (bits - 1)), F.lit(2 ** bits))
                         - 2 ** (bits - 1)).cast(dt)
                else:
                    e = s.cast(rt)
        elif base == "count":
            e = (F.coalesce(F.col(cc), F.lit(0)) + F.coalesce(F.col(ec), F.lit(0))
                 + F.when(own.isNotNull(), 1).otherwise(0)).cast("long")
        elif base == "min":
            e = F.least(F.col(cm), F.col(em), own.cast(rt)).cast(rt)
        else:
            e = F.greatest(F.col(cm), F.col(em), own.cast(rt)).cast(rt)
        out = out.withColumn(a.name, e)
    return out.select(*requests.columns, *[a.name for a in aggs])
