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
- state reads: while the state holds at most ``_RESIDENT_PAIRS`` (key,
  bucket) pairs, the merged partials also live on the driver as numpy
  arrays sorted by (key, bucket) (``_Resident``). Each write folds only
  its own generation into them (one read-back of that generation); a
  compaction keeps them. ``partials()`` then hands out a local relation
  built from them through Arrow, and ``serve_long_window`` answers
  requests from them directly. Above the bound every read merges the
  generations in Spark. The route is logged on the ``openmldb_spark``
  logger at the state's first read and whenever it changes.

Scale shape: an append over D new rows touches O(D) raw data + the
partials table (keys × buckets rows — KBs per TB of raw history). The
only shuffles are the new-data groupBy and the (key, bucket) running
window; carried state joins on (key, bucket) and is broadcast-sized in
practice.
"""

from __future__ import annotations

import decimal
import json
import logging
import os
import shutil
import time
from dataclasses import asdict
from functools import reduce
from operator import and_

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from openmldb_spark.operators.long_window import (
    _B,
    _DECOMPOSABLE,
    _base,
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
# partials are keys × buckets — metadata-sized against raw history. Up
# to this many (key, bucket) pairs reads broadcast them.
_SMALL_PAIRS = 2_000_000
# Up to this many pairs the merged partials also stay on the driver
# (``_Resident``): requests are answered there and writes fold their own
# generation in. tools/preagg_residency.py on a 4-vCPU VM, local[4],
# 1,000 keys, median s of 4 cycles, resident vs distributed: an INSERT
# of 50 rows and two 500-row requests 1.20 vs 2.13 at 10^4 pairs, 0.92
# vs 2.05 at 2·10^4, 0.88 vs 2.05 at 5·10^4, 1.18 vs 2.87 at 10^5. The
# driver route won at every size measured, so the bound sits at the
# largest one; ``append`` reads the generations' merge on both routes.
_RESIDENT_PAIRS = 100_000
_NAN = object()


def _hkey(values) -> tuple:
    """Dict key for a tuple of collected Spark values with Spark's
    grouping equality: NULL matches NULL (``eqNullSafe``) and NaN
    matches NaN."""
    return tuple(_NAN if isinstance(v, float) and v != v
                 else bytes(v) if isinstance(v, bytearray) else v
                 for v in values)


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


def _to_np(arr) -> tuple[np.ndarray, np.ndarray]:
    """(values, validity) of an Arrow column: numbers, booleans and
    temporals as numpy numbers, anything else as Python objects."""
    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    valid = ~arr.is_null().to_numpy(zero_copy_only=False)
    if pa.types.is_timestamp(arr.type) or pa.types.is_date(arr.type):
        arr = arr.cast(pa.int64() if arr.type.bit_width == 64 else pa.int32())
    if not pa.types.is_primitive(arr.type):
        return np.array(arr.to_pylist(), dtype=object), valid
    fill = False if pa.types.is_boolean(arr.type) else 0
    return arr.fill_null(fill).to_numpy(zero_copy_only=False), valid


def _to_arrow(vals: np.ndarray, valid: np.ndarray, t: pa.DataType) -> pa.Array:
    if vals.dtype == object:
        return pa.array(np.where(valid, vals, None).tolist(), type=t)
    return pa.array(vals, mask=~valid).cast(t)


def _ck(code, bucket) -> np.ndarray:
    """(key code, bucket) pairs as complex numbers, which numpy sorts and
    searches by real part, then imaginary part (exact below 2**53)."""
    k = np.asarray(code, np.complex128).copy()
    k.imag = bucket
    return k


def _merge(kind: str, vals: np.ndarray, valid: np.ndarray, lo, hi):
    """Merge rows ``[lo[i], hi[i])`` of one partial column with
    ``merge_exprs``' semantics: NULLs are skipped and a range without a
    valid row is NULL; sums add in the column's own type (int64,
    float64, exact decimals); min/max order like Spark, NaN above every
    number. Returns (values, validity)."""
    if vals.dtype == object and kind != "sum":  # objects merge by rank
        uniq, rank = np.unique(vals[valid], return_inverse=True)
        codes = np.zeros(len(vals), np.int64)
        codes[valid] = rank
        out, ok = _merge(kind, codes, valid, lo, hi)
        return np.append(uniq, None)[np.where(ok, out, len(uniq))], ok
    idx = np.column_stack([lo, hi]).ravel()

    def red(f, x):  # one slot past the end keeps every index in range
        pad = x[:1] if len(x) else np.zeros(1, x.dtype)
        return f.reduceat(np.append(x, pad), idx)[::2] if len(idx) else x[:0]

    n = np.where(lo < hi, red(np.add, valid.astype(np.int64)), 0)
    f = {"sum": np.add, "min": np.fmin, "max": np.fmax}[kind]
    if kind == "sum":
        with decimal.localcontext(prec=80):
            return red(f, np.where(valid, vals, 0)), n > 0
    if vals.dtype.kind != "f":
        fill = np.iinfo(vals.dtype).max if vals.dtype != bool else np.True_
        return red(f, np.where(valid, vals, fill if kind == "min" else ~fill)), n > 0
    nan = red(np.add, (valid & np.isnan(vals)).astype(np.int64))
    out = red(f, np.where(valid, vals, np.nan))  # fmin/fmax skip NaN
    return np.where((nan > 0) if kind == "max" else (nan == n), np.nan, out), n > 0


class _Resident:
    """The merged (key, bucket) partials on the driver, one slot per pair
    sorted by ``key`` = ``_ck(key code, bucket)``. Key codes number the
    distinct partition-key tuples (``_hkey`` equality) in arrival order;
    ``keys`` holds one Arrow row per code."""

    def __init__(self, key_cols: list[str], kinds: dict[str, str]):
        self.key_cols, self.kinds = key_cols, kinds  # column -> sum|min|max
        self.codes, self.keys, self.key = {}, None, np.empty(0, np.complex128)
        self.cols, self.types = {}, {}  # column -> (values, validity) / Arrow type

    def _key_of(self, tbl: pa.Table, add: bool = False) -> np.ndarray:
        b = _to_np(tbl[_B if add else "__b__"])[0]
        rows = [_hkey(k) for k in zip(*(tbl[c].to_pylist() for c in self.key_cols))]
        if add:
            new = []
            for i, h in enumerate(rows):
                if h not in self.codes:
                    self.codes[h] = len(self.codes)
                    new.append(i)
            fresh = tbl.select(self.key_cols).take(pa.array(new, pa.int64()))
            self.keys = fresh if self.keys is None else pa.concat_tables([self.keys, fresh])
        return _ck([self.codes.get(h, -1) for h in rows], b)

    def fold(self, tbl: pa.Table) -> None:
        """Merge partial rows ``tbl`` (a pair may repeat) into the state:
        O(rows of ``tbl``) merging, then one insert of the new pairs."""
        k = self._key_of(tbl, add=True)
        order = np.argsort(k, kind="stable")
        k = k[order]
        lo = np.flatnonzero(np.r_[True, k[1:] != k[:-1]][:len(k)])
        hi = np.append(lo[1:], len(k))[:len(lo)]
        k = k[lo]
        pos = np.searchsorted(self.key, k)
        hit = np.r_[self.key, np.nan][pos] == k
        at, p, two = pos[~hit], pos[hit], np.arange(0, 2 * hit.sum(), 2)
        for name, kind in self.kinds.items():
            v, ok = _merge(kind, *(x[order] for x in _to_np(tbl[name])), lo, hi)
            self.types.setdefault(name, tbl.schema.field(name).type)
            sv, sok = self.cols.get(name) or (v[:0], ok[:0])
            if len(p):  # pairs already held merge with their slot
                sv[p], sok[p] = _merge(kind, np.column_stack([sv[p], v[hit]]).ravel(),
                                       np.column_stack([sok[p], ok[hit]]).ravel(), two, two + 2)
            self.cols[name] = np.insert(sv, at, v[~hit]), np.insert(sok, at, ok[~hit])
        self.key = np.insert(self.key, at, k[~hit])

    def table(self, schema: T.StructType) -> pa.Table:
        keys = self.keys.take(self.key.real.astype(np.int64))
        cols = {**{c: keys[c] for c in self.key_cols}, _B: pa.array(self.key.imag.astype(np.int64)),
                **{n: _to_arrow(*self.cols[n], self.types[n]) for n in self.kinds}}
        return pa.table({f.name: cols[f.name] for f in schema})

    def carry(self, req: pa.Table, bounded: bool):
        """Per request row of ``req`` (key columns, ``__a__``, ``__b__``
        and, when ``bounded``, ``__b0__``): the merged partials of every
        bucket of its frame that is read whole — the buckets below its
        own (above ``__b0__`` when bounded), and its own when no stored
        row of it is newer than ``__a__`` — and whether its own bucket is
        read raw. Returns ({column: (values, validity)}, raw)."""
        q = self._key_of(req)
        a, ok = _to_np(req["__a__"])
        j = np.searchsorted(self.key, q)
        own = ok & (np.r_[self.key, np.nan][j] == q)
        whole = own & (np.r_[self.cols[_WM][0], 0][j] <= a)
        if bounded:
            b0 = _to_np(req["__b0__"])[0]
            whole &= q.imag > b0
            lo = np.searchsorted(self.key, _ck(q.real, b0), "right")
        else:
            lo = np.searchsorted(self.key, _ck(q.real, -2.0 ** 62))
        hi = np.where(ok, np.maximum(j + whole, lo), lo)
        return ({n: _merge(kind, *self.cols[n], lo, hi)
                 for n, kind in self.kinds.items() if n != _WM}, own & ~whole)


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
        # the driver-resident merged partials (``_Resident``) while the
        # state is within _RESIDENT_PAIRS, and the local relation
        # ``partials()`` built from them since the last write
        self._res = None
        self._local = None
        self._route = None

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

    def resident(self) -> _Resident | None:
        """The driver-resident merged partials; None when nothing is
        stored or above ``_RESIDENT_PAIRS`` pairs. Loaded from the
        generations once, then kept current by every write."""
        dirs = self._gen_dirs()
        if not dirs:
            return None
        pairs = self._pairs()
        route = "resident" if pairs <= _RESIDENT_PAIRS else "distributed"
        if route != self._route:
            self._route = route
            _log.info("pre-agg %s: %s reads (%d pairs, bound %d)", self.dir,
                      route, pairs, _RESIDENT_PAIRS)
        if route == "distributed":
            self._res = None
        elif self._res is None:
            self._res = self._load(dirs)
        return self._res

    def _load(self, dirs: list[str]) -> _Resident:
        mm = {f"__m{i}__": _base(a) for i, a in enumerate(self.aggs)}
        res = _Resident(list(self.spec.partition_by),
                        {**{c: mm.get(c, "sum") for c in partial_cols(self.aggs)}, _WM: "max"})
        res.fold(self._read(dirs).toArrow())
        return res

    def partials(self) -> DataFrame | None:
        """Merged (key, bucket) partials across all generations —
        the pre-agg table a long-window query plans against. Within
        ``_RESIDENT_PAIRS`` this is a local relation built from the
        driver-resident partials through Arrow: it runs no job, and the
        same relation is returned until the next write. Above the bound
        it is the generations' merge in Spark."""
        res = self.resident()
        if res is None:
            dirs = self._gen_dirs()
            return self._merged(dirs) if dirs else None
        if self._local is None:
            self._local = self.spark.createDataFrame(res.table(self._schema), self._schema)
        return self._local

    def _merged(self, dirs: list[str]) -> DataFrame:
        keys = list(self.spec.partition_by)
        raw = self._read(dirs)
        if len(dirs) == 1:
            return raw
        return raw.groupBy(*keys, _B).agg(*merge_exprs(self.aggs),
                                          F.max(_WM).alias(_WM))

    def bucket_watermarks(self, P: DataFrame, wanted: DataFrame, bucket: str) -> dict:
        """Own-bucket watermark (``__pa_max_ord__``) of the (key, bucket)
        pairs of ``P``, a result of ``partials()``, keyed by
        ``_hkey((*key values, bucket))`` of collected values. ``wanted``
        holds the pairs asked for, as the partition-key columns and the
        bucket column ``bucket``; one semi-join restricts ``P`` to them."""
        keys = list(self.spec.partition_by)
        q = wanted.select(*keys, F.col(bucket).alias(_B)).alias("q")
        cond = reduce(and_, [F.col(f"p.{k}").eqNullSafe(F.col(f"q.{k}")) for k in keys],
                      F.col(f"p.{_B}") == F.col(f"q.{_B}"))
        return {_hkey(row[:-1]): row[-1] for row in
                P.alias("p").join(F.broadcast(q), cond, "left_semi")
                .select(*keys, _B, _WM).collect()}

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
        newer than their key's watermark (new keys ingest whole; a NULL
        key matches the NULL key's watermark). ``df`` may be the full
        current table — already-ingested history is filtered by the
        per-key watermark join, so re-running after new data lands
        ingests only the new rows. This is the late-data rule of the
        streaming sink (``preagg_sink``): a row at or below its key's
        watermark — a same-timestamp or out-of-order row — is dropped.
        Callers that know which rows are new use ``ingest`` directly,
        which keeps them all."""
        wmk = self.key_watermarks()
        if wmk is not None:
            keys = list(self.spec.partition_by)
            ord_ms = _order_ms(df, self.spec.order_by)
            wside = (F.broadcast(wmk) if self._small() else wmk).alias("w")
            cond = reduce(and_, [F.col(f"d.{k}").eqNullSafe(F.col(f"w.{k}")) for k in keys])
            df = (df.alias("d").join(wside, cond, "left")
                  .filter(F.col("w.__pa_wm__").isNull() | (ord_ms > F.col("w.__pa_wm__")))
                  .select("d.*"))
        self.ingest(df)

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
        # history is the generations' merge in Spark on either route: a
        # local relation of the whole state measured slower in this plan
        # at every size (tools/preagg_residency.py append)
        dirs = self._gen_dirs()
        hist = self._merged(dirs) if dirs else None
        if hist is not None:
            wmk = hist.groupBy(*keys).agg(F.max(_WM).alias("__pa_wm__"))
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
        if self._small():
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
        pairs = self._write_generation(self._own_partials(work, ord_ms))
        # AQE drops a stage that came out empty together with the
        # observation in it; a generation without pairs had no rows
        return int(rows.get["n"]) if pairs else 0

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

    def _write_generation(self, own: DataFrame) -> int:
        """Write ``own`` as the next generation and fold it into the
        driver-resident partials; return its pair count."""
        gen_dir = f"gen={len(self.meta['generations'])}"
        entry, wm = self._write(own, gen_dir)
        self.meta["generations"].append(entry)
        old = self.meta["watermark_ms"]
        if wm is not None:
            self.meta["watermark_ms"] = wm if old is None else max(old, wm)
        self._save_meta()
        self._local = None
        if self._pairs() > _RESIDENT_PAIRS:
            self._res = None
        elif self._res is None:
            self._res = self._load(self._gen_dirs())
        elif entry["pairs"]:
            # one read-back of this generation, never of the merged state
            self._res.fold(self._read([os.path.join(self.dir, gen_dir)]).toArrow())
        return entry["pairs"]

    def _pairs(self) -> int:
        return sum(g["pairs"] for g in self.meta["generations"])

    def _small(self) -> bool:
        # the manifest's pair count bounds the merged state from above
        return self._pairs() <= _SMALL_PAIRS

    # -- maintenance ------------------------------------------------------------

    def compact(self) -> int:
        """Fold all generations into one (bounded metadata / read
        fan-in); returns the number of merged (key, bucket) rows."""
        dirs = self._gen_dirs()
        if len(dirs) <= 1:
            return self._pairs()
        tmp = os.path.join(self.dir, "_compact_tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        entry, _ = self._write(self._merged(dirs), "_compact_tmp")
        for g in dirs:
            shutil.rmtree(g)
        os.rename(tmp, os.path.join(self.dir, "gen=0"))
        self.meta["generations"] = [{**entry, "dir": "gen=0"}]
        self._save_meta()
        self._local = None  # the driver-resident partials stay: same content
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
                      spec: WindowSpec, aggs: list, identity,
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

    Within ``_RESIDENT_PAIRS`` (``PreAggTable.resident``) the driver
    takes the request rows out through Arrow, gives each its carry and
    raw-edge flag from the resident partials, and hands rows and carries
    back as one local relation: without raw edges the result is one
    projection over it. ``identity``, the expression that derived
    ``req_id``, re-derives it there; Spark prunes it when unread.
    Above the bound the driver collects the batch's keys, order ms and
    buckets, looks up own-bucket watermarks (``bucket_watermarks``), and
    the plan joins the merged partials once per request for the carry
    and the flag. The decision is logged on the ``openmldb_spark``
    logger as ``raw edge: k of n requests (driver|distributed)``.

    Frames: UNBOUNDED..CURRENT ROW, or bounded ROWS_RANGE [t-Δ, t].
    Returns ``requests`` with one column per aggregate appended."""
    W = state.bucket_ms
    keys = list(spec.partition_by)
    bounded = spec.preceding is not None
    edge_cols = ["__lo__", "__b0__"] if bounded else []

    a_ms = _order_ms(requests, spec.order_by)
    r_new = [a_ms.alias("__a__"), (a_ms / F.lit(W)).cast("long").alias("__b__")]
    if bounded:
        lo = a_ms - F.lit(int(spec.preceding))
        r_new += [lo.alias("__lo__"), (lo / F.lit(W)).cast("long").alias("__b0__")]
    r = requests.select("*", *r_new)
    r_cols = [req_id, *keys, "__a__", "__b__", *edge_cols]
    pcols = partial_cols(aggs)

    def on_keys(x: str, y: str):
        return reduce(and_, [F.col(f"{x}.{k}").eqNullSafe(F.col(f"{y}.{k}"))
                         for k in keys])

    res = state.resident()
    P = None if res is not None else state.partials()
    out, n_raw, gmin = requests, 0, None
    if res is not None:
        # ---- driver route: the carries ride on the request rows into
        # one local relation, so nothing joins
        rows = r.drop(req_id)
        tbl = rows.toArrow()
        car, raw = res.carry(tbl, bounded)
        schema = T.StructType(list(rows.schema.fields))
        for c in pcols:
            tbl = tbl.append_column(f"__car_{c}", _to_arrow(*car[c], res.types[c]))
            schema.add(f"__car_{c}", state._schema[c].dataType)
        out = state.spark.createDataFrame(tbl.append_column("__raw_b__", pa.array(raw)),
                                          schema.add("__raw_b__", T.BooleanType()))
        if req_id in requests.columns:
            out = out.withColumn(req_id, identity)
        edge_b, valid = _to_np(tbl["__b0__" if bounded else "__b__"])
        sel, n, route = valid if bounded else raw, tbl.num_rows, "driver"
        n_raw = n if bounded else int(raw.sum())
        gmin = int(edge_b[sel].min()) if sel.any() else None
    elif P is not None:
        # partials are metadata-sized relative to history, but at
        # 10^12-turn scale keys × buckets can still exceed broadcast
        # limits — broadcast only under the recorded pair count
        Pside = F.broadcast(P.alias("p")) if state._small() else P.alias("p")
        pb, rb = F.col(f"p.{_B}"), F.col("r.__b__")

        # ---- which requests need raw rows, decided on the driver over
        # the collected batch (a serving batch: a local one collects
        # without a job) and the state's own-bucket watermarks
        if bounded:  # the lower edge bucket is always read raw
            batch = r.select("__b0__").collect()
            n_raw = len(batch)
            gmin = min((q[0] for q in batch if q[0] is not None), default=None)
        else:
            batch = r.select(*keys, "__a__", "__b__").collect()
            wm = state.bucket_watermarks(P, r, "__b__")
            raw_b = [q["__b__"] for q in batch
                     if (w := wm.get(_hkey(q[:len(keys)] + (q["__b__"],)))) is not None
                     and w > q["__a__"]]
            n_raw, gmin = len(raw_b), min(raw_b, default=None)
        n, route = len(batch), "distributed"

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
    if res is None and P is None:  # nothing stored: the request row alone
        _log.info("raw edge: 0 requests (no stored rows)")
    else:
        _log.info("raw edge: %d of %d requests (%s)", n_raw, n, route)
    if gmin is not None:
        gmin *= W

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

    # ---- fold: carry ⊕ edge ⊕ the request row itself (current row),
    # one select; a carry or edge that was not planned reads NULL
    if edge is not None:
        out = out.join(edge, on=req_id, how="left")
    have = set(out.columns)

    def part(name: str):
        return F.col(name) if name in have else F.lit(None)

    int_wrap = (T.ByteType, T.ShortType, T.IntegerType)
    feats = []
    for i, a in enumerate(aggs):
        base = a.func[:-6] if a.func.endswith("_where") else a.func
        own = F.col(a.col) if a.col else F.lit(1)
        if a.cond:
            own = F.when(F.col(a.cond), own)
        rt = _result_type(a, requests.schema[a.col].dataType if a.col
                          else T.LongType())
        cs, cc, cm = (part(f"__car___{x}{i}__") for x in "scm")
        es, ec, em = (part(f"__edg___{x}{i}__") for x in "scm")
        if base in ("sum", "avg"):
            s = (F.coalesce(cs, F.lit(0)) + F.coalesce(es, F.lit(0))
                 + F.coalesce(own, F.lit(0)))
            s = F.when(cs.isNotNull() | es.isNotNull() | own.isNotNull(), s)
            c = (F.coalesce(cc, F.lit(0)) + F.coalesce(ec, F.lit(0))
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
            e = (F.coalesce(cc, F.lit(0)) + F.coalesce(ec, F.lit(0))
                 + F.when(own.isNotNull(), 1).otherwise(0)).cast("long")
        elif base == "min":
            e = F.least(cm, em, own.cast(rt)).cast(rt)
        else:
            e = F.greatest(cm, em, own.cast(rt)).cast(rt)
        feats.append(e.alias(a.name))
    return out.select(*requests.columns, *feats)
