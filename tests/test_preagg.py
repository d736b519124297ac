"""Incremental pre-agg state (operators/preagg.py) — append-then-read
equals full recompute, and appends touch only new buckets.

Reference parity target: insert-time bucket aggregation
(src/storage/aggregator.h:40-56) as append-only parquet generations.
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from openmldb_spark.operators.long_window import long_window_agg, merge_exprs
from openmldb_spark.operators.preagg import PreAggTable
from openmldb_spark.operators.window import Agg, WindowSpec

HOUR = 3_600_000

SPEC = WindowSpec(partition_by=("k",), order_by="ts", frame="rows_range",
                  preceding=None, tiebreak=("rid",))
AGGS = [
    Agg("sum", "v", "sv"),
    Agg("count", "v", "cv"),
    Agg("avg", "v", "av"),
    Agg("min", "v", "mn"),
    Agg("max", "v", "mx"),
    Agg("sum_where", "v", "sw", cond="flag"),
]


def _mkdf(spark, rows):
    pdf = pd.DataFrame(rows, columns=["k", "ts", "rid", "v", "flag"])
    pdf["v"] = pdf["v"].astype("float64")
    return spark.createDataFrame(pdf.astype({"ts": "int64", "rid": "int64"}))


def _dataset():
    """3 time-ordered chunks over 2 keys × 30 points spanning ~5 buckets,
    with NULL values, a false-flag mix, and intra-bucket multiplicity."""
    import random

    rnd = random.Random(7)
    rows = []
    rid = 0
    for step in range(30):
        for k in ("a", "b"):
            ts = step * 17 * 60_000 + (3 if k == "b" else 0)  # 17-min grid
            v = None if step % 9 == 4 and k == "a" else rnd.randint(-50, 50)
            rows.append((k, ts, rid, v, rnd.random() < 0.5))
            rid += 1
    rows.sort(key=lambda r: r[1])
    n = len(rows)
    return rows[: n // 3], rows[n // 3: 2 * n // 3], rows[2 * n // 3:]


def _collect(df):
    return sorted(
        ((r.k, r.ts, r.rid,
          r.sv, r.cv, None if r.av is None else round(r.av, 9), r.mn, r.mx, r.sw)
         for r in df.collect())
    )


def test_append_equals_full_recompute(spark, tmp_path):
    c1, c2, c3 = _dataset()
    full = _mkdf(spark, c1 + c2 + c3)

    t = PreAggTable.create(spark, str(tmp_path / "state"), SPEC, AGGS, bucket_ms=HOUR)
    feats = []
    for chunk in (c1, c2, c3):
        feats.append(_collect(t.append(_mkdf(spark, chunk))))
    got = sorted(x for f in feats for x in f)

    exp = _collect(long_window_agg(full, SPEC, AGGS, bucket_ms=HOUR))
    assert got == exp


def test_append_touches_only_new_buckets(spark, tmp_path):
    c1, c2, c3 = _dataset()
    state = str(tmp_path / "state")
    t = PreAggTable.create(spark, state, SPEC, AGGS, bucket_ms=HOUR)
    t.append(_mkdf(spark, c1))

    gen0 = os.path.join(state, "gen=0")
    before = {f: os.path.getmtime(os.path.join(gen0, f))
              for f in os.listdir(gen0) if f.endswith(".parquet")}

    t.append(_mkdf(spark, c2))

    # prior generation untouched — append is O(new), never a rewrite
    after = {f: os.path.getmtime(os.path.join(gen0, f))
             for f in os.listdir(gen0) if f.endswith(".parquet")}
    assert before == after

    # the new generation holds exactly chunk 2's (key, bucket) pairs
    meta = json.load(open(os.path.join(state, "_preagg_meta.json")))
    pairs_c2 = len({(k, ts // HOUR) for (k, ts, *_rest) in c2})
    assert meta["generations"][1]["pairs"] == pairs_c2
    # and the state's watermark advanced to chunk 2's max ts
    assert meta["watermark_ms"] == max(ts for (_k, ts, *_r) in c2)


def test_out_of_order_append_raises(spark, tmp_path):
    c1, c2, _ = _dataset()
    t = PreAggTable.create(spark, str(tmp_path / "state"), SPEC, AGGS, bucket_ms=HOUR)
    t.append(_mkdf(spark, c2))
    with pytest.raises(ValueError, match="out-of-order"):
        t.append(_mkdf(spark, c1))


def test_compact_preserves_results(spark, tmp_path):
    c1, c2, c3 = _dataset()
    state = str(tmp_path / "state")
    t = PreAggTable.create(spark, state, SPEC, AGGS, bucket_ms=HOUR)
    f1 = _collect(t.append(_mkdf(spark, c1)))
    f2 = _collect(t.append(_mkdf(spark, c2)))
    n = t.compact()
    assert len(t.meta["generations"]) == 1 and n > 0

    f3 = _collect(t.append(_mkdf(spark, c3)))
    got = sorted(f1 + f2 + f3)
    exp = _collect(long_window_agg(_mkdf(spark, c1 + c2 + c3), SPEC, AGGS, bucket_ms=HOUR))
    assert got == exp


def test_reopen_from_disk(spark, tmp_path):
    c1, c2, c3 = _dataset()
    state = str(tmp_path / "state")
    t = PreAggTable.create(spark, state, SPEC, AGGS, bucket_ms=HOUR)
    f1 = _collect(t.append(_mkdf(spark, c1)))

    t2 = PreAggTable.open(spark, state)
    assert t2.spec == SPEC and t2.aggs == AGGS
    f2 = _collect(t2.append(_mkdf(spark, c2 + c3)))
    exp = _collect(long_window_agg(_mkdf(spark, c1 + c2 + c3), SPEC, AGGS, bucket_ms=HOUR))
    assert sorted(f1 + f2) == exp


def test_rejects_non_decomposable(spark, tmp_path):
    with pytest.raises(ValueError, match="non-decomposable"):
        PreAggTable.create(spark, str(tmp_path / "s"), SPEC,
                           [Agg("distinct_count", "v", "d")])


def _partials_rows(df):
    cols = ["k", "__lw_bucket__", *sorted(c for c in df.columns if c.startswith("__")
                                          and c != "__lw_bucket__")]
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_partials_follow_every_write(spark, tmp_path):
    """The driver-resident partials equal a fresh merge of the written
    generations after every write, stay one copy between writes, and
    ``partials()`` starts no Spark job after a write: the write folded
    its own generation in."""
    c1, c2, c3 = _dataset()
    t = PreAggTable.create(spark, str(tmp_path / "state"), SPEC, AGGS, bucket_ms=HOUR)

    def fresh():
        dirs = [os.path.join(t.dir, g["dir"]) for g in t.meta["generations"]]
        return (spark.read.parquet(*dirs).groupBy("k", "__lw_bucket__")
                .agg(*merge_exprs(AGGS), F.max("__pa_max_ord__").alias("__pa_max_ord__")))

    sc, seen = spark.sparkContext, []
    for write in (lambda: t.ingest(_mkdf(spark, c1)),
                  lambda: t.append(_mkdf(spark, c2)),
                  lambda: t.ingest(_mkdf(spark, c3)),
                  t.compact):
        write()
        sc.setJobGroup("partials", "partials() after a write")
        P = t.partials()
        sc.setJobGroup("other", "")
        assert sc.statusTracker().getJobIdsForGroup("partials") == []
        assert _partials_rows(P) == _partials_rows(fresh())
        assert t.partials() is P  # no write since: the same copy
        assert all(P is not q for q in seen)
        seen.append(P)
    assert len(t.meta["generations"]) == 1


def test_bucket_watermarks_answer_for_the_copy_given(spark, tmp_path):
    """A watermark lookup describes the partials it is handed, also when
    a write has replaced the resident partials since they were read."""
    c1, c2, c3 = _dataset()
    t = PreAggTable.create(spark, str(tmp_path / "state"), SPEC, AGGS, bucket_ms=HOUR)
    t.ingest(_mkdf(spark, c1))
    P0 = t.partials()
    t.ingest(_mkdf(spark, c2 + c3))
    P1 = t.partials()
    wanted = P1.select("k", "__lw_bucket__")

    def index(P):
        return {(r[0], r[1]): r[2]
                for r in P.select("k", "__lw_bucket__", "__pa_max_ord__").collect()}

    w0 = t.bucket_watermarks(P0, wanted, "__lw_bucket__")
    w1 = t.bucket_watermarks(P1, wanted, "__lw_bucket__")
    assert w0 == index(P0)
    assert w1 == index(P1)
    assert w0 != w1


def test_append_tail_replay_is_idempotent_for_null_keys(spark, tmp_path):
    """Replaying a batch through ``append_tail`` ingests nothing, also
    for rows whose partition key is NULL: the watermark join matches
    NULL keys to the NULL key's watermark."""
    rows = [(None, 1_000, 0, 5.0, True), (None, 2_000, 1, 7.0, False),
            ("a", 1_000, 2, 1.0, True), ("a", 2_000, 3, 2.0, True)]
    t = PreAggTable.create(spark, str(tmp_path / "state"), SPEC, AGGS, bucket_ms=HOUR)
    once = PreAggTable.create(spark, str(tmp_path / "once"), SPEC, AGGS, bucket_ms=HOUR)
    once.ingest(_mkdf(spark, rows))
    t.append_tail(_mkdf(spark, rows))
    t.append_tail(_mkdf(spark, rows))

    def rows_of(P):  # repr: NULL and string keys do not sort together
        return sorted(repr(r) for r in P.select(*sorted(P.columns)).collect())

    assert rows_of(t.partials()) == rows_of(once.partials())


def test_ingest_of_rows_without_order_key(spark, tmp_path):
    """A batch whose every row has a NULL order key ingests 0 rows: the
    empty aggregation stage (dropped by AQE together with the row-count
    observation in it) must not fail the write."""
    t = PreAggTable.create(spark, str(tmp_path / "state"), SPEC, AGGS, bucket_ms=HOUR)
    df = spark.createDataFrame([("a", None, 0, 1.0, True)],
                               "k string, ts long, rid long, v double, flag boolean")
    assert t.ingest(df) == 0
    assert t.meta["generations"][-1]["pairs"] == 0
