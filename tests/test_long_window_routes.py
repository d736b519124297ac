"""Route parity of long-window serving: ``serve_long_window`` on the
driver route (the state's merged partials resident on the driver) must
equal the distributed route (residency and broadcast bounds at 0: the
generations merged in Spark and joined per request) on every request
batch.

The stored table and its pre-agg state are built once; hypothesis draws
request batches over them: NULL and NaN partition keys and an unseen
key, requests exactly at and 1 ms behind a stored (key, bucket)'s
newest row, instants inside the America/Los_Angeles fall-back hour (the
session time zone here), NaN and NULL values, string max and float
sums, over an UNBOUNDED and a bounded ROWS_RANGE frame.
"""

from __future__ import annotations

import datetime
import math
import random
from unittest import mock

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from openmldb_spark.operators import preagg
from openmldb_spark.operators.preagg import PreAggTable, serve_long_window
from openmldb_spark.operators.window import Agg, WindowSpec
from openmldb_spark.sql.engine import request_identity

HOUR = 3_600_000
# 2021-11-07 09:00 UTC: America/Los_Angeles falls back from 02:00 PDT to
# 01:00 PST, so local 01:00-02:00 happens twice around it
FALL_BACK = int(datetime.datetime(2021, 11, 7, 9, tzinfo=datetime.timezone.utc)
                .timestamp() * 1000)
KEYS = [1.0, 2.5, math.nan, None]
SCHEMA = pa.schema([("k", pa.float64()), ("ts", pa.timestamp("us", tz="UTC")),
                    ("v", pa.float64()), ("n", pa.int32()), ("s", pa.string()),
                    ("flag", pa.bool_())])
AGGS = [Agg("sum", "v", "sv"), Agg("count", "v", "cv"), Agg("avg", "n", "an"),
        Agg("min", "v", "mn"), Agg("max", "s", "ms"), Agg("sum_where", "n", "sw", cond="flag")]
UNBOUNDED = WindowSpec(partition_by=("k",), order_by="ts", frame="rows", preceding=None)
BOUNDED = WindowSpec(partition_by=("k",), order_by="ts", frame="rows_range",
                     preceding=5_400_000)


def _table(rows):
    cols = list(zip(*rows)) if rows else [[] for _ in SCHEMA]
    return pa.table([pa.array([c * 1000 for c in col] if f.name == "ts" else col,
                              pa.int64() if f.name == "ts" else f.type).cast(f.type)
                     for f, col in zip(SCHEMA, cols)], schema=SCHEMA)


def _value(rnd):
    # quarter multiples add exactly in any order, so the routes must agree bit for bit
    return rnd.choice([None, math.nan] + [rnd.randint(-40, 40) / 4 for _ in range(6)])


@pytest.fixture(scope="module")
def stored(spark, tmp_path_factory):
    """(history, state, newest order ms of every stored (key, bucket))."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    rnd = random.Random(11)
    rows = [(k, FALL_BACK + rnd.randrange(-5 * HOUR, 5 * HOUR), _value(rnd),
             rnd.choice([None, rnd.randint(-9, 9)]), rnd.choice([None, "a", "b", "ab", "é"]),
             rnd.random() < 0.5)
            for k in KEYS for _ in range(14)]
    schema = "k double, ts timestamp, v double, n int, s string, flag boolean"
    history = spark.createDataFrame(_table(rows), schema)
    state = PreAggTable.create(spark, str(tmp_path_factory.mktemp("routes") / "state"),
                               UNBOUNDED, AGGS, bucket_ms=HOUR)
    state.ingest(history)
    newest = {}
    for k, ts, *_ in rows:
        key = ("nan" if k != k else k, ts // HOUR)
        newest[key] = max(newest.get(key, ts), ts)
    yield history, state, sorted(newest.values())
    spark.conf.set("spark.sql.session.timeZone", tz)


def _norm(rows):
    return sorted(repr(tuple("nan" if isinstance(x, float) and x != x else x for x in r))
                  for r in rows)


def _requests(spark, history, rows, idx):
    """Requests ``rows[i]`` for ``i`` in ``idx``, each carrying its ``i``."""
    tbl = _table([rows[i] for i in idx]).append_column("i", pa.array(idx, pa.int64()))
    reqs = spark.createDataFrame(tbl, f"{history.schema.simpleString()[7:-1]}, i long")
    return reqs.withColumn("__req_id__", request_identity(history.columns))


def _serve(reqs, history, state, spec):
    """Feature rows by request index."""
    out = serve_long_window(reqs, history, state, spec, AGGS,
                            identity=request_identity(history.columns))
    return sorted((r["i"], _norm([r])[0]) for r in out.drop("__req_id__").collect())


@pytest.fixture(scope="module")
def universe(spark, stored):
    """Every request a batch may hold — each key (NULL, NaN and an unseen
    one included) at instants across the fall-back hour, exactly at and
    1 ms behind each stored (key, bucket)'s newest row, with a few own
    values — and its features on the distributed route, per frame.
    Requests are isolated, so a request's features do not depend on the
    batch it comes in; this route's answers are computed once."""
    history, state, newest = stored
    rnd = random.Random(5)
    instants = ([FALL_BACK + d * 600_000 for d in range(-36, 37, 5)]
                + newest + [t - 1 for t in newest])
    rows = [(k, t, rnd.choice([None, math.nan, -1.5, 0.25, 3.0]), rnd.choice([None, -2, 7]),
             rnd.choice([None, "a", "zz", ""]), rnd.random() < 0.5)
            for k in KEYS + [7.0] for t in instants]
    reqs = _requests(spark, history, rows, list(range(len(rows))))
    dist = PreAggTable.open(spark, state.dir)
    with mock.patch.object(preagg, "_RESIDENT_PAIRS", 0), \
            mock.patch.object(preagg, "_SMALL_PAIRS", 0):
        answers = {spec: dict(_serve(reqs, history, dist, spec)) for spec in (UNBOUNDED, BOUNDED)}
    assert all(len(a) == len(rows) for a in answers.values())
    return rows, answers


@pytest.mark.parametrize("spec", [UNBOUNDED, BOUNDED], ids=["unbounded", "bounded"])
def test_driver_route_equals_distributed_route_on_every_request(spark, stored, universe, spec):
    history, state, _ = stored
    rows, answers = universe
    got = _serve(_requests(spark, history, rows, list(range(len(rows)))), history, state, spec)
    assert got == sorted(answers[spec].items())


@settings(max_examples=100, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(data=st.data(), bounded=st.booleans())
def test_driver_route_equals_distributed_route(spark, stored, universe, data, bounded):
    """Batches drawn from the universe — duplicates, shared keys, raw
    edges beside whole buckets — get on the driver route the features
    the distributed route gave each of their requests."""
    history, state, _ = stored
    rows, answers = universe
    idx = data.draw(st.lists(st.integers(0, len(rows) - 1), min_size=1, max_size=6))
    spec = BOUNDED if bounded else UNBOUNDED
    got = _serve(_requests(spark, history, rows, idx), history, state, spec)
    assert got == sorted((i, answers[spec][i]) for i in idx)
