"""DEPLOY ... OPTIONS(long_windows="w:1h") — the reference's
long-window optimization (DEPLOY_STATEMENT.md:110-160; pre-agg storage
aggregator.h:40-56) served from materialized bucket partials.

Read rule: every bucket in a request's frame comes from the partials,
the request's own bucket included when no stored row of it is newer
than the request; raw history is read only for an own bucket that
holds a newer row, and for a bounded frame's lower edge bucket.

Ingest rule: an INSERT's rows are written as one partials generation
at the next request, whatever their timestamps (partials merge
commutatively); every other change to the table — DELETE, LOAD,
``register``, a TTL, a joined history that moved — rebuilds the state
from the current table. Every test compares against the same
deployment without the option.
"""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

HOUR = 3_600_000


def _engine(spark):
    from openmldb_spark.sql import SqlEngine

    return SqlEngine(spark)


def _hist_rows(lo, hi):
    # conv c1 every 17 min, conv c2 every 40 min; v carries the index
    rows = [("c1", i * 17 * 60_000, float(i), "user") for i in range(lo, hi)]
    rows += [("c2", i * 40 * 60_000, float(100 + i), "tool")
             for i in range(lo, hi)]
    return rows


_SCHEMA = "conv_id string, ts bigint, v double, role string"

_SQL = ("SELECT conv_id, ts, sum(v) OVER w AS sv, count(v) OVER w AS cv, "
        "avg(v) OVER w AS av, min(v) OVER w AS mn, max(v) OVER w AS mx "
        "FROM conv_hist "
        "WINDOW w AS (PARTITION BY conv_id ORDER BY ts "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")

_SQL_BOUNDED = ("SELECT conv_id, ts, sum(v) OVER w AS sv, count(v) OVER w AS cv "
                "FROM conv_hist "
                "WINDOW w AS (PARTITION BY conv_id ORDER BY ts "
                "ROWS_RANGE BETWEEN 2h PRECEDING AND CURRENT ROW)")


def _reqs(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA)


def _collect(df):
    cols = [c for c in df.columns if c not in ("role",)]
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


@pytest.fixture()
def engines(spark):
    """(optimized engine, baseline engine) over identical data."""
    out = []
    for _ in range(2):
        e = _engine(spark)
        e.sql("create table conv_hist (conv_id string, ts bigint, "
              "v double, role string)")
        out.append(e)
    return out


def _insert(engines, rows):
    vals = ", ".join(f"('{c}', {t}, {v}, '{r}')" for c, t, v, r in rows)
    for e in engines:
        e.sql(f"insert into conv_hist values {vals}")


def test_long_windows_matches_generic_path(engines, spark):
    opt, base = engines
    opt.sql(f'DEPLOY d OPTIONS(long_windows="w:1h") {_SQL}')
    base.sql(f"DEPLOY d {_SQL}")
    _insert(engines, _hist_rows(0, 30))

    reqs = _reqs(spark, [("c1", 9 * HOUR, 50.0, "user"),
                         ("c2", 9 * HOUR, 60.0, "user"),
                         ("c3", 9 * HOUR, 70.0, "user")])  # unseen key
    got = _collect(opt.request("d", reqs))
    exp = _collect(base.request("d", reqs))
    assert got == exp
    # the optimized path actually built pre-agg state
    assert ("d", "w") in opt._lw_states
    assert opt._lw_states[("d", "w")]["t"].meta["generations"]


def test_long_windows_incremental_catchup(engines, spark):
    opt, base = engines
    opt.sql(f'DEPLOY d OPTIONS(long_windows="w:1h") {_SQL}')
    base.sql(f"DEPLOY d {_SQL}")
    _insert(engines, _hist_rows(0, 20))

    r1 = _reqs(spark, [("c1", 6 * HOUR, 5.0, "user")])
    assert _collect(opt.request("d", r1)) == _collect(base.request("d", r1))
    state = opt._lw_states[("d", "w")]["t"]
    n_gens = len(state.meta["generations"])

    # later data arrives (increasing ts — the reference's contract)
    _insert(engines, _hist_rows(20, 30))
    r2 = _reqs(spark, [("c1", 9 * HOUR, 5.0, "user"),
                       ("c2", 9 * HOUR, 6.0, "user")])
    assert _collect(opt.request("d", r2)) == _collect(base.request("d", r2))
    # catch-up appended a generation holding ONLY the new rows' buckets
    gens = state.meta["generations"]
    assert len(gens) == n_gens + 1
    new_pairs = len({("c1", (i * 17 * 60_000) // HOUR) for i in range(20, 30)}
                    | {("c2", (i * 40 * 60_000) // HOUR) for i in range(20, 30)})
    assert gens[-1]["pairs"] == new_pairs


def test_long_windows_bounded_rows_range(engines, spark):
    opt, base = engines
    opt.sql(f'DEPLOY d OPTIONS(long_windows="w:1h") {_SQL_BOUNDED}')
    base.sql(f"DEPLOY d {_SQL_BOUNDED}")
    _insert(engines, _hist_rows(0, 30))

    reqs = _reqs(spark, [("c1", 5 * HOUR + 1, 50.0, "user"),
                         ("c1", 8 * HOUR, 51.0, "user"),
                         ("c2", 7 * HOUR, 60.0, "user")])
    got = _collect(opt.request("d", reqs))
    exp = _collect(base.request("d", reqs))
    assert got == exp


def test_long_windows_multi_request_isolation(engines, spark):
    """Two requests on one key: each sees stored rows + itself only —
    the serve path is per-request by construction; the generic path
    uses INSTANCE_NOT_IN_WINDOW."""
    opt, base = engines
    opt.sql(f'DEPLOY d OPTIONS(long_windows="w:1h") {_SQL}')
    base.sql(f"DEPLOY d {_SQL}")
    _insert(engines, _hist_rows(0, 12))

    reqs = _reqs(spark, [("c1", 4 * HOUR, 1000.0, "user"),
                         ("c1", 4 * HOUR, 2000.0, "user")])
    got = _collect(opt.request("d", reqs))
    exp = _collect(base.request("d", reqs))
    assert got == exp
    # sums must differ by exactly the request's own v — no cross-leak
    svs = sorted(r[2] for r in got)
    assert svs[1] - svs[0] == 1000.0


def test_long_windows_option_is_a_hint(engines, spark):
    """long_windows is an optimization hint (the reference's corpus
    deploys with row-count buckets onto pre-loaded tables): windows
    that can't take the pre-agg path are silently evaluated on the
    generic path, never an error."""
    opt, base = engines
    # row-count bucket + unknown window name → both ignored
    opt.sql(f'DEPLOY d1 OPTIONS(long_windows="w:100,nope:1h") {_SQL}')
    assert opt.deployments["d1"]["long_windows"] == {}
    # interval bucket on a pre-loaded table is fine: state builds
    # lazily from stored history at the first request
    _insert(engines, _hist_rows(0, 8))
    opt.sql(f'DEPLOY d2 OPTIONS(long_windows="w:1h") {_SQL}')
    base.sql(f"DEPLOY d2 {_SQL}")
    reqs = _reqs(spark, [("c1", 3 * HOUR, 5.0, "user")])
    assert _collect(opt.request("d2", reqs)) == _collect(base.request("d2", reqs))
    assert _collect(opt.request("d1", reqs)) == _collect(base.request("d2", reqs))


@pytest.mark.parametrize("change, sv", [
    # same timestamp as the newest stored c1 row: a strict > watermark
    # would drop it
    ("same_ts_insert", 1191.0),
    # into an older bucket, behind the key's watermark
    ("out_of_order_insert", 691.0),
    ("delete", 1.0),
    # re-register the main table with other rows
    ("register", 8.0),
])
def test_long_windows_state_follows_every_change(engines, spark, change, sv):
    opt, base = engines
    opt.sql(f'DEPLOY d OPTIONS(long_windows="w:1h") {_SQL}')
    base.sql(f"DEPLOY d {_SQL}")
    _insert(engines, _hist_rows(0, 20))
    req = _reqs(spark, [("c1", 6 * HOUR, 1.0, "user")])
    assert _collect(opt.request("d", req)) == _collect(base.request("d", req))

    if change == "same_ts_insert":
        _insert(engines, [("c1", 19 * 17 * 60_000, 1000.0, "user")])
    elif change == "out_of_order_insert":
        _insert(engines, [("c1", 30 * 60_000, 500.0, "user")])
    elif change == "delete":
        for e in engines:
            e.sql("DELETE FROM conv_hist WHERE conv_id = 'c1'")
    else:
        for e in engines:
            e.register("conv_hist", _reqs(spark, [("c1", HOUR, 7.0, "user")]))
    got = _collect(opt.request("d", req))
    assert got == _collect(base.request("d", req))
    assert got[0][2] == sv


def test_long_windows_null_shifted_requests_stay_apart(spark):
    """Requests (NULL,'a') and ('a',NULL) on adjacent same-typed
    columns must keep separate identities: the serve path joins its
    partial sums back on the request id."""
    out = []
    for opts in ('OPTIONS(long_windows="w:1h") ', ""):
        e = _engine(spark)
        e.sql("create table pairs (a string, b string, ts bigint, v double)")
        e.sql("insert into pairs values ('c1', 'x', 1000, 1.0), "
              "('c1', 'y', 2000, 2.0), (NULL, 'z', 3000, 4.0)")
        e.sql(f"DEPLOY d {opts}SELECT a, b, ts, sum(v) OVER w AS sv FROM pairs "
              "WINDOW w AS (PARTITION BY a ORDER BY ts "
              "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
        reqs = spark.createDataFrame([("c1", None, 5000, 10.0), (None, "c1", 5000, 10.0)],
                                     "a string, b string, ts bigint, v double")
        out.append(sorted(e.request("d", reqs).collect(), key=str))
    assert out[0] == out[1]
    assert len(out[0]) == 2
    assert {r.a: r.sv for r in out[0]} == {"c1": 13.0, None: 14.0}


def _messages(caplog):
    return [r.getMessage() for r in caplog.records if r.name == "openmldb_spark"]


def test_long_windows_ingest_serve_shape(engines, spark, caplog):
    """The benchmark's cycle — INSERT newer rows, then request rows
    later than every stored row of their key — ingests the delta alone
    and reads no raw history."""
    opt, base = engines
    opt.sql(f'DEPLOY d OPTIONS(long_windows="w:1h") {_SQL}')
    base.sql(f"DEPLOY d {_SQL}")
    _insert(engines, _hist_rows(0, 20))
    caplog.set_level(logging.INFO, logger="openmldb_spark")
    opt.request("d", _reqs(spark, [("c1", 6 * HOUR, 1.0, "user")])).collect()
    assert _messages(caplog)[0] == "long_windows d/w: rebuild: no state yet (40 rows)"

    caplog.clear()
    _insert(engines, [("c1", 6 * HOUR + 1000, 5.0, "user"),
                      ("c2", 20 * HOUR, 6.0, "tool")])
    reqs = _reqs(spark, [("c1", 7 * HOUR, 1.0, "user"), ("c2", 21 * HOUR, 2.0, "user")])
    assert _collect(opt.request("d", reqs)) == _collect(base.request("d", reqs))
    assert _messages(caplog) == ["long_windows d/w: ingest delta (2 rows)",
                                 "raw edge: 0 of 2 requests (driver)"]

    # a request inside its bucket's stored rows reads that bucket raw
    caplog.clear()
    mid = _reqs(spark, [("c1", 3 * HOUR + 1, 1.0, "user"), ("c2", 21 * HOUR, 2.0, "user")])
    assert _collect(opt.request("d", mid)) == _collect(base.request("d", mid))
    assert _messages(caplog) == ["raw edge: 1 of 2 requests (driver)"]


def test_long_windows_pending_and_generations_stay_bounded(engines, spark, caplog):
    opt, base = engines
    opt._LW_MAX_PENDING = 2
    opt._LW_MAX_GENERATIONS = 2
    opt.sql(f'DEPLOY d OPTIONS(long_windows="w:1h") {_SQL}')
    base.sql(f"DEPLOY d {_SQL}")
    _insert(engines, _hist_rows(0, 10))
    req = _reqs(spark, [("c1", 20 * HOUR, 1.0, "user"), ("c2", 20 * HOUR, 1.0, "user")])
    opt.request("d", req).collect()
    state = opt._lw_states[("d", "w")]["t"]
    caplog.set_level(logging.INFO, logger="openmldb_spark")
    for i in range(10, 13):  # one INSERT per request: generations grow
        _insert(engines, _hist_rows(i, i + 1))
        assert _collect(opt.request("d", req)) == _collect(base.request("d", req))
    assert len(state.meta["generations"]) <= 2
    for i in range(13, 16):  # three INSERTs before one request
        _insert(engines, _hist_rows(i, i + 1))
    assert _collect(opt.request("d", req)) == _collect(base.request("d", req))
    assert "long_windows d/w: rebuild: over 2 inserts between requests (32 rows)" \
        in _messages(caplog)


def test_long_windows_ttl_and_joined_history(spark, caplog):
    """A TTL'd main table and a history that LAST JOINs another table
    cannot take INSERT deltas; they rebuild instead."""
    sql_join = ("SELECT t.conv_id, t.ts, sum(v) OVER w AS sv, count(v) OVER w AS cv, "
                "m.w8 FROM conv_hist t LAST JOIN meta m ON t.conv_id = m.conv_id "
                "WINDOW w AS (PARTITION BY conv_id ORDER BY ts "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
    engines = []
    for _ in range(2):
        e = _engine(spark)
        e.sql("create table conv_hist (conv_id string, ts bigint, v double, role string)")
        e.sql("create table meta (conv_id string, w8 double)")
        e.sql("insert into meta values ('c1', 2.0)")
        engines.append(e)
    opt, base = engines
    opt.sql(f'DEPLOY d OPTIONS(long_windows="w:1h") {_SQL}')
    base.sql(f"DEPLOY d {_SQL}")
    opt.sql(f'DEPLOY dj OPTIONS(long_windows="w:1h") {sql_join}')
    base.sql(f"DEPLOY dj {sql_join}")
    for e in engines:
        e.sql("CREATE INDEX ix ON conv_hist (conv_id) OPTIONS (ts=ts, ttl=5, ttl_type=latest)")
    _insert(engines, _hist_rows(0, 10))
    req = _reqs(spark, [("c1", 20 * HOUR, 1.0, "user"), ("c2", 20 * HOUR, 1.0, "user")])
    caplog.set_level(logging.INFO, logger="openmldb_spark")
    for dep in ("d", "dj", "d", "dj"):  # the second round reuses the states
        assert _collect(opt.request(dep, req)) == _collect(base.request(dep, req))
    assert sum("rebuild" in m for m in _messages(caplog)) == 2
    _insert(engines, _hist_rows(10, 12))
    caplog.clear()
    for dep in ("d", "dj"):
        assert _collect(opt.request(dep, req)) == _collect(base.request(dep, req))
    assert [m for m in _messages(caplog) if "rebuild" in m] == [
        "long_windows d/w: rebuild: ttl table (10 rows)",
        "long_windows dj/w: rebuild: joined history changed (10 rows)"]


# ---- parity of the driver-side raw-edge decision and the resident state

def _insert_null_key(engines, rows):
    vals = ", ".join(f"(NULL, {t}, {v}, 'user')" for t, v in rows)
    for e in engines:
        e.sql(f"insert into conv_hist values {vals}")


def _collect_nullable(df):
    """``_collect`` for rows that may hold NULL keys."""
    cols = [c for c in df.columns if c not in ("role",)]
    return sorted((tuple(r[c] for c in cols) for r in df.select(*cols).collect()), key=repr)


def _route_messages(caplog):
    return [m for m in _messages(caplog) if m.startswith("pre-agg ")]


# the request route each state route serves from, as the raw-edge log names it
_EDGE_ROUTE = {"resident": "driver", "distributed": "distributed"}


@pytest.fixture(params=["resident", "distributed"])
def route(request, monkeypatch):
    """Serve from the driver-resident partials, or — with the residency
    and broadcast bounds at 0 — from the distributed merge and a
    semi-join lookup."""
    if request.param == "distributed":
        from openmldb_spark.operators import preagg

        monkeypatch.setattr(preagg, "_RESIDENT_PAIRS", 0)
        monkeypatch.setattr(preagg, "_SMALL_PAIRS", 0)
    return request.param


def test_long_windows_null_key_newer_own_bucket(engines, spark, caplog, route):
    """A NULL partition key matches the stored NULL-key partials
    null-safely: its own bucket holds a newer row, so it is read raw."""
    opt, base = engines
    opt.sql(f'DEPLOY d OPTIONS(long_windows="w:1h") {_SQL}')
    base.sql(f"DEPLOY d {_SQL}")
    _insert(engines, _hist_rows(0, 20))
    _insert_null_key(engines, [(3 * HOUR + 600_000, 5.0), (3 * HOUR + 2_400_000, 7.0)])
    caplog.set_level(logging.INFO, logger="openmldb_spark")
    reqs = _reqs(spark, [(None, 3 * HOUR + 1_200_000, 1.0, "user"),
                         ("c1", 20 * HOUR, 2.0, "user")])
    got = _collect_nullable(opt.request("d", reqs))
    assert got == _collect_nullable(base.request("d", reqs))
    assert {r[0]: r[2] for r in got}[None] == 6.0  # 5 + itself, not 7
    assert f"raw edge: 1 of 2 requests ({_EDGE_ROUTE[route]})" in _messages(caplog)
    assert [m.split(": ", 1)[1].split(" (")[0] for m in _route_messages(caplog)] \
        == [f"{route} reads"]


def test_long_windows_integer_partition_key(spark, route):
    out = []
    for opts in ('OPTIONS(long_windows="w:1h") ', ""):
        e = _engine(spark)
        e.sql("create table ints (k int, ts bigint, v double)")
        e.sql("insert into ints values " + ", ".join(
            f"({i % 3}, {i * 1_000_000}, {float(i)})" for i in range(40)))
        e.sql(f"DEPLOY d {opts}SELECT k, ts, sum(v) OVER w AS sv, count(v) OVER w AS cv, "
              "min(v) OVER w AS mn FROM ints WINDOW w AS (PARTITION BY k ORDER BY ts "
              "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
        # inside stored buckets (raw), past every stored row, unseen key
        reqs = spark.createDataFrame(
            [(0, 8_000_000, 1.0), (1, 50_000_000, 2.0), (7, 5_000_000, 3.0)],
            "k int, ts bigint, v double")
        out.append(sorted(e.request("d", reqs).collect(), key=str))
    assert out[0] == out[1]


def test_long_windows_request_at_bucket_watermark(engines, spark, caplog, route):
    """A request at exactly its own bucket's newest stored order ms
    reads that bucket whole from the partials (watermark ≤ request)."""
    opt, base = engines
    opt.sql(f'DEPLOY d OPTIONS(long_windows="w:1h") {_SQL}')
    base.sql(f"DEPLOY d {_SQL}")
    _insert(engines, _hist_rows(0, 20))
    caplog.set_level(logging.INFO, logger="openmldb_spark")
    # c1's newest row (bucket 5) is at 19·17 min; c2's newest in bucket 6
    # is at 10·40 min
    reqs = _reqs(spark, [("c1", 19 * 17 * 60_000, 1.0, "user"),
                         ("c2", 10 * 40 * 60_000, 2.0, "user")])
    assert _collect(opt.request("d", reqs)) == _collect(base.request("d", reqs))
    assert f"raw edge: 0 of 2 requests ({_EDGE_ROUTE[route]})" in _messages(caplog)
    caplog.clear()
    behind = _reqs(spark, [("c2", 10 * 40 * 60_000 - 1, 2.0, "user")])
    assert _collect(opt.request("d", behind)) == _collect(base.request("d", behind))
    assert _messages(caplog) == [f"raw edge: 1 of 1 requests ({_EDGE_ROUTE[route]})"]


def test_long_windows_bounded_frame_parity(engines, spark, caplog, route):
    """A bounded ROWS_RANGE frame reads every request's lower edge
    bucket raw, NULL keys included."""
    opt, base = engines
    opt.sql(f'DEPLOY d OPTIONS(long_windows="w:1h") {_SQL_BOUNDED}')
    base.sql(f"DEPLOY d {_SQL_BOUNDED}")
    _insert(engines, _hist_rows(0, 30))
    _insert_null_key(engines, [(4 * HOUR, 5.0), (5 * HOUR + 1, 7.0)])
    caplog.set_level(logging.INFO, logger="openmldb_spark")
    reqs = _reqs(spark, [(None, 6 * HOUR, 1.0, "user"),
                         ("c1", 5 * HOUR + 1, 50.0, "user"),
                         ("c2", 7 * HOUR, 60.0, "user"),
                         ("c3", 7 * HOUR, 70.0, "user")])
    assert _collect_nullable(opt.request("d", reqs)) == _collect_nullable(base.request("d", reqs))
    assert f"raw edge: 4 of 4 requests ({_EDGE_ROUTE[route]})" in _messages(caplog)


def test_long_windows_route_logged_when_it_changes(engines, spark, caplog, monkeypatch):
    """The read route is logged at the state's first read and when the
    state crosses the residency bound, and at no other time."""
    from openmldb_spark.operators import preagg

    opt, base = engines
    opt.sql(f'DEPLOY d OPTIONS(long_windows="w:1h") {_SQL}')
    base.sql(f"DEPLOY d {_SQL}")
    _insert(engines, _hist_rows(0, 20))
    caplog.set_level(logging.INFO, logger="openmldb_spark")
    req = _reqs(spark, [("c1", 30 * HOUR, 1.0, "user"), ("c2", 30 * HOUR, 2.0, "user")])
    assert _collect(opt.request("d", req)) == _collect(base.request("d", req))
    state = opt._lw_states[("d", "w")]["t"]
    pairs = state._pairs()
    assert _route_messages(caplog) == [
        f"pre-agg {state.dir}: resident reads ({pairs} pairs, bound {preagg._RESIDENT_PAIRS})"]

    monkeypatch.setattr(preagg, "_RESIDENT_PAIRS", pairs)
    caplog.clear()
    _insert(engines, [("c1", 6 * HOUR, 3.0, "user")])  # a new (key, bucket) pair
    assert _collect(opt.request("d", req)) == _collect(base.request("d", req))
    assert _route_messages(caplog) == [
        f"pre-agg {state.dir}: distributed reads ({pairs + 1} pairs, bound {pairs})"]
    caplog.clear()
    _insert(engines, [("c1", 29 * HOUR, 4.0, "user")])
    assert _collect(opt.request("d", req)) == _collect(base.request("d", req))
    assert _route_messages(caplog) == []


# ---- the driver route: request identity, plan shape, gates and job labels

_SQL_JOINED = (
    "SELECT a.conv_id, a.ts, a.sv, a.mx, b.v2 FROM "
    "(SELECT conv_id, ts, sum(v) OVER w AS sv, max(v) OVER w AS mx FROM conv_hist "
    "WINDOW w AS (PARTITION BY conv_id ORDER BY ts "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS a "
    "LAST JOIN (SELECT conv_id AS c2, v * 2 AS v2 FROM conv_hist) AS b "
    "ON a.conv_id = b.c2")


def test_long_windows_request_id_joins_subqueries(engines, spark, route):
    """A long-window SELECT joined with a second request-derived
    subquery matches each request with its own row of that subquery,
    duplicate request rows included: the served rows carry the same
    ``__req_id__`` the other subquery does."""
    opt, base = engines
    opt.sql(f'DEPLOY d OPTIONS(long_windows="w:1h") {_SQL_JOINED}')
    base.sql(f"DEPLOY d {_SQL_JOINED}")
    _insert(engines, _hist_rows(0, 20))
    reqs = _reqs(spark, [("c1", 9 * HOUR, 5.0, "user"), ("c1", 9 * HOUR, 5.0, "user"),
                         ("c1", 9 * HOUR, 7.0, "user"), ("c2", 3 * HOUR, 1.0, "user")])
    got = _collect(opt.request("d", reqs))
    assert got == _collect(base.request("d", reqs))
    assert len(got) == 4
    assert sorted(r[-1] for r in got) == [2.0, 10.0, 10.0, 14.0]


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_long_windows_driver_route_plans_one_projection(engines, spark):
    """A request with no raw edge on the driver route takes its rows out
    through Arrow (one job) and is then one projection over a local
    relation: no exchange, window, join or aggregation, and collecting
    it runs no job. No aggregate builds a trivially true gate."""
    opt, _ = engines
    opt.sql(f'DEPLOY d OPTIONS(long_windows="w:1h") {_SQL}')
    _insert(engines, _hist_rows(0, 20))
    reqs = _reqs(spark, [("c1", 30 * HOUR, 1.0, "user"), ("c2", 30 * HOUR, 2.0, "user")])
    opt.request("d", reqs).collect()  # builds the state
    df, build_jobs = _jobs(spark, "lw-build", lambda: opt.request("d", reqs))
    rows, collect_jobs = _jobs(spark, "lw-collect", df.collect)
    assert (build_jobs, collect_jobs, len(rows)) == (1, 0, 2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in ("Exchange", "Window", "Join", "Aggregate"):
        assert node not in plan, plan
    assert "(true <=> true)" not in df._jdf.queryExecution().analyzed().toString()


def test_long_windows_writes_are_labelled(engines, spark, monkeypatch):
    """The state's rebuild and catch-up writes run under their own job
    descriptions, and the caller's description comes back after them."""
    from openmldb_spark.operators.preagg import PreAggTable

    opt, _ = engines
    sc, seen, ingest = spark.sparkContext, [], PreAggTable.ingest

    def spy(self, df):
        seen.append(sc.getLocalProperty("spark.job.description"))
        return ingest(self, df)

    monkeypatch.setattr(PreAggTable, "ingest", spy)
    opt.sql(f'DEPLOY d OPTIONS(long_windows="w:1h") {_SQL}')
    _insert(engines, _hist_rows(0, 10))
    req = _reqs(spark, [("c1", 30 * HOUR, 1.0, "user")])
    sc.setJobDescription("caller")
    try:
        opt.request("d", req).collect()
        _insert(engines, _hist_rows(10, 12))
        opt.request("d", req).collect()
        assert seen == ["omldb:lw:rebuild", "omldb:lw:ingest"]
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
