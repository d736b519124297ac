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
                                 "raw edge: 0 of 2 requests"]

    # a request inside its bucket's stored rows reads that bucket raw
    caplog.clear()
    mid = _reqs(spark, [("c1", 3 * HOUR + 1, 1.0, "user"), ("c2", 21 * HOUR, 2.0, "user")])
    assert _collect(opt.request("d", mid)) == _collect(base.request("d", mid))
    assert _messages(caplog) == ["raw edge: 1 of 2 requests"]


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
