"""The kernel's Arrow boundary: the JVM sort is its only buffer order
(NULL tiebreaks first, as on the native route) and timestamps cross it
in the session time zone."""

from __future__ import annotations

import datetime as dt
import math

import pytest

from openmldb_spark.operators.window import Agg, WindowSpec, window_agg


def _rows(df, cols):
    key = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    return sorted((tuple(r[c] for c in cols) for r in df.collect()), key=key)


def _assert_same(a, b):
    assert len(a) == len(b) > 0
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                assert math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9), (ra, rb)
            else:
                assert x == y, (ra, rb)


def test_null_tiebreak_sorts_first_on_both_routes(spark):
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    df = spark.createDataFrame(
        [("a", 1, t0, "x"), ("a", None, t0, "y"), ("a", 2, t0, "z"),
         ("a", 3, t0 + dt.timedelta(seconds=1), "w")],
        "k string, tb int, ts timestamp, v string")
    spec = WindowSpec(["k"], "ts", "rows", 1, tiebreak=["tb"])
    aggs = [Agg("lag", "v", "prev_v", n=1)]
    want = {"y": None, "x": "y", "z": "x", "w": "z"}
    for impl in ("native", "kernel"):
        got = {r["v"]: r["prev_v"] for r in window_agg(df, spec, aggs, impl=impl).collect()}
        assert got == want, impl


@pytest.fixture
def los_angeles(spark):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        yield spark
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def _tz_data(spark):
    # January: no DST transition inside the data; same-second ties
    base = dt.datetime(2024, 1, 15, 8, 0, 0)
    rows = []
    for k in range(3):
        for i in range(40):
            ts = base + dt.timedelta(minutes=7 * (i // 2))
            ts2 = base + dt.timedelta(hours=(i * 5) % 11, minutes=i)
            v = None if i % 9 == 4 else float(i % 6)
            rows.append((f"k{k}", i, ts, None if i % 13 == 7 else ts2, v))
    return spark.createDataFrame(rows, "k string, i int, ts timestamp, ts2 timestamp, v double")


def test_kernel_equals_native_rows_range_non_utc(los_angeles):
    df = _tz_data(los_angeles)
    spec = WindowSpec(["k"], "ts", "rows_range", 3_600_000, tiebreak=["i"])
    aggs = [Agg("count", None, "n"), Agg("sum", "v", "s"), Agg("avg", "v", "a"),
            Agg("lag", "ts2", "prev_ts2", n=1)]
    cols = ["k", "i", "ts", "n", "s", "a", "prev_ts2"]
    _assert_same(_rows(window_agg(df, spec, aggs, impl="native"), cols),
                 _rows(window_agg(df, spec, aggs, impl="kernel"), cols))


def test_kernel_equals_native_timestamp_min_max_non_utc(los_angeles):
    df = _tz_data(los_angeles)
    aggs = [Agg("min", "ts2", "lo"), Agg("max", "ts2", "hi"), Agg("count", "ts2", "n")]
    cols = ["k", "i", "lo", "hi", "n"]
    for spec in (WindowSpec(["k"], "ts", "rows", 5, tiebreak=["i"]),
                 WindowSpec(["k"], "i", "rows_range", 6, assume_unique_order=True)):
        nat = _rows(window_agg(df, spec, aggs, impl="native"), cols)
        ker = _rows(window_agg(df, spec, aggs, impl="kernel"), cols)
        _assert_same(nat, ker)
        # the wall clocks came back as the values that went in
        src = {r["ts2"] for r in df.collect()}
        assert {r[2] for r in ker} - {None} <= src
