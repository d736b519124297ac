"""Request-mode features (plans/request.py): point-in-time features
for request rows against stored history — the batch analogue of the
reference's online request mode (RequestUnion; survey §3.2).

Checks: (1) equivalence with backfill_features on history ∪ requests
when requests are isolated anchors (one per conv), (2) zero temporal
leakage (a future history row never changes a request's features),
(3) the decomposable-aggregate plan is zero-Python (native window
union), (4) as-of enrichment at the request anchor."""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from openmldb_spark.operators.window import Agg, WindowSpec
from openmldb_spark.plans.backfill import AsOfSource, FeatureWindow, backfill_features
from openmldb_spark.plans.request import request_features

AGGS = [
    Agg("count", None, "n_10"),
    Agg("sum_where", "turn_idx", "tools_10", cond="__is_tool__"),
    Agg("max", "turn_idx", "max_turn_10"),
]


def _fw():
    return FeatureWindow(
        spec=WindowSpec(["conv_id"], "ts", "rows", 10, tiebreak=["turn_idx"]),
        aggs=AGGS,
    )


def _prep(df):
    return df.withColumn("__is_tool__", F.col("role") == "tool")


def test_request_matches_backfill_on_isolated_anchors(spark, transcripts, conv_meta):
    # one request per conv: the newest turn, re-labelled as an incoming
    # row (not part of history)
    w_latest = F.row_number().over(
        Window.partitionBy("conv_id").orderBy(F.desc("ts"), F.desc("turn_idx")))
    tagged = transcripts.withColumn("__rn__", w_latest)
    requests = _prep(tagged.filter(F.col("__rn__") == 1).drop("__rn__"))
    history = _prep(tagged.filter(F.col("__rn__") > 1).drop("__rn__"))

    got = request_features(
        requests, history, "ts", [_fw()],
        asof=[AsOfSource(conv_meta, on=["conv_id"], right_ts="ts", prefix="m_")],
    )
    want = backfill_features(
        _prep(transcripts), "ts", [_fw()],
        asof=[AsOfSource(conv_meta, on=["conv_id"], right_ts="ts", prefix="m_")],
    )
    keycols = ["conv_id", "turn_idx"]
    feat = ["n_10", "tools_10", "max_turn_10", "m_model", "m_priority"]
    g = {tuple(r[c] for c in keycols): tuple(r[c] for c in feat) for r in got.collect()}
    req_keys = set(g)
    w = {tuple(r[c] for c in keycols): tuple(r[c] for c in feat)
         for r in want.collect() if tuple(r[c] for c in keycols) in req_keys}
    assert len(g) == len(w) > 0
    assert g == w


def test_multi_request_per_key_independence(spark, transcripts):
    """Several requests for the same conv are independent anchors: a
    request's frame holds history rows and itself, never other request
    rows. Ground truth computed row-by-row in pandas."""
    reqs_f = F.col("turn_idx").isin(3, 5, 9)
    requests = _prep(transcripts.filter(reqs_f))
    history = _prep(transcripts.filter(~reqs_f))

    got = {
        (r["conv_id"], r["turn_idx"]): (r["n_10"], r["tools_10"], r["max_turn_10"])
        for r in request_features(requests, history, "ts", [_fw()]).collect()
    }

    hp = history.toPandas().sort_values(["conv_id", "ts", "turn_idx"])
    want = {}
    for r in requests.toPandas().itertuples():
        sub = hp[(hp.conv_id == r.conv_id) & (hp.ts <= r.ts)].tail(10)
        n = len(sub) + 1
        tool_vals = [int(v) for v in sub.loc[sub.role == "tool", "turn_idx"]]
        if r.role == "tool":
            tool_vals.append(int(r.turn_idx))
        tools = sum(tool_vals) if tool_vals else None  # dialect: empty sum = NULL
        mx = max([int(v) for v in sub.turn_idx] + [int(r.turn_idx)])
        want[(r.conv_id, r.turn_idx)] = (n, tools, mx)
    assert len(got) == len(want) > 0
    assert got == want

    # shared-buffer batch semantics (independent=False) must differ —
    # adjacent requests (turns 3/5/9) would enter each other's frames
    got_b = {
        (r["conv_id"], r["turn_idx"]): (r["n_10"], r["tools_10"], r["max_turn_10"])
        for r in request_features(
            requests, history, "ts", [_fw()], independent=False).collect()
    }
    assert got_b != got


def test_request_zero_leakage_and_native_plan(spark, transcripts):
    requests = _prep(transcripts.filter(F.col("turn_idx") == 5))
    history = _prep(transcripts.filter(F.col("turn_idx") != 5))
    out = request_features(requests, history, "ts", [_fw()])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InArrow" not in plan and "Python" not in plan
    base = {(r["conv_id"], r["turn_idx"]): (r["n_10"], r["tools_10"]) for r in out.collect()}

    # adding FUTURE history (after every anchor) must not change anything
    future = history.withColumn(
        "ts", F.timestamp_millis(F.unix_millis("ts") + F.lit(10**10)))
    out2 = request_features(requests, history.unionByName(future), "ts", [_fw()])
    got2 = {(r["conv_id"], r["turn_idx"]): (r["n_10"], r["tools_10"]) for r in out2.collect()}
    assert got2 == base


def test_request_subquery_windows_isolated_no_implicit_history(spark):
    """A deployed window over a PROJECTED subquery of the main table
    (the FeatureZero deployment shape): the reference does NOT
    re-anchor RequestUnion through a subquery — frames hold only
    explicit UNION tables and the request row itself (fz_ddl
    test_myhug id=0 evidence: repeat-×100 projected stored rows are
    absent from expected averages), and concurrent requests for the
    same key never see each other."""
    from openmldb_spark.sql import SqlEngine

    eng = SqlEngine(spark)
    hist = spark.createDataFrame(
        [("a", 1000, 1, "h1"), ("a", 2000, 2, "h2")],
        "k string, ts bigint, v int, reqid string")
    eng.register("main_t", hist)
    eng.sql(
        "DEPLOY dsub SELECT reqid, sum(v) OVER w AS s "
        "FROM (SELECT k, ts, v, reqid FROM main_t) "
        "WINDOW w AS (PARTITION BY k ORDER BY ts "
        "ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)")
    reqs = spark.createDataFrame(
        [("a", 2500, 10, "r1"), ("a", 3000, 20, "r2")],
        "k string, ts bigint, v int, reqid string")
    got = {r.reqid: r.s for r in eng.request("dsub", reqs).collect()}
    # each request's frame = itself only: no stored history through
    # the subquery, and NEVER the other request's value
    assert got == {"r1": 10, "r2": 20}


def test_history_pruning_is_invisible(spark, transcripts):
    """Bounded-ROWS serving prunes history to the last K rows below
    each request (plans/request.py:prune_rows_history) — results must
    be IDENTICAL to unpruned serving, across multi-request keys (INW
    kernel route), lag offsets larger than the frame, and *_where /
    distinct_count aggregates; and the pruned history must actually be
    small."""
    from openmldb_spark.plans.request import prune_rows_history

    t = transcripts.withColumn("__is_tool__", F.col("role") == "tool")
    rnk = F.row_number().over(
        Window.partitionBy("conv_id").orderBy(F.desc("ts"), F.desc("turn_idx")))
    tagged = t.withColumn("__rn__", rnk)
    reqs = tagged.filter(F.col("__rn__") <= 3).drop("__rn__")
    hist = tagged.filter(F.col("__rn__") > 3).drop("__rn__")

    fw = FeatureWindow(
        spec=WindowSpec(["conv_id"], "ts", "rows", 5, tiebreak=["turn_idx"]),
        aggs=[
            Agg("count_where", "turn_idx", "ntool", cond="__is_tool__"),
            Agg("distinct_count", "tool", "dtool"),
            Agg("lag", "tool", "prev8", n=8),   # positional past the frame
            Agg("first_value", "turn_idx", "fv"),
        ],
    )

    def canon(df):
        return sorted(
            (r.conv_id, r.turn_idx, r.ntool, r.dtool, r.prev8, r.fv)
            for r in df.collect())

    pruned = request_features(reqs, hist, "ts", [fw], prune=True)
    full = request_features(reqs, hist, "ts", [fw], prune=False)
    assert canon(pruned) == canon(full)

    # the kept set is O(requests × K), not the history
    kept = prune_rows_history(reqs, hist, fw.spec, fw.aggs)
    n_req, n_hist, n_kept = reqs.count(), hist.count(), kept.count()
    assert n_kept <= n_req * 8  # K = max(5, lag 8)
    assert n_kept < n_hist


def test_history_pruning_rows_range(spark, transcripts):
    """Time-based pruning for bounded ROWS_RANGE serving frames is
    invisible too (incl. a positional lag past the time window and
    MAXSIZE, which only shrinks frames)."""
    t = transcripts.withColumn("__is_tool__", F.col("role") == "tool")
    rnk = F.row_number().over(
        Window.partitionBy("conv_id").orderBy(F.desc("ts"), F.desc("turn_idx")))
    tagged = t.withColumn("__rn__", rnk)
    reqs = tagged.filter(F.col("__rn__") <= 3).drop("__rn__")
    hist = tagged.filter(F.col("__rn__") > 3).drop("__rn__")

    fw = FeatureWindow(
        spec=WindowSpec(["conv_id"], "ts", "rows_range", 1_800_000,
                        maxsize=7, tiebreak=["turn_idx"]),
        aggs=[
            Agg("count", "turn_idx", "n30"),
            Agg("sum_where", "turn_idx", "st", cond="__is_tool__"),
            Agg("lag", "tool", "prev4", n=4),
        ],
    )

    def canon(df):
        return sorted((r.conv_id, r.turn_idx, r.n30, r.st, r.prev4)
                      for r in df.collect())

    pruned = request_features(reqs, hist, "ts", [fw], prune=True)
    full = request_features(reqs, hist, "ts", [fw], prune=False)
    assert canon(pruned) == canon(full)


def test_request_isolation_decision_logged(spark, caplog):
    """request_features logs, once per key set, whether the window was
    isolated (plain union) or had key collisions (INSTANCE_NOT_IN_WINDOW)
    and whether history was pruned."""
    import logging

    hist = spark.createDataFrame(
        [("a", 1000 * i, i, float(i)) for i in range(6)]
        + [("b", 1000 * i, i, float(i)) for i in range(6)],
        "k string, ts long, i int, v double")
    rows = WindowSpec(["k"], "ts", "rows", 3, tiebreak=["i"])
    unbounded = WindowSpec(["k"], "ts", "rows", None, tiebreak=["i"])
    fws = [FeatureWindow(spec=rows, aggs=[Agg("sum", "v", "s3")]),
           FeatureWindow(spec=unbounded, aggs=[Agg("sum", "v", "s_all")])]

    def logged(requests, **kw):
        caplog.clear()
        with caplog.at_level(logging.INFO, logger="openmldb_spark"):
            request_features(requests, hist, "ts", fws, **kw)
        return [r.getMessage() for r in caplog.records
                if r.getMessage().startswith("request ")]

    one_each = spark.createDataFrame([("a", 9000, 100, 1.0), ("b", 9000, 100, 1.0)],
                                     hist.schema)
    two_a = spark.createDataFrame([("a", 9000, 100, 1.0), ("a", 3500, 101, 1.0)],
                                  hist.schema)
    assert logged(one_each) == [
        "request ['k']: plain union (isolated), history pruned in 0 of 2 windows"]
    # the bounded ROWS window prunes history, the unbounded one cannot
    assert logged(two_a) == [
        "request ['k']: INSTANCE_NOT_IN_WINDOW (key collisions), "
        "history pruned in 1 of 2 windows"]
    assert logged(two_a, prune=False) == [
        "request ['k']: INSTANCE_NOT_IN_WINDOW (key collisions), "
        "history pruned in 0 of 2 windows"]
    assert logged(one_each, independent=True) == [
        "request ['k']: INSTANCE_NOT_IN_WINDOW (independent=True), "
        "history pruned in 1 of 2 windows"]
