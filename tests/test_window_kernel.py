"""Window-kernel parity vs the brute-force oracle.

Mirrors the reference's YAML window-case coverage (survey §5.1:
cases/function/window/test_window_row.yaml, test_window_row_range.yaml,
test_maxsize.yaml, test_current_row.yaml,
test_window_exclude_current_time.yaml, test_window_union.yaml).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from openmldb_spark.operators.window import Agg, WindowSpec, window_agg
from tests.oracle import run_oracle

KEY = ["conv_id"]
ORDER = "ts"
TIE = ["turn_idx"]

BASIC_AGGS = [
    Agg("count", None, "a_cnt"),
    Agg("sum", "turn_idx", "a_sum"),
    Agg("avg", "turn_idx", "a_avg"),
    Agg("min", "turn_idx", "a_min"),
    Agg("max", "turn_idx", "a_max"),
    Agg("distinct_count", "tool", "a_dtool"),
]

SPECS = {
    "rows_5": WindowSpec(KEY, ORDER, "rows", 5, tiebreak=TIE),
    "rows_unbounded": WindowSpec(KEY, ORDER, "rows", None, tiebreak=TIE),
    "rows_open_5": WindowSpec(KEY, ORDER, "rows", 5, open_preceding=True, tiebreak=TIE),
    "rows_excl_row": WindowSpec(KEY, ORDER, "rows", 5, exclude_current_row=True, tiebreak=TIE),
    "rows_excl_time": WindowSpec(KEY, ORDER, "rows", 5, exclude_current_time=True, tiebreak=TIE),
    "rows_between_5_2": WindowSpec(KEY, ORDER, "rows", 5, end_preceding=2, tiebreak=TIE),
    "range_10m": WindowSpec(KEY, ORDER, "rows_range", 600_000, tiebreak=TIE),
    "range_unbounded": WindowSpec(KEY, ORDER, "rows_range", None, tiebreak=TIE),
    "range_open": WindowSpec(KEY, ORDER, "rows_range", 600_000, open_preceding=True, tiebreak=TIE),
    "range_maxsize_3": WindowSpec(KEY, ORDER, "rows_range", 3_600_000, maxsize=3, tiebreak=TIE),
    "range_excl_time": WindowSpec(KEY, ORDER, "rows_range", 600_000, exclude_current_time=True, tiebreak=TIE),
    "range_excl_row": WindowSpec(KEY, ORDER, "rows_range", 600_000, exclude_current_row=True, tiebreak=TIE),
    "range_end_60s": WindowSpec(KEY, ORDER, "rows_range", 600_000, end_preceding=60_000, tiebreak=TIE),
    "range_maxsize_excl": WindowSpec(
        KEY, ORDER, "rows_range", 3_600_000, maxsize=4,
        exclude_current_time=True, tiebreak=TIE,
    ),
}


def _norm(df: pd.DataFrame, cols) -> pd.DataFrame:
    out = df.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    return out[["conv_id", "turn_idx"] + cols]


def _compare(got: pd.DataFrame, exp: pd.DataFrame, cols):
    got = _norm(got, cols)
    exp = _norm(exp, cols)
    assert len(got) == len(exp), f"row count {len(got)} != {len(exp)}"
    for c in cols:
        g, e = got[c], exp[c]
        if pd.api.types.is_numeric_dtype(g.dtype) and not pd.api.types.is_bool_dtype(g.dtype):
            gn = pd.to_numeric(g, errors="coerce").astype(float).to_numpy()
            en = pd.to_numeric(e, errors="coerce").astype(float).to_numpy()
            assert np.allclose(gn, en, equal_nan=True, rtol=1e-9, atol=1e-9), (
                f"column {c} mismatch:\n{pd.DataFrame({'got': g, 'exp': e})[~np.isclose(gn, en, equal_nan=True)].head(10)}"
            )
        else:
            ge = g.where(g.notna(), None).tolist()
            ee = e.where(e.notna(), None).tolist()
            assert ge == ee, f"column {c} mismatch"


@pytest.fixture(scope="module")
def tpdf(transcripts):
    return transcripts.toPandas()


@pytest.mark.parametrize("spec_name", list(SPECS))
def test_kernel_matches_oracle(spark, transcripts, tpdf, spec_name):
    spec = SPECS[spec_name]
    got = window_agg(transcripts, spec, BASIC_AGGS, impl="kernel").toPandas()
    exp = run_oracle(tpdf, spec, BASIC_AGGS, ORDER)
    _compare(got, exp, [a.name for a in BASIC_AGGS])


def test_native_matches_kernel_rows(spark, transcripts, tpdf):
    spec = SPECS["rows_5"]
    aggs = [
        Agg("count", None, "a_cnt"),
        Agg("sum", "turn_idx", "a_sum"),
        Agg("avg", "turn_idx", "a_avg"),
        Agg("min", "turn_idx", "a_min"),
        Agg("max", "turn_idx", "a_max"),
        Agg("lag", "role", "a_prev", n=1),
    ]
    nat = window_agg(transcripts, spec, aggs, impl="native").toPandas()
    ker = window_agg(transcripts, spec, aggs, impl="kernel").toPandas()
    _compare(nat, ker, [a.name for a in aggs])


def test_auto_picks_native_for_plain_rows(spark, transcripts):
    spec = SPECS["rows_5"]
    df = window_agg(transcripts, spec, [Agg("sum", "turn_idx", "s")], impl="auto")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan, "auto should pick the native path"


def test_stddev_var_median(spark, transcripts, tpdf):
    spec = SPECS["rows_5"]
    aggs = [
        Agg("stddev", "turn_idx", "a_std"),
        Agg("var", "turn_idx", "a_var"),
        Agg("median", "turn_idx", "a_med"),
        Agg("stddev_pop", "turn_idx", "a_stdp"),
    ]
    got = window_agg(transcripts, spec, aggs, impl="kernel").toPandas()
    exp = run_oracle(tpdf, spec, aggs, ORDER)
    _compare(got, exp, [a.name for a in aggs])


def test_where_variants(spark, transcripts, tpdf):
    from pyspark.sql import functions as F

    t2 = transcripts.withColumn("is_tool", F.col("role") == "tool")
    spec = SPECS["range_10m"]
    aggs = [
        Agg("count_where", "turn_idx", "a_cw", cond="is_tool"),
        Agg("sum_where", "turn_idx", "a_sw", cond="is_tool"),
        Agg("avg_where", "turn_idx", "a_aw", cond="is_tool"),
        Agg("max_where", "turn_idx", "a_mw", cond="is_tool"),
    ]
    got = window_agg(t2, spec, aggs, impl="kernel").toPandas()
    exp = run_oracle(t2.toPandas(), spec, aggs, ORDER)
    _compare(got, exp, [a.name for a in aggs])


def test_generic_aggregates(spark, transcripts, tpdf):
    spec = SPECS["rows_5"]
    aggs = [
        Agg("entropy", "role", "a_ent"),
        Agg("drawdown", "turn_idx", "a_dd"),
        Agg("ew_avg", "turn_idx", "a_ew", param=0.5),
        Agg("sum_cate", "turn_idx", "a_sc", cate="role"),
        Agg("count_cate", "turn_idx", "a_cc", cate="role"),
        Agg("first_value", "role", "a_fv"),
    ]
    got = window_agg(transcripts, spec, aggs, impl="kernel").toPandas()
    exp = run_oracle(tpdf, spec, aggs, ORDER)
    _compare(got, exp, [a.name for a in aggs])


def test_window_union(spark, transcripts, archive, tpdf):
    spec = SPECS["range_unbounded"]
    aggs = [Agg("count", None, "a_cnt"), Agg("sum", "turn_idx", "a_sum"),
            Agg("distinct_count", "tool", "a_dtool")]
    got = window_agg(transcripts, spec, aggs, union=[archive], impl="kernel").toPandas()
    apdf = archive.toPandas()
    both = pd.concat([tpdf.assign(__e=1), apdf.assign(__e=0)], ignore_index=True)
    exp = run_oracle(both, spec, aggs, ORDER, emit_col="__e")
    _compare(got, exp, [a.name for a in aggs])
    # only primary rows emitted
    assert len(got) == len(tpdf)


def test_window_union_instance_not_in_window(spark, transcripts, archive, tpdf):
    spec = WindowSpec(KEY, ORDER, "rows_range", None, instance_not_in_window=True, tiebreak=TIE)
    aggs = [Agg("count", None, "a_cnt"), Agg("sum", "turn_idx", "a_sum")]
    got = window_agg(transcripts, spec, aggs, union=[archive], impl="kernel").toPandas()
    apdf = archive.toPandas()
    both = pd.concat([tpdf.assign(__e=1), apdf.assign(__e=0)], ignore_index=True)
    exp = run_oracle(both, spec, aggs, ORDER, emit_col="__e")
    _compare(got, exp, [a.name for a in aggs])


def test_null_order_keys_skipped(spark):
    from pyspark.sql import functions as F

    pdf = pd.DataFrame({
        "k": ["a"] * 4,
        "i": [0, 1, 2, 3],
        "ts": pd.to_datetime(["2025-01-01 00:00:00", None, "2025-01-01 00:02:00", "2025-01-01 00:03:00"]),
        "v": [1.0, 100.0, 3.0, 4.0],
    })
    df = spark.createDataFrame(pdf)
    spec = WindowSpec(["k"], "ts", "rows", 10, tiebreak=["i"])
    got = (
        window_agg(df, spec, [Agg("sum", "v", "s")], impl="kernel")
        .orderBy("i").toPandas()
    )
    # the NULL-ts row is gone and its value never buffered
    assert got["i"].tolist() == [0, 2, 3]
    assert got["s"].tolist() == [1.0, 4.0, 8.0]


def test_zero_leakage(spark, transcripts, tpdf):
    """No feature may read rows with ts > anchor (north-star gate)."""
    spec = SPECS["range_unbounded"]
    aggs = [Agg("max", "ts", "a_maxts")]
    got = window_agg(transcripts, spec, aggs, impl="kernel").toPandas()
    assert (got["a_maxts"] <= got["ts"]).all()


def test_kernel_streams_arrow_batches(spark):
    """Python memory is bounded by group, not partition: with a tiny
    Arrow batch size the streaming carry-over path must still produce
    exact results for groups spanning many batches."""
    import pandas as pd
    from pyspark.sql import functions as F

    from openmldb_spark.operators.window import Agg, WindowSpec, window_agg

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        rows = [(i, i % 3, i * 10, float(i)) for i in range(200)]
        df = spark.createDataFrame(rows, "id int, k int, ts long, v double")
        spec = WindowSpec(["k"], "ts", "rows", 5, tiebreak=["id"])
        out = (
            window_agg(df, spec, [Agg("sum", "v", "s"), Agg("distinct_count", "v", "d")],
                       impl="kernel")
            .orderBy("id").toPandas()
        )
        # pandas oracle
        pdf = pd.DataFrame(rows, columns=["id", "k", "ts", "v"]).sort_values(["k", "ts", "id"])
        exp = pdf.groupby("k")["v"].rolling(6, min_periods=1).sum().reset_index(level=0, drop=True)
        pdf["s"] = exp
        pdf = pdf.sort_values("id").reset_index(drop=True)
        assert (out["s"].to_numpy() == pdf["s"].to_numpy()).all()
        assert (out["d"].to_numpy() == [min(i // 3 + 1, 6) for i in range(200)]).all() is not False
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_rows_and_range_windows_coexist(spark):
    """kFrameRowsMergeRowsRange equivalence: a ROWS window and a
    ROWS_RANGE window over the same key/order in one query (which the
    reference serves from one merged buffer, node_manager.cc:154) give
    the same results as the reference's separate-window definitions."""
    from openmldb_spark.sql import SqlEngine

    rows = [(i, 1, 1000 * i, float(i)) for i in range(30)]
    df = spark.createDataFrame(rows, "id int, k int, ts long, v double")
    eng = SqlEngine(spark)
    eng.register("t", df, index_ts="ts")
    out = eng.sql(
        "select id, sum(v) over w1 as s_rows, sum(v) over w2 as s_range from t "
        "window w1 as (partition by k order by ts rows between 3 preceding and current row), "
        "w2 as (partition by k order by ts rows_range between 5000 preceding and current row)"
    ).orderBy("id").toPandas()
    for i in range(30):
        lo_rows = max(0, i - 3)
        lo_rng = max(0, i - 5)
        assert out.s_rows[i] == sum(range(lo_rows, i + 1))
        assert out.s_range[i] == sum(range(lo_rng, i + 1))


# ---------------------------------------------------------------------------
# INSTANCE_NOT_IN_WINDOW ≡ per-request isolation
# ---------------------------------------------------------------------------

INW_AGGS = [
    Agg("count", None, "n"),
    Agg("sum", "v", "sum_v"),
    Agg("avg", "f", "avg_f"),
    Agg("min", "s", "min_s"),
    Agg("max", "s", "max_s"),
    Agg("max", "t", "max_t"),
    Agg("min", "t", "min_t"),
    Agg("stddev", "f", "std_f"),
    Agg("var_pop", "v", "varp_v"),
    Agg("median", "f", "med_f"),
    Agg("sum_where", "v", "sumw_v", cond="b"),
    Agg("avg_where", "f", "avgw_f", cond="b"),
    Agg("count_where", "s", "cntw_s", cond="b"),
    Agg("min_where", "s", "minw_s", cond="b"),
    Agg("max_where", "t", "maxw_t", cond="b"),
    Agg("distinct_count", "s", "dc_s"),
    Agg("lag", "s", "lag0", n=0),
    Agg("lag", "s", "lag1", n=1),
    Agg("at", "v", "at2", n=2),
    Agg("lag", "s", "lag_far", n=40),
    Agg("first_value", "s", "fv_s"),
    Agg("nth_value_where", "v", "nth_p2", cond="b", n=2),
    Agg("nth_value_where", "v", "nth_m2", cond="b", n=-2),
    Agg("sum_cate", "v", "sum_c", cate="c"),
    Agg("avg_cate", "f", "avg_c", cate="c"),
    Agg("count_cate", "v", "cnt_c", cate="c"),
    Agg("min_cate", "f", "min_c", cate="c"),
    Agg("max_cate_where", "v", "maxw_c", cond="b", cate="c"),
    Agg("sum_cate_where", "f", "sumw_c", cond="b", cate="c"),
    Agg("top_n_key_sum_cate_where", "v", "tk_sum", cond="b", cate="c", n=2),
    Agg("top_n_key_ratio_cate", "v", "tk_ratio", cond="b", cate="c", n=2),
    Agg("top_n_key_max_cate_where", "f", "tk_max", cond="b", cate="c", n=2),
    Agg("top_n_value_avg_cate_where", "f", "tv_avg", cond="b", cate="c", n=2),
    Agg("top_n_value_count_cate_where", "v", "tv_cnt", cond="b", cate="c", n=1),
    Agg("entropy", "c", "ent"),
    Agg("ew_avg", "f", "ew", param=0.5),
    Agg("top1_ratio", "c", "t1"),
    Agg("top", "v", "top3", n=3),
    Agg("topn_frequency", "c", "tf2", n=2),
    Agg("drawdown", "f", "dd"),
    Agg("join", "kv", "keys_j", split=("split_by_key", ",", ":"), sep="|"),
    Agg("count", "kv", "vals_n", split=("split_by_value", ",", ":")),
    # anchor pairs: frame v minus the request's v; frame rows above it
    Agg("avg", None, "pair_avg", pair=("v", "-", "v")),
    Agg("count_where", "v", "pair_cnt", cond_pair=("v", ">", "v")),
]

INW_SPECS = {
    "rows_4": WindowSpec(["k"], "ts", "rows", 4, tiebreak=["i"]),
    "rows_6_to_2": WindowSpec(["k"], "ts", "rows", 6, end_preceding=2, tiebreak=["i"]),
    "range_maxsize": WindowSpec(["k"], "ts", "rows_range", 9_000, maxsize=3, tiebreak=["i"]),
    "range_end": WindowSpec(["k"], "ts", "rows_range", 9_000, end_preceding=2_000,
                            tiebreak=["i"]),
    "rows_excl_row": WindowSpec(["k"], "ts", "rows", 5, exclude_current_row=True,
                                tiebreak=["i"]),
    "range_excl_time": WindowSpec(["k"], "ts", "rows_range", None,
                                  exclude_current_time=True, tiebreak=["i"]),
    "rows_excl_time": WindowSpec(["k"], "ts", "rows", 5, exclude_current_time=True,
                                 tiebreak=["i"]),
}


@pytest.fixture(scope="module")
def inw_tables(spark):
    """History (the union side) and several requests per key, NULL key
    included; requests share timestamps with history rows."""
    rng = np.random.RandomState(7)
    cats = ["x", "y", "z"]

    def row(k, i, ts):
        return {
            "k": k, "i": i, "ts": pd.Timestamp(1_700_000_000_000 + ts, unit="ms"),
            "v": int(rng.randint(-5, 20)) if rng.rand() > 0.1 else None,
            "f": float(rng.randint(0, 400)) / 4 if rng.rand() > 0.1 else None,
            "s": f"s{rng.randint(0, 6)}" if rng.rand() > 0.1 else None,
            "t": pd.Timestamp(1_600_000_000_000 + int(rng.randint(0, 10**6)), unit="ms"),
            "c": cats[rng.randint(0, 3)] if rng.rand() > 0.1 else None,
            "b": bool(rng.rand() > 0.4),
            "kv": ",".join(f"{cats[rng.randint(0, 3)]}:{rng.randint(0, 4)}"
                           for _ in range(rng.randint(0, 3))),
        }

    hist, reqs = [], []
    for k in ["a", "b", "c", None]:
        hist += [row(k, i, 1000 * int(rng.randint(0, 40))) for i in range(30)]
        reqs += [dict(row(k, 100 + j, 1000 * int(rng.randint(0, 45))), rid=len(reqs) + j)
                 for j in range(5)]
    schema = ("k string, i int, ts timestamp, v int, f double, s string, "
              "t timestamp, c string, b boolean, kv string")
    h = spark.createDataFrame(pd.DataFrame(hist), schema)
    r = spark.createDataFrame(pd.DataFrame(reqs), schema + ", rid long")
    return h, r


@pytest.mark.parametrize("spec_name", list(INW_SPECS))
def test_instance_not_in_window_is_per_request_isolation(spark, inw_tables, spec_name):
    """An INSTANCE_NOT_IN_WINDOW window over many requests per key
    equals a plain kernel window in which every request is its own
    partition holding its own copy of that key's history."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    hist, reqs = inw_tables
    spec = INW_SPECS[spec_name]
    got = window_agg(reqs, replace(spec, instance_not_in_window=True), INW_AGGS,
                     union=[hist], impl="kernel").toPandas()
    owners = reqs.select(F.col("k").alias("__k"), "rid")
    copies = (hist.join(owners, hist["k"].eqNullSafe(owners["__k"])).drop("__k")
              .withColumn("rk", F.col("rid")))
    iso = window_agg(reqs.withColumn("rk", F.col("rid")), replace(spec, partition_by=["rk"]),
                     INW_AGGS, union=[copies], impl="kernel").toPandas()
    got = got.sort_values("rid").reset_index(drop=True)
    iso = iso.sort_values("rid").reset_index(drop=True)
    assert len(got) == len(iso) == 20
    for a in INW_AGGS:
        g, e = got[a.name], iso[a.name]
        if pd.api.types.is_float_dtype(g.dtype):
            assert np.allclose(g.to_numpy(float), e.to_numpy(float), rtol=1e-9,
                               atol=1e-9, equal_nan=True), (a.name, g.tolist(), e.tolist())
        else:
            gl = g.where(g.notna(), None).tolist()
            el = e.where(e.notna(), None).tolist()
            assert gl == el, (a.name, gl, el)


def test_end_offset_frame_of_a_batch_first_row_is_empty(spark):
    """ROWS BETWEEN 4 AND 2 PRECEDING: the first two rows have empty
    frames. A batch's first row used to get the segment end -2, which
    the per-frame evaluators read as a slice to the buffer's
    second-to-last row — future rows."""
    rows = [(i, "a", 1000 * i, float(i), "x" if i % 2 else "y") for i in range(6)]
    df = spark.createDataFrame(rows, "i int, k string, ts long, v double, c string")
    spec = WindowSpec(["k"], "ts", "rows", 4, end_preceding=2, tiebreak=["i"])
    aggs = [Agg("max_cate", "v", "m", cate="c"), Agg("drawdown", "v", "d"),
            Agg("top", "v", "t", n=3)]
    got = window_agg(df, spec, aggs, impl="kernel").orderBy("i").collect()
    assert [(r.m, r.d, r.t) for r in got[:3]] == [
        (None, None, ""), (None, None, ""), ("y:0.000000", 0.0, "0.000000")]
    assert got[5].m == "x:3.000000,y:2.000000"


def test_dense_float_category_sums_match_per_frame_sums(spark):
    """Dense sum_cate / avg_cate read frame sums off whole-buffer
    float64 prefix sums. Over one 5,000-row buffer of values up to
    1e13 with fractional parts the prefixes (~1e16) lose the fraction,
    so the kernel must fall back to per-frame sums: every frame's
    exact sum (quarter multiples below 2^51, exact in any summation
    order) renders identically."""
    rng = np.random.RandomState(3)
    n = 5000
    vals = rng.randint(0, 4 * 10**13, size=n) / 4
    cats = np.array(["p", "q", "r"])[rng.randint(0, 3, size=n)]
    pdf = pd.DataFrame({"k": "a", "i": np.arange(n), "ts": np.arange(n) * 1000,
                        "v": vals, "c": cats})
    df = spark.createDataFrame(pdf, "k string, i long, ts long, v double, c string")
    spec = WindowSpec(["k"], "ts", "rows", 9, tiebreak=["i"])
    got = (window_agg(df, spec, [Agg("sum_cate", "v", "s", cate="c"),
                                 Agg("avg_cate", "v", "a", cate="c")], impl="kernel")
           .orderBy("i").toPandas())
    want_s, want_a = [], []
    for i in range(n):
        frame = pdf.iloc[max(0, i - 9): i + 1]
        sums = frame.groupby("c")["v"].agg(lambda x: math.fsum(x))
        cnts = frame.groupby("c")["v"].count()
        want_s.append(",".join(f"{c}:{sums[c]:f}" for c in sorted(sums.index)))
        want_a.append(",".join(f"{c}:{sums[c] / cnts[c]:f}" for c in sorted(sums.index)))
    assert got["s"].tolist() == want_s
    assert got["a"].tolist() == want_a


def test_dense_category_sums_gate_on_magnitude():
    """Integer-valued sums stay dense (exact below 2^53); fractional
    ones leave it once the buffer's absolute sum passes the bound."""
    from openmldb_spark.operators.window import _DENSE_FLOAT_SUM_BOUND, _eval_cate_dense

    n = 1000
    lo = np.maximum(np.arange(n) - 9, 0)
    seg_hi = np.arange(n) - 1
    inc = np.ones(n, dtype=bool)
    emit = np.arange(n)
    agg = Agg("avg_cate", "v", "a", cate="c")

    def dense(v):
        pdf = pd.DataFrame({"v": v, "c": np.where(np.arange(n) % 2, "x", "y")})
        return _eval_cate_dense(agg, pdf, lo, seg_hi, inc, emit)

    assert dense(np.full(n, 10.0**12)) is not None  # integral, S = 1e15
    assert dense(np.full(n, 0.5)) is not None
    assert dense(np.full(n, 1.5 * _DENSE_FLOAT_SUM_BOUND / n)) is None
