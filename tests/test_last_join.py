"""LAST JOIN parity across all three physical strategies.

Semantics model: reference ``cases/function/join/test_lastjoin_simple.yaml``
/ ``JOIN_CLAUSE.md`` — one output row per left row; max-order-key match;
NULLs for unmatched; point-in-time condition ``right.ts <= left.ts``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from openmldb_spark.operators.last_join import last_join


def _pandas_asof_oracle(lpdf, rpdf, key, lts, rts, val_cols, strict=False):
    """Independent per-row oracle: scan all right rows."""
    out = []
    for _, lr in lpdf.iterrows():
        cands = rpdf[rpdf[key] == lr[key]]
        if strict:
            cands = cands[cands[rts] < lr[lts]]
        else:
            cands = cands[cands[rts] <= lr[lts]]
        rec = dict(lr)
        if len(cands):
            # max order key; tie-break by value cols desc (deterministic)
            cands = cands.sort_values([rts] + val_cols, kind="mergesort")
            best = cands.iloc[-1]
            for c in val_cols:
                rec[c] = best[c]
        else:
            for c in val_cols:
                rec[c] = None
        out.append(rec)
    return pd.DataFrame(out)


@pytest.fixture(scope="module")
def oracle_result(transcripts, conv_meta):
    lpdf = transcripts.toPandas()
    rpdf = conv_meta.toPandas()
    return _pandas_asof_oracle(
        lpdf, rpdf, "conv_id", "ts", "ts",
        ["model", "channel", "priority"],
    )


def _norm(pdf, cols):
    out = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    out = out[cols].astype(object)
    return out.where(out.notna(), None)


@pytest.mark.parametrize("how", ["broadcast", "shuffle", "union_asof"])
def test_asof_last_join_strategies(spark, transcripts, conv_meta, oracle_result, how):
    kwargs = dict(
        on=["conv_id"], order_by="ts",
        asof_left_ts="ts", asof_right_ts="ts",
        right_prefix="m_",
    )
    got = last_join(transcripts, conv_meta, how=how, **kwargs).toPandas()
    cols = ["conv_id", "turn_idx", "m_model", "m_channel", "m_priority"]
    exp = oracle_result.rename(columns={"model": "m_model", "channel": "m_channel", "priority": "m_priority"})
    g = _norm(got, cols)
    e = _norm(exp, cols)
    assert len(g) == len(e)
    for c in cols:
        assert g[c].tolist() == e[c].tolist(), f"{how}: column {c} mismatch"


def test_strict_less_than(spark, transcripts, conv_meta):
    got = last_join(
        transcripts, conv_meta, on=["conv_id"], order_by="ts",
        asof_left_ts="ts", asof_right_ts="ts", strict=True,
        right_prefix="m_", how="union_asof",
    ).toPandas()
    lpdf = transcripts.toPandas()
    rpdf = conv_meta.toPandas()
    exp = _pandas_asof_oracle(lpdf, rpdf, "conv_id", "ts", "ts",
                              ["model", "channel", "priority"], strict=True)
    cols = ["conv_id", "turn_idx", "m_model"]
    g = _norm(got, cols)
    e = _norm(exp.rename(columns={"model": "m_model"}), cols)
    assert g["m_model"].tolist() == e["m_model"].tolist()



def test_unknown_strategy_rejected(spark, transcripts, conv_meta):
    """A strategy name the operator does not have raises instead of
    silently running the shuffle plan (``merge_asof`` was deleted)."""
    with pytest.raises(ValueError, match="merge_asof"):
        last_join(transcripts, conv_meta, on=["conv_id"], order_by="ts",
                  asof_left_ts="ts", asof_right_ts="ts", right_prefix="m_",
                  how="merge_asof")

def test_left_rows_preserved_exactly_once(spark, transcripts, conv_meta):
    got = last_join(
        transcripts, conv_meta, on=["conv_id"], order_by="ts",
        asof_left_ts="ts", asof_right_ts="ts", right_prefix="m_", how="shuffle",
    )
    n_left = transcripts.count()
    assert got.count() == n_left
    assert got.select("conv_id", "turn_idx").distinct().count() == n_left


def test_unmatched_left_rows_null(spark, transcripts, conv_meta):
    covered = {r["conv_id"] for r in conv_meta.select("conv_id").distinct().collect()}
    got = last_join(
        transcripts, conv_meta, on=["conv_id"], order_by="ts",
        asof_left_ts="ts", asof_right_ts="ts", right_prefix="m_", how="union_asof",
    ).toPandas()
    uncovered = got[~got["conv_id"].isin(covered)]
    assert len(uncovered) > 0, "fixture should leave some convs uncovered"
    assert uncovered["m_model"].isna().all()


def test_unordered_last_join(spark):
    lpdf = pd.DataFrame({"k": ["a", "b", "c"], "x": [1, 2, 3]})
    rpdf = pd.DataFrame({"k": ["a", "a", "b"], "v": [10, 20, 30]})
    left = spark.createDataFrame(lpdf)
    right = spark.createDataFrame(rpdf)
    got = (
        last_join(left, right, on=["k"], how="shuffle")
        .orderBy("k").toPandas()
    )
    assert len(got) == 3
    # deterministic: max tie-break value survives for duplicate key 'a'
    assert got.loc[got.k == "a", "v"].iloc[0] == 20
    assert pd.isna(got.loc[got.k == "c", "v"]).all()


def test_broadcast_plan_is_broadcast(spark, transcripts, conv_meta):
    df = last_join(
        transcripts, conv_meta, on=["conv_id"], order_by="ts",
        asof_left_ts="ts", asof_right_ts="ts", right_prefix="m_", how="broadcast",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_map_column_left_side(spark):
    """Unorderable (MapType) left columns must not break the
    replay-deterministic row tagging (ADVICE r4)."""
    from pyspark.sql import functions as F

    lpdf = pd.DataFrame({"k": ["a", "b", "c"], "x": [1, 2, 3]})
    left = spark.createDataFrame(lpdf).withColumn(
        "props", F.create_map(F.lit("n"), F.col("x")))
    right = spark.createDataFrame(pd.DataFrame({"k": ["a", "b"], "v": [10, 30]}))
    got = last_join(left, right, on=["k"], how="shuffle").orderBy("k").toPandas()
    assert len(got) == 3
    assert got.loc[got.k == "a", "v"].iloc[0] == 10
    assert pd.isna(got.loc[got.k == "c", "v"]).all()
