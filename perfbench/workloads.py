"""The workloads, each driven through the engine's public API.

A workload has ``setup(dir)`` (write seeded inputs, register, DEPLOY,
build state), ``prepare_checks()`` (build the expected outputs),
``op(i)`` (one timed operation: a backfill iteration or an ingest_serve
cycle) and ``check(result)`` (count of wrong rows in that operation's
output). Inputs come from ``openmldb_spark.data.lcg`` so DuckDB can
regenerate them.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F

from perfbench import oracles

HOUR_MS = 3_600_000
TURN_SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def write_lcg(spark, path: str, n_convs: int, avg_turns: int, seed: int, meta: bool = True):
    """Write the LCG transcripts (and, with ``meta``, conv_meta) tables
    under ``path`` and return them read back from parquet."""
    from openmldb_spark.data.lcg import generate_conv_meta_lcg, generate_transcripts_lcg

    t = generate_transcripts_lcg(spark, n_convs=n_convs, avg_turns=avg_turns, seed=seed)
    t.write.parquet(f"{path}/transcripts")
    if not meta:
        return spark.read.parquet(f"{path}/transcripts"), None
    generate_conv_meta_lcg(spark, n_convs=n_convs, seed=seed).write.parquet(f"{path}/meta")
    return spark.read.parquet(f"{path}/transcripts"), spark.read.parquet(f"{path}/meta")


def new_turns(rng: np.random.Generator, last: pd.DataFrame, convs: np.ndarray,
              step: int) -> pd.DataFrame:
    """One new turn ``step`` positions after each conv's last stored
    turn, 1 s to 10 min after its last timestamp (``last`` is indexed by
    conv_id with columns turn_idx, ts_ms)."""
    prev = last.loc[convs]
    ts_ms = prev["ts_ms"].to_numpy() + rng.integers(1_000, 600_000, len(convs))
    turn_idx = prev["turn_idx"].to_numpy() + step
    role = np.array(["user", "assistant", "tool"])[rng.integers(0, 3, len(convs))]
    tools = np.array(["search", "code", "browser", "sql"])[rng.integers(0, 4, len(convs))]
    return pd.DataFrame({
        "conv_id": convs,
        "turn_idx": turn_idx.astype("int32"),
        "role": role,
        "text": [f"req {c}:{t}" for c, t in zip(convs, turn_idx)],
        "tool": np.where(role == "tool", tools, None),
        "ts": pd.to_datetime(ts_ms, unit="ms"),
    })


class Workload:
    def __init__(self, spark, seed: int, tracer):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer


class Backfill(Workload):
    """``backfill_features`` over ~110k turns: as-of LAST JOIN, a skewed
    ROWS-10 window (native route), a ROWS_RANGE 1h window of kernel-only
    aggregates (MapInPandas route) and sessionize."""

    name = "backfill"
    N_CONVS, AVG_TURNS = 1000, 100

    def setup(self, path: str) -> None:
        self.path = path
        self.turns, self.meta = write_lcg(self.spark, path, self.N_CONVS, self.AVG_TURNS, self.seed)

    def prepare_checks(self) -> None:
        self.expect = oracles.BackfillOracle(self.N_CONVS, self.AVG_TURNS, self.seed)
        self.rows_per_op = self.expect.n_rows

    def features(self):
        from openmldb_spark import Agg, WindowSpec
        from openmldb_spark.plans.backfill import AsOfSource, FeatureWindow, backfill_features

        primary = self.turns.withColumn("__is_tool__", F.col("role") == "tool")
        rows10 = FeatureWindow(
            spec=WindowSpec(["conv_id"], "ts", "rows", 10, tiebreak=["turn_idx"]),
            aggs=[Agg("count_where", "turn_idx", "n_tool_calls_10", cond="__is_tool__"),
                  Agg("distinct_count", "tool", "n_distinct_tools_10"),
                  Agg("lag", "tool", "prev_tool", n=1),
                  Agg("lag", "role", "prev_role", n=1),
                  Agg("count", None, "n_turns_10")],
            skew=True, skew_quantiles=8, skew_hot_threshold=100_000,
            row_key=["conv_id", "turn_idx"])
        range1h = FeatureWindow(
            spec=WindowSpec(["conv_id"], "ts", "rows_range", HOUR_MS, tiebreak=["turn_idx"]),
            aggs=[Agg("entropy", "role", "role_entropy_1h"),
                  Agg("ew_avg", "turn_idx", "turn_ew_avg_1h", param=0.5),
                  Agg("avg_cate", "turn_idx", "turn_avg_by_role_1h", cate="role"),
                  Agg("top_n_key_count_cate_where", "turn_idx", "top_tools_1h",
                      cond="__is_tool__", cate="tool", n=2)],
            row_key=["conv_id", "turn_idx"])
        return backfill_features(
            primary, "ts", [rows10, range1h],
            asof=[AsOfSource(self.meta, on=["conv_id"], right_ts="ts", prefix="m_",
                             how="union_asof")],
            session_key="conv_id", session_gap=1800.0, session_tiebreak=["turn_idx"],
        ).drop("__is_tool__")

    def op(self, i: int) -> dict:
        out = f"{self.path}/out"
        self.spark.catalog.clearCache()
        t0 = time.perf_counter()
        with self.tracer.span("plans.build"):
            df = self.features()
        with self.tracer.span("sink"):
            df.write.mode("overwrite").parquet(out)
        return {"wall": time.perf_counter() - t0, "result": out}

    def check(self, result) -> int:
        return self.expect.check(result)


class IngestServe(Workload):
    """DEPLOY with a long-window pre-aggregate (UNBOUNDED sum/count/max
    under ``long_windows``). Each cycle INSERTs a micro-batch of newer
    turns, then runs one request that must see it and one read-only
    request, each with one row for every conv."""

    name = "ingest_serve"
    N_CONVS, AVG_TURNS = 500, 40
    BATCH = 50
    DEPLOY = (
        'DEPLOY lw OPTIONS(long_windows="w:1h") SELECT conv_id, turn_idx, ts, '
        "sum(turn_idx) OVER w AS s, count(turn_idx) OVER w AS c, max(turn_idx) OVER w AS mx "
        "FROM turns WINDOW w AS (PARTITION BY conv_id ORDER BY ts "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")

    def setup(self, path: str) -> None:
        from openmldb_spark.sql import SqlEngine

        turns, _ = write_lcg(self.spark, path, self.N_CONVS, self.AVG_TURNS, self.seed, meta=False)
        self.engine = SqlEngine(self.spark)
        self.engine.register("turns", turns)
        self.engine.sql(self.DEPLOY)
        # the pre-agg state builds from stored history at the first request
        self.engine.request("lw", turns.limit(1)).collect()

    def prepare_checks(self) -> None:
        self.expect = oracles.IngestOracle(self.N_CONVS, self.AVG_TURNS, self.seed)
        self.rows_per_op = self.BATCH + 2 * self.N_CONVS
        self.rng = np.random.default_rng([self.seed, 2])

    def op(self, i: int) -> dict:
        last = self.expect.last()
        convs = last.index.to_numpy()
        batch = new_turns(self.rng, last, self.rng.choice(convs, self.BATCH, replace=False), 1)
        stored = pd.concat([last.drop(batch["conv_id"]),
                            oracles.ts_ms(batch).set_index("conv_id")[["turn_idx", "ts_ms"]]])
        fresh_req = new_turns(self.rng, stored, convs, 1)
        read_req = new_turns(self.rng, stored, convs, 2)
        name = f"batch_{i}"
        self.engine.register(name, self.spark.createDataFrame(batch, TURN_SCHEMA))
        fresh_df = self.spark.createDataFrame(fresh_req, TURN_SCHEMA)
        read_df = self.spark.createDataFrame(read_req, TURN_SCHEMA)
        t0 = time.perf_counter()
        with self.tracer.span("sql.build", call="insert"):
            self.engine.sql(f"INSERT INTO turns SELECT * FROM {name}")
        with self.tracer.span("sql.build", call="request"):
            df = self.engine.request("lw", fresh_df)
        with self.tracer.span("collect"):
            fresh = df.toPandas()
        t1 = time.perf_counter()
        with self.tracer.span("sql.build", call="request"):
            df = self.engine.request("lw", read_df)
        with self.tracer.span("collect"):
            read = df.toPandas()
        t2 = time.perf_counter()
        self.expect.insert(batch)
        return {"wall": t2 - t0, "fresh": t1 - t0, "request": t2 - t1,
                "inserted_bytes": pa.Table.from_pandas(batch, preserve_index=False).nbytes,
                "result": ((fresh_req, fresh), (read_req, read))}

    def check(self, result) -> int:
        return sum(self.expect.check(req, rows) for req, rows in result)


WORKLOADS = {w.name: w for w in (Backfill, IngestServe)}
