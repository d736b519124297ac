"""Time long-window pre-agg reads on one read route at a given state size.

The state holds one stored row per (key, hour), so it has KEYS × HOURS
(key, bucket) pairs. The route is forced by setting the residency bound
(``operators/preagg.py:_RESIDENT_PAIRS``) above or below every state:
``resident`` keeps the merged partials on the driver (requests are
answered there, writes fold their own generation in), ``distributed``
merges the generations in Spark on every read.

- ``serve``: a long-window DEPLOY (sum/count/max, UNBOUNDED frame) over
  that table; each cycle INSERTs 50 rows, then runs two 500-row
  requests (the ``ingest_serve`` benchmark's cycle shape).
- ``append``: ``PreAggTable.append`` of 50 rows, feature rows collected.

Prints one line with the median of CYCLES timed cycles after one
warm-up cycle.

Usage: python tools/preagg_residency.py {serve,append} {resident,distributed}
       KEYS HOURS [CYCLES]
"""

from __future__ import annotations

import shutil
import statistics
import sys
import tempfile
import time

import numpy as np
import pandas as pd

sys.path.insert(0, ".")

HOUR = 3_600_000
BASE = 1_700_000_000_000
SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def history(spark, keys: int, lo: int, hi: int, t0: int):
    """Rows ``lo`` .. ``hi``: row i is key i % keys, in hour (i - lo) // keys
    after ``t0``."""
    from pyspark.sql import functions as F

    i = F.col("id")
    hour = ((i - lo) / keys).cast("long")
    return spark.range(lo, hi).select(
        F.format_string("c%06d", i % keys).alias("conv_id"),
        hour.cast("int").alias("turn_idx"),
        F.lit("user").alias("role"), F.lit("x").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        ((F.lit(t0) + hour * HOUR + (i * 7919) % 3_000_000) / 1000).cast("timestamp").alias("ts"))


def serve(spark, work: str, keys: int, hours: int, cycles: int) -> list[float]:
    from openmldb_spark.sql import SqlEngine

    history(spark, keys, 0, keys * hours, BASE).write.parquet(f"{work}/turns")
    turns = spark.read.parquet(f"{work}/turns")
    eng = SqlEngine(spark)
    eng.register("turns", turns)
    eng.sql('DEPLOY lw OPTIONS(long_windows="w:1h") SELECT conv_id, turn_idx, ts, '
            "sum(turn_idx) OVER w AS s, count(turn_idx) OVER w AS c, max(turn_idx) OVER w AS mx "
            "FROM turns WINDOW w AS (PARTITION BY conv_id ORDER BY ts "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
    eng.request("lw", turns.limit(1)).collect()  # builds the state
    rng = np.random.default_rng(7)
    n_req = min(500, keys)

    def rows(convs, ts_ms, idx):
        return spark.createDataFrame(pd.DataFrame({
            "conv_id": [f"c{c:06d}" for c in convs],
            "turn_idx": np.full(len(convs), idx, "int32"), "role": "user", "text": "r",
            "tool": None, "ts": pd.to_datetime(np.full(len(convs), ts_ms), unit="ms")}), SCHEMA)

    now, times = BASE + hours * HOUR, []
    for i in range(cycles + 1):
        now += 60_000
        eng.register(f"b{i}", rows(rng.choice(keys, 50, replace=False), now, hours + i))
        convs = rng.choice(keys, n_req, replace=False)
        fresh, read = rows(convs, now + 1000, hours + i + 1), rows(convs, now + 2000, hours + i + 2)
        t0 = time.perf_counter()
        eng.sql(f"INSERT INTO turns SELECT * FROM b{i}")
        eng.request("lw", fresh).toPandas()
        eng.request("lw", read).toPandas()
        times.append(time.perf_counter() - t0)
    return times[1:]


def append(spark, work: str, keys: int, hours: int, cycles: int) -> list[float]:
    from pyspark.sql import functions as F

    from openmldb_spark.operators.preagg import PreAggTable
    from openmldb_spark.operators.window import Agg, WindowSpec

    spec = WindowSpec(partition_by=("k",), order_by="ts", frame="rows_range",
                      preceding=None, tiebreak=("rid",))
    aggs = [Agg("sum", "v", "sv"), Agg("count", "v", "cv"), Agg("max", "v", "mx")]

    def rows(lo, hi, t0):
        h = history(spark, keys, lo, hi, t0)
        return h.select(F.col("conv_id").alias("k"), (F.col("ts").cast("double") * 1000)
                        .cast("long").alias("ts"), F.col("turn_idx").cast("long").alias("rid"),
                        F.col("turn_idx").cast("double").alias("v"))

    state = PreAggTable.create(spark, f"{work}/state", spec, aggs, bucket_ms=HOUR)
    state.append(rows(0, keys * hours, BASE)).count()
    times = []
    for i in range(cycles + 1):
        lo = keys * hours + i * 50
        df = rows(lo, lo + 50, BASE + (hours + i) * HOUR)
        t0 = time.perf_counter()
        state.append(df).collect()
        times.append(time.perf_counter() - t0)
    return times[1:]


def main(argv: list[str]) -> None:
    op, route, keys, hours = argv[0], argv[1], int(argv[2]), int(argv[3])
    cycles = int(argv[4]) if len(argv) > 4 else 4
    from openmldb_spark.operators import preagg
    from openmldb_spark.session import SessionConfig, get_spark

    preagg._RESIDENT_PAIRS = 10 ** 12 if route == "resident" else 0
    work = tempfile.mkdtemp(prefix="preagg_residency_")
    spark = get_spark(SessionConfig(
        master="local[4]", shuffle_partitions=4, driver_memory="4g", local_dir=f"{work}/local",
        extra={"spark.ui.showConsoleProgress": "false"}))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        times = {"serve": serve, "append": append}[op](spark, work, keys, hours, cycles)
        print(f"{op} {route} pairs={keys * hours} median_s={statistics.median(times):.3f} "
              f"cycles={' '.join(f'{t:.3f}' for t in times)}", flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1:])
