"""SparkSession construction with engine defaults.

Mirrors the role of the reference's ``OpenmldbSession``
(``java/openmldb-batch/.../api/OpenmldbSession.scala``) without wrapping
Spark: we hand back a plain SparkSession configured for the engine
(AQE on, Arrow on, UTC, sane shuffle partitions) plus an engine config
object carrying the knobs the reference exposes through
``OpenmldbBatchConfig.scala`` (partitions, skew thresholds, kernel
batch size, checkpoint dir).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


@dataclass
class SessionConfig:
    """Engine tuning knobs (analogue of the reference's OpenmldbBatchConfig).

    Reference: ``java/openmldb-batch/src/main/scala/com/_4paradigm/openmldb/
    batch/OpenmldbBatchConfig.scala`` — groupbyPartitions(:29), skew opt
    flags(:53-74), slowRunCacheDir(:76).
    """

    master: str = field(
        default_factory=lambda: os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    )
    app_name: str = "openmldb_spark"
    shuffle_partitions: int = field(
        default_factory=lambda: int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    )
    driver_memory: str = field(
        default_factory=lambda: os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    )
    # skew mitigation (operators/skew.py)
    skew_quantiles: int = 4
    skew_hot_row_threshold: int = 1_000_000
    # checkpoint/resume (plans/checkpoint.py)
    checkpoint_dir: str | None = None
    ui_enabled: bool = False
    # shuffle scratch: fast local storage (tmpfs on this VM, local NVMe
    # on a real cluster). A slow shared scratch disk serializes shuffle
    # IO across cores — measured 243 s → 169 s on the 42M-row flagship
    # at 4 cores (BENCH.md r3). OPT-IN via SPARK_GRAFT_LOCAL_DIR (set
    # by bench.py / tools/run_scaling.sh): RAM-backed tmpfs as a silent
    # default could ENOSPC large spills or compete with executor memory
    # on machines where /dev/shm is small. None → Spark default.
    local_dir: str | None = field(
        default_factory=lambda: os.environ.get("SPARK_GRAFT_LOCAL_DIR") or None
    )
    extra: dict = field(default_factory=dict)


def get_spark(cfg: SessionConfig | None = None):
    """Build (or fetch) the engine SparkSession.

    Designed so the same code runs on ``local[N]`` in tests and on a
    multi-executor cluster via ``spark-submit --py-files`` — nothing here
    assumes local mode; partitioning decisions live in the operators.
    """
    from pyspark.sql import SparkSession

    cfg = cfg or SessionConfig()
    builder = (
        SparkSession.builder.master(cfg.master)
        .appName(cfg.app_name)
        .config("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the reference dialect has C-style expression semantics: bad
        # casts and division by zero yield NULL, not errors
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", cfg.driver_memory)
        .config("spark.ui.enabled", "true" if cfg.ui_enabled else "false")
        # PySpark's call-site capture costs every F.* / DataFrame call
        # three py4j round trips and a failed `import ipykernel`:
        # building `(F.col(c) + F.lit(i)).alias(n)` took 3.75 ms with it
        # and 0.99 ms without (local[1], 4-vCPU VM). pyspark caches the
        # flag per process on first use, so it is set at session build.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if cfg.local_dir:
        os.makedirs(cfg.local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", cfg.local_dir)
    for k, v in cfg.extra.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
