"""SparkSession factory with the configuration the engine assumes.

Local-mode knobs mirror what a 1000-executor deployment would set cluster-wide:
AQE on (runtime coalescing + skew-join splitting), Arrow enabled for every
pandas-UDF exchange, shuffle partitions sized to the parallelism at hand.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "cdc-transcripts",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` so the bench driver can
    run the identical job at two parallelism levels (the sandbox proxy for the
    N vs 4N executor scaling criterion in BASELINE.json).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # shuffle partitions bound partition SIZE, not just parallelism: too few
    # partitions spill the sort/hash aggregates; AQE coalesces the excess at
    # runtime, so err high even at low core counts
    shuffle_partitions = shuffle_partitions or max(64, int(cpus))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # floor on scan parallelism: commit-log segment directories hold many
        # small parquet files (one per producer partition); the default
        # open-cost packing folds them into a handful of splits, serializing
        # the map side. The floor is deliberately at least 64 splits, even on
        # a few cores: a small host then still gets split-level parallelism
        # across its task slots instead of a handful of packed splits. Above
        # 64 cores it tracks the core count (cluster deployments set
        # SPARK_GRAFT_CPUS to the executor-core total). Large files are
        # unaffected (maxPartitionBytes still caps split size).
        .config("spark.sql.files.minPartitionNum", str(max(64, int(cpus))))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
