"""SparkSession factory with the configuration the engine assumes.

Local-mode knobs mirror what a 1000-executor deployment would set cluster-wide:
AQE on (runtime coalescing + skew-join splitting), Arrow enabled for every
pandas-UDF exchange, shuffle partitions sized to the parallelism at hand.

These defaults serve the queries the session runs outside the CDC apply:
the generator, the entry queries, bookkeeping reads. The apply plan and its
pre-scan override two of them (``plans.apply.static_plan``): every batch
runs with AQE off and ``spark.sql.shuffle.partitions`` =
``defaultParallelism``, restored afterwards. On a ~20k-event batch AQE's
re-planning at every exchange and 64 partitions cost more than they recoup,
and on 1M-event batches, skewed or not, they bought nothing measurable.

Compile once, not every micro-batch. A CDC batch plans several short Spark
queries, and the same plan shapes recur in every batch. Three settings make
the JVM compile each shape once and reuse it:

- ``-XX:TieredStopAtLevel=1`` keeps HotSpot at C1. The optimizing C2 tier
  pays off only on long-running hot loops; on ~20k-event batches its
  compiler threads spent about half of each batch's CPU optimizing
  generated classes that the batch used only briefly.
- ``spark.sql.codegen.useIdInClassName=false`` leaves the codegen stage id
  out of the generated class, so identical stage code from different
  queries, batches and AQE re-plans hits one cache entry and reuses its
  JIT-compiled code.
- ``spark.sql.codegen.cache.maxEntries=2000`` holds far more than one
  batch's working set (the default of 100 does not), while still bounding
  metaspace over an unbounded run. It is a static setting, so it is set
  before the session exists.

Timestamps are written as INT64 microseconds
(``spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS``), not Spark's
legacy 12-byte INT96: 8 bytes that delta-encode, and the Parquet type every
other reader agrees on. It is part of the lake's file encoding
(``lake.table``, property 5), but Spark reads it from the session
(``SQLConf``), which overrides a writer option, so it is set here and holds
for every Parquet write of the session, the producer's log included. The
lake writers set their codec per write (zstd); the session codec stays
snappy, so the log is compressed as before. INT96 files written earlier
still read back, because each file is decoded by its own footer.

The JIT flag goes into ``spark.driver.defaultJavaOptions``, which Spark puts
in front of the caller's ``spark.driver.extraJavaOptions``, so a caller that
sets its own options keeps it. It covers the driver JVM only, and only when
``get_spark`` launches that JVM: in local mode this is the JVM that runs every
task. Cluster executors take their options from ``spark.executor.*``, which is
left as it is.
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
        # INT64 timestamps, not INT96 (module docstring)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        # compile each plan shape once (module docstring)
        .config("spark.driver.defaultJavaOptions", "-XX:TieredStopAtLevel=1")
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
