"""The session compiles each plan shape once, not every micro-batch.

``get_spark`` launches its JVM at the C1 tier and keeps generated classes
across batches (a cache above one batch's working set, no stage id in the
class name). Without that, every batch of the same plan shape re-compiles
80-100 generated classes.
"""

from debezium_connector_cassandra_spark.sources.generator import (
    gen_mutation_log,
    write_mutation_log,
    writetime_inversion_window_us,
)
from debezium_connector_cassandra_spark.streaming.runner import CdcRunner


def test_jvm_runs_at_c1_tier(spark):
    args = list(spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    assert "-XX:TieredStopAtLevel=1" in args


def test_timestamps_are_written_as_int64_micros(spark):
    """Part of the lake's file encoding: Spark takes the Parquet timestamp
    type from the session, so ``get_spark`` sets it (not INT96)."""
    assert spark.conf.get("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS"


def test_later_batches_reuse_generated_classes(spark, tmp_path):
    log = gen_mutation_log(spark, 10_000, n_convs=200, max_turns=20, events_per_segment=2_000, seed=31)
    write_mutation_log(log, str(tmp_path / "log"))
    runner = CdcRunner(
        spark,
        str(tmp_path / "log"),
        str(tmp_path / "target"),
        segments_per_batch=1,
        gc_grace_us=writetime_inversion_window_us(),
        gc_every_batches=1,
    )
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    per_batch = []
    while runner.pending_segments():
        before = compiles.getCount()
        runner.run(max_batches=1)
        per_batch.append(compiles.getCount() - before)
    assert len(per_batch) == 5
    # batches 1-2 compile the plan shapes (cold start and first merge into a
    # non-empty state); later batches of the same shapes hit the cache
    assert all(n < 20 for n in per_batch[2:]), per_batch
