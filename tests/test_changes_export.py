"""R4 export half — the change-envelope sink (reference RecordMaker.java:58-96,
tombstones.on.delete RecordMaker.java:84-95 / CassandraConnectorConfig.java:514).

Contract under test: the changes table carries one envelope per mutation (+
one null-valued tombstone record per row/partition delete), is complete per
finalized segment, and is EXACTLY-ONCE under batch replay, reprocess, and
position-limited tails (overwrite-by-segment idempotence).
"""

import pytest
from pyspark.sql import functions as F

from debezium_connector_cassandra_spark.lake.changes import ChangesExport
from debezium_connector_cassandra_spark.sources.generator import (
    gen_mutation_log,
    write_mutation_log,
)
from debezium_connector_cassandra_spark.streaming.runner import CdcRunner


@pytest.fixture(scope="module")
def log_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("chg") / "log")
    log = gen_mutation_log(
        spark, 4000, n_convs=30, max_turns=20, events_per_segment=1000,
        n_log_partitions=2, seed=99,
    )
    write_mutation_log(log, p)
    return p


def _counts(spark, log_path):
    log = spark.read.parquet(log_path)
    n = log.count()
    n_del = log.where(F.col("op").isin("d", "p")).count()
    return n, n_del


def test_export_complete_with_tombstone_records(spark, log_path, tmp_path):
    runner = CdcRunner(
        spark, log_path, str(tmp_path / "t"), segments_per_batch=2,
        export_changes=True, n_buckets=4,
    )
    runner.run()
    n, n_del = _counts(spark, log_path)
    changes = runner.changes.read()
    assert changes.count() == n + n_del
    assert changes.where(F.col("is_tombstone_record")).count() == n_del
    # tombstone records carry null after-images and follow their delete
    trec = changes.where(F.col("is_tombstone_record"))
    assert trec.where(F.col("after").isNotNull()).count() == 0
    assert set(
        r["envelope_op"] for r in changes.select("envelope_op").distinct().collect()
    ) == {"c", "u", "d", "t", "tombstone"}
    # per-segment totals match the log (completeness per partition)
    got = {
        r["segment_id"]: r["n"]
        for r in changes.where(~F.col("is_tombstone_record"))
        .groupBy("segment_id").agg(F.count("*").alias("n")).collect()
    }
    want = {
        r["segment_id"]: r["n"]
        for r in spark.read.parquet(log_path)
        .groupBy("segment_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == want


def test_export_replay_dedup_under_reprocess(spark, log_path, tmp_path):
    runner = CdcRunner(
        spark, log_path, str(tmp_path / "t"), segments_per_batch=4,
        export_changes=True, n_buckets=4,
    )
    runner.run()
    before = runner.changes.read().count()
    rows_before = sorted(
        runner.changes.read().select("segment_id", "position", "envelope_op").collect()
    )
    # R8 reprocess replays segments with offsets bypassed — export must not
    # duplicate (overwrite-by-segment)
    runner.reprocess([0, 1])
    after = runner.changes.read().count()
    rows_after = sorted(
        runner.changes.read().select("segment_id", "position", "envelope_op").collect()
    )
    assert before == after
    assert rows_before == rows_after


def test_export_waits_for_segment_finalization(spark, log_path, tmp_path):
    runner = CdcRunner(
        spark, log_path, str(tmp_path / "t"), segments_per_batch=4,
        export_changes=True, n_buckets=4,
    )
    # position-limited tail: segment 0 halfway, stays 'open' -> NOT exported
    runner.run_batch([0], position_limit=7992)
    assert 0 in runner.open_segments()
    assert not runner.changes.exists() or (
        runner.changes.read().where(F.col("segment_id") == 0).count() == 0
    )
    # draining the rest finalizes segment 0 -> complete export appears
    runner.run()
    n0_log = spark.read.parquet(log_path).where(F.col("segment_id") == 0).count()
    n0_del = (
        spark.read.parquet(log_path)
        .where((F.col("segment_id") == 0) & F.col("op").isin("d", "p"))
        .count()
    )
    n0 = runner.changes.read().where(
        (F.col("segment_id") == 0) & ~F.col("is_tombstone_record")
    ).count()
    assert n0 == n0_log
    assert runner.changes.read().where(F.col("segment_id") == 0).count() == n0_log + n0_del


def test_export_pairs_unpaired_range_markers(spark, tmp_path):
    """With unpaired_range_markers=True + export_changes=True, each range
    delete must export as ONE paired 't' envelope, not two raw marker rows
    (regression: the export path used to skip pair_range_markers)."""
    from debezium_connector_cassandra_spark.sources.generator import (
        split_range_markers,
    )

    p = str(tmp_path / "log")
    log = gen_mutation_log(
        spark, 1500, n_convs=25, events_per_segment=500, seed=41
    )
    n_r = log.where(F.col("op") == "r").count()
    assert n_r > 0
    write_mutation_log(split_range_markers(log), p)
    runner = CdcRunner(
        spark, p, str(tmp_path / "t"), n_buckets=4,
        unpaired_range_markers=True, export_changes=True,
    )
    runner.run()
    t_rows = runner.changes.read().where(F.col("envelope_op") == "t")
    assert t_rows.count() == n_r


def test_export_files_have_the_lake_encoding(spark, tmp_path):
    """The export writes with the lake's file encoding, nested 64-bit
    fields included, and leaves no ``_SUCCESS`` marker."""
    import os

    from tests.test_lake import assert_lake_encoding, assert_no_success_markers

    env = spark.range(300).select(
        (F.col("id") % 2).alias("segment_id"),
        (F.col("id") * 16).alias("position"),
        F.struct((F.col("id") * 1013).alias("wt"), F.concat(F.lit("t"), F.col("id").cast("string")).alias("text")).alias("after"),
    )
    out = ChangesExport(spark, str(tmp_path / "changes"))
    out.write_segments(env, [0, 1])
    files = [os.path.join(d, f) for d, _, fs in os.walk(out.path) for f in fs if f.endswith(".parquet")]
    assert files
    for f in files:
        assert_lake_encoding(f)
    assert_no_success_markers(out.path)
    assert out.read().count() == 300
