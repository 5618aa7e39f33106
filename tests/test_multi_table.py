"""Multi-table / multi-keyspace capture — mirrors the reference scenario
tests/.../MultipleTablesProcessingTest.java:27-106 (two keyspaces x two
tables, interleaved events in one commit log, each table's state isolated)
plus resume and snapshot-selection (anti-join) coverage.
"""

import json
import math
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F, types as T

from debezium_connector_cassandra_spark.model import TableSpec
from debezium_connector_cassandra_spark.sources.generator import (
    gen_multi_table_log,
    write_mutation_log,
)
from debezium_connector_cassandra_spark.streaming.multi_table import MultiTableRunner

from .conftest import assert_state_equal
from .oracle import replay

SPECS = [
    TableSpec(
        keyspace="ks1",
        table="transcripts",
        partition_key="conv_id",
        clustering_key="turn_idx",
        payload=(
            ("role", T.StringType()),
            ("text", T.StringType()),
            ("tool", T.StringType()),
            ("ts", T.TimestampType()),
        ),
    ),
    TableSpec(
        keyspace="ks1",
        table="events",
        partition_key="session_id",
        clustering_key="seq",
        payload=(("kind", T.StringType()), ("score", T.IntegerType())),
    ),
    TableSpec(
        keyspace="ks2",
        table="runs",
        partition_key="run_id",
        clustering_key="step",
        payload=(
            ("status", T.StringType()),
            ("latency_ms", T.LongType()),
            ("ok", T.BooleanType()),
        ),
    ),
    TableSpec(
        keyspace="ks2",
        table="notes",
        partition_key="doc_id",
        clustering_key="rev",
        payload=(("body", T.StringType()),),
    ),
]


def _decoded_pandas(spark, log_path, spec):
    """Decode one table's slice of the raw log into a pandas frame the
    sequential replay oracle understands (cells as dicts)."""
    raw = (
        spark.read.parquet(log_path)
        .where((F.col("keyspace") == spec.keyspace) & (F.col("table") == spec.table))
        .toPandas()
    )

    def parse(b):
        return json.loads(bytes(b).decode("utf-8")) if b is not None else None

    raw["cells"] = raw["payload"].map(parse)
    return raw


@pytest.fixture(scope="module")
def mt_log(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("mt") / "log")
    log = gen_multi_table_log(
        spark, SPECS, n_events=8000, n_convs=40, max_turns=20,
        events_per_segment=1000, n_log_partitions=2, seed=11,
    )
    write_mutation_log(log, path)
    return path


def _oracle_for(spark, mt_log, spec):
    cols = [n for n, _ in spec.payload]
    pdf = _decoded_pandas(spark, mt_log, spec)
    oracle = replay(pdf, cols=cols)
    # JSON round-trips timestamps as ISO strings; normalize for comparison
    for n, t in spec.payload:
        if isinstance(t, T.TimestampType):
            oracle[n] = pd.to_datetime(oracle[n], format="ISO8601").dt.tz_localize(None)
    return oracle


def test_batch_reads_only_its_segments(spark, mt_log, tmp_path):
    """A multi-table batch lists only its own segments' directories."""
    from .test_runner import _segments_of

    runner = MultiTableRunner(spark, mt_log, str(tmp_path / "tgt"), SPECS)
    assert len(runner.pending_segments()) == 8
    assert _segments_of(runner._read_log([1, 5]).inputFiles()) == {1, 5}


def test_multi_table_states_match_oracle(spark, mt_log, tmp_path):
    runner = MultiTableRunner(
        spark, mt_log, str(tmp_path / "tgt"), SPECS, segments_per_batch=3
    )
    results = runner.run()
    assert len(results) >= 2  # 8 segments / 3 per batch
    for spec in SPECS:
        state = runner.targets[spec.fqtn].read_transcripts()
        assert_state_equal(state, _oracle_for(spark, mt_log, spec))


def test_read_table_restores_logical_key_names(spark, mt_log, tmp_path):
    runner = MultiTableRunner(
        spark, mt_log, str(tmp_path / "tgt"), SPECS, segments_per_batch=8
    )
    runner.run()
    view = runner.read_table("ks2.runs")
    assert view.columns[:2] == ["run_id", "step"]
    assert set(view.columns) == {"run_id", "step", "status", "latency_ms", "ok"}
    assert view.count() > 0


def test_multi_table_resume_after_restart(spark, mt_log, tmp_path):
    tgt = str(tmp_path / "tgt")
    r1 = MultiTableRunner(spark, mt_log, tgt, SPECS, segments_per_batch=3)
    r1.run(max_batches=1)  # apply only the first 3 segments
    done_after_1 = {f: set(s) for f, s in r1._done.items()}
    assert all(len(s) == 3 for s in done_after_1.values())

    # fresh runner instance recovers bookkeeping from the lake and drains
    r2 = MultiTableRunner(spark, mt_log, tgt, SPECS, segments_per_batch=8)
    assert r2._done == done_after_1
    r2.run()
    for spec in SPECS:
        state = r2.targets[spec.fqtn].read_transcripts()
        assert_state_equal(state, _oracle_for(spark, mt_log, spec))
    # per-table offsets advanced to the last segment for every table
    marks = r2.checkpointed_offsets()
    for spec in SPECS:
        segs = {marks[(spec.fqtn, lp)][0] for lp in (0, 1) if (spec.fqtn, lp) in marks}
        assert 7 in segs


def test_snapshot_table_selection_anti_join(spark, mt_log, tmp_path):
    runner = MultiTableRunner(
        spark, mt_log, str(tmp_path / "tgt"), SPECS, segments_per_batch=8
    )
    assert runner.tables_to_snapshot() == sorted(s.fqtn for s in SPECS)

    src = spark.createDataFrame(
        [("s_1", 0, "boot", 1)], "session_id string, seq int, kind string, score int"
    )
    out = runner.snapshot({"ks1.events": src}, snapshot_writetime=1)
    assert set(out) == {"ks1.events"}
    # anti-join now excludes the snapshotted table
    assert runner.tables_to_snapshot() == sorted(
        s.fqtn for s in SPECS if s.fqtn != "ks1.events"
    )
    # idempotent: snapshotting again is a no-op for ks1.events
    out2 = runner.snapshot({"ks1.events": src}, snapshot_writetime=1)
    assert out2 == {}
    # streamed events over the snapshot still win (higher writetimes)
    runner.run()
    view = runner.read_table("ks1.events")
    boot = view.where(F.col("session_id") == "s_1").collect()
    assert len(boot) >= 1


def test_mt_snapshot_metrics_gauges(spark, mt_log, tmp_path):
    """Multi-table snapshot gauges: per-table rowsScanned map + table
    counts across the anti-join-selected set
    (CassandraSnapshotMetrics.java:26-110, setRowsScanned :268-277)."""
    runner = MultiTableRunner(
        spark, mt_log, str(tmp_path / "tgt"), SPECS, segments_per_batch=8
    )
    src = spark.createDataFrame(
        [("s_1", 0, "boot", 1), ("s_2", 1, "boot", 2)],
        "session_id string, seq int, kind string, score int",
    )
    runner.snapshot({"ks1.events": src}, snapshot_writetime=1)
    g = runner.snapshot_metrics()
    assert g["total_table_count"] == 1 and g["remaining_table_count"] == 0
    assert g["rows_scanned"] == {"ks1.events": 2}
    assert g["snapshot_completed"] is True and g["snapshot_aborted"] is False


def test_multi_table_streaming_parity(spark, mt_log, tmp_path):
    """The streaming front-end (MultiTableStream) drains the same multi-table
    log to the identical per-table state as the batch MultiTableRunner —
    the reference's primary operating shape (streaming AND multi-table at
    once, MultipleTablesProcessingTest.java:27-106)."""
    from debezium_connector_cassandra_spark.streaming.multi_table import (
        MultiTableStream,
    )

    r_batch = MultiTableRunner(
        spark, mt_log, str(tmp_path / "tb"), SPECS, segments_per_batch=8
    )
    r_batch.run()

    r_stream = MultiTableRunner(spark, mt_log, str(tmp_path / "ts"), SPECS)
    MultiTableStream(r_stream, max_files_per_trigger=3).run_available(
        str(tmp_path / "ckpt")
    )
    for spec in SPECS:
        a = sorted(
            tuple(r) for r in r_stream.targets[spec.fqtn].read_transcripts().collect()
        )
        b = sorted(
            tuple(r) for r in r_batch.targets[spec.fqtn].read_transcripts().collect()
        )
        assert a == b, spec.fqtn
    # one _metrics row per non-empty micro-batch (3 files per trigger)
    n_files = sum(f.endswith(".parquet") for _, _, fs in os.walk(mt_log) for f in fs)
    assert r_stream.metrics.read().count() == math.ceil(n_files / 3)
    # per-table 'streamed' lineage landed for every table with events
    lin = r_stream.lineage.read().where(F.col("status") == "streamed")
    assert {r["fqtn"] for r in lin.select("fqtn").distinct().collect()} == {
        s.fqtn for s in SPECS
    }
    # per-table offsets advanced to the shared log's per-partition max
    marks = r_stream.checkpointed_offsets()
    want = {
        r["log_partition"]: (r["segment_id"], r["position"])
        for r in spark.read.parquet(mt_log)
        .groupBy("log_partition")
        .agg(F.max(F.struct("segment_id", "position")).alias("w"))
        .select("log_partition", "w.segment_id", "w.position")
        .collect()
    }
    for spec in SPECS:
        for lp, wm in want.items():
            assert marks[(spec.fqtn, lp)] <= wm
    # a table_changes-configured runner is refused (batch-only feature)
    r_ddl = MultiTableRunner(
        spark, mt_log, str(tmp_path / "td"), SPECS,
        table_changes=((99, "drop", "ks2.notes"),),
    )
    with pytest.raises(ValueError, match="table_changes"):
        MultiTableStream(r_ddl)
    # so is one that exports changes: a micro-batch holds part of a segment,
    # and the export rewrites whole segment partitions
    r_export = MultiTableRunner(
        spark, mt_log, str(tmp_path / "tx"), SPECS, export_changes=True
    )
    with pytest.raises(ValueError, match="export_changes"):
        MultiTableStream(r_export)
    # the single-table stream refuses the whole-segment runner options too
    from debezium_connector_cassandra_spark.streaming.runner import CdcRunner
    from debezium_connector_cassandra_spark.streaming.stream import CdcStream

    for opts, match in (
        ({"export_changes": True}, "export_changes"),
        ({"export_changes": True, "tracing": True}, "tracing"),
        ({"commit_log_transfer": object()}, "commit_log_transfer"),
    ):
        r = CdcRunner(spark, mt_log, str(tmp_path / f"t_{match}"), **opts)
        with pytest.raises(ValueError, match=match):
            CdcStream(r)


def test_multi_table_batch_mutations_parity(spark, mt_log, tmp_path):
    """A per-keyspace logged batch whose changes span TABLES (the reference
    Mutation shape: one offset, PartitionUpdates each naming their own
    table) drains to the identical per-table state as the flat log."""
    from debezium_connector_cassandra_spark.sources.generator import (
        pack_mt_batches,
    )

    flat = spark.read.parquet(mt_log)
    packed = pack_mt_batches(flat, group_size=4, position_stride=16)
    # batches genuinely span tables within a keyspace
    multi_tbl = packed.where(
        F.size(F.array_distinct(F.transform(F.col("changes"), lambda c: c["table"]))) > 1
    ).count()
    assert multi_tbl > 0
    bp = str(tmp_path / "batch_log")
    packed.write.mode("overwrite").partitionBy("segment_id").parquet(bp)

    r_flat = MultiTableRunner(
        spark, mt_log, str(tmp_path / "tf"), SPECS, segments_per_batch=8
    )
    r_flat.run()
    r_batch = MultiTableRunner(
        spark, bp, str(tmp_path / "tb"), SPECS, segments_per_batch=8,
        batch_mutations=True,
    )
    r_batch.run()
    for spec in SPECS:
        a = sorted(
            tuple(r) for r in r_batch.targets[spec.fqtn].read_transcripts().collect()
        )
        b = sorted(
            tuple(r) for r in r_flat.targets[spec.fqtn].read_transcripts().collect()
        )
        assert a == b, spec.fqtn

    # streaming front-end over the SAME batch log reaches the same state
    from debezium_connector_cassandra_spark.streaming.multi_table import (
        MultiTableStream,
    )

    r_stream = MultiTableRunner(
        spark, bp, str(tmp_path / "tsb"), SPECS, batch_mutations=True
    )
    MultiTableStream(r_stream, max_files_per_trigger=3).run_available(
        str(tmp_path / "ckpt_b")
    )
    for spec in SPECS:
        a = sorted(
            tuple(r) for r in r_stream.targets[spec.fqtn].read_transcripts().collect()
        )
        b = sorted(
            tuple(r) for r in r_flat.targets[spec.fqtn].read_transcripts().collect()
        )
        assert a == b, spec.fqtn


def test_multi_table_changes_export(spark, mt_log, tmp_path):
    runner = MultiTableRunner(
        spark, mt_log, str(tmp_path / "tgt"), SPECS, segments_per_batch=8,
        export_changes=True,
    )
    runner.run()
    raw = spark.read.parquet(mt_log)
    for spec in SPECS:
        sub = raw.where(
            (F.col("keyspace") == spec.keyspace) & (F.col("table") == spec.table)
        )
        n = sub.count()
        n_del = sub.where(F.col("op").isin("d", "p")).count()
        changes = runner.changes_tables[spec.fqtn].read()
        assert changes.count() == n + n_del
        # SourceInfo carries the table's routing identity
        src = changes.select("source.keyspace", "source.table").distinct().collect()
        assert {(r["keyspace"], r["table"]) for r in src} == {
            (spec.keyspace, spec.table)
        }
