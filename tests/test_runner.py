"""M2-M4 — exactly-once runner: offsets/resume, reprocess, tail mode,
snapshot bootstrap, schema evolution.

Mirrors FileOffsetWriterTest / ErrorCommitLogReprocessingTest /
SnapshotProcessorTest / SchemaChangeListenerTest scenarios (SURVEY §5).
"""

import re

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Row, types as T

from debezium_connector_cassandra_spark.sources.generator import (
    gen_mutation_log,
    pack_batches,
    write_mutation_log,
)
from debezium_connector_cassandra_spark.sources.snapshot import (
    SnapshotMode,
    SnapshotProcessor,
    snapshot_to_mutations,
)
from debezium_connector_cassandra_spark.streaming.runner import CdcRunner
from debezium_connector_cassandra_spark.streaming.schema_evolution import SchemaChange
from debezium_connector_cassandra_spark.streaming.stream import CdcStream

from .conftest import assert_state_equal
from .oracle import replay


@pytest.fixture(scope="module")
def log_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("log")
    log = gen_mutation_log(spark, 1500, n_convs=40, events_per_segment=300, seed=20)
    write_mutation_log(log, str(d))
    return str(d), log


def test_run_drains_all_segments_and_checkpoints(spark, log_dir, tmp_path):
    path, log = log_dir
    runner = CdcRunner(spark, path, str(tmp_path / "t"), segments_per_batch=2, n_buckets=8)
    results = runner.run()
    assert len(results) == 3  # 5 segments / 2 per batch
    assert runner.pending_segments() == []
    # offsets cover every log partition at its final (segment, position)
    offs = runner.checkpointed_offsets()
    assert set(offs) == {0, 1, 2, 3}  # n_log_partitions=4, 5 segments
    assert_state_equal(runner.target.read_transcripts(), replay(log.toPandas()))
    # metrics recorded one row per batch
    assert runner.metrics.read().count() == 3
    # lineage: every segment done
    done = {r["segment_id"] for r in runner.lineage.read().where(F.col("status") == "done").collect()}
    assert done == {0, 1, 2, 3, 4}


def test_resume_after_restart(spark, log_dir, tmp_path):
    """Kill/restart between batches: a NEW runner on the same target resumes
    from the checkpoint and converges to the same state."""
    path, log = log_dir
    tpath = str(tmp_path / "t")
    r1 = CdcRunner(spark, path, tpath, segments_per_batch=2, n_buckets=8)
    r1.run(max_batches=1)  # segments 0,1 then "crash"
    r2 = CdcRunner(spark, path, tpath, segments_per_batch=2, n_buckets=8)
    assert r2.pending_segments() == [2, 3, 4]
    r2.run()
    assert_state_equal(r2.target.read_transcripts(), replay(log.toPandas()))


def test_crash_between_state_commit_and_offsets(spark, log_dir, tmp_path):
    """The exactly-once contract: state committed, offsets lost -> replay of
    the same batch leaves state identical (idempotent merge)."""
    path, log = log_dir
    tpath = str(tmp_path / "t")
    runner = CdcRunner(spark, path, tpath, segments_per_batch=2, n_buckets=8)
    runner.run(max_batches=1)
    # simulate the crash: roll the offsets + lineage tables back to empty
    # (state keeps the applied batch), then re-run
    v0_off = 0
    runner.offsets._write_manifest({**runner.offsets.manifest(v0_off)})
    runner.lineage._write_manifest({**runner.lineage.manifest(0)})
    r2 = CdcRunner(spark, path, tpath, segments_per_batch=2, n_buckets=8)
    assert r2.pending_segments() == [0, 1, 2, 3, 4]  # batch replays
    r2.run()
    assert_state_equal(r2.target.read_transcripts(), replay(log.toPandas()))


def test_error_segment_reprocessing_bypasses_offsets(spark, log_dir, tmp_path):
    """R8: replaying a named segment with the offset check bypassed leaves
    state unchanged and records 'reprocess' lineage."""
    path, log = log_dir
    runner = CdcRunner(spark, path, str(tmp_path / "t"), segments_per_batch=8, n_buckets=8)
    runner.run()
    before = runner.target.read_transcripts().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    stats = runner.reprocess([2])
    assert stats["n_decoded"] > 0  # offset check bypassed: events re-read
    after = runner.target.read_transcripts().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(before, after, check_dtype=False)
    statuses = {r["status"] for r in runner.lineage.read().where(F.col("segment_id") == 2).collect()}
    assert "reprocess" in statuses


def test_incremental_tail_mid_segment(spark, log_dir, tmp_path):
    """S4 live-segment tail: process a position-limited prefix of a segment,
    then the rest; converges to the full replay."""
    path, log = log_dir
    runner = CdcRunner(spark, path, str(tmp_path / "t"), segments_per_batch=8, n_buckets=8)
    # segment 0 holds positions 0..(300-1)*16; take the first half
    runner.run_batch([0], position_limit=150 * 16)
    offs = runner.checkpointed_offsets()
    assert all(seg == 0 and pos <= 150 * 16 for seg, pos in offs.values())
    assert 0 in runner.pending_segments()  # still open
    runner.run()  # drains the rest of segment 0 (positions past the mark) + all others
    assert_state_equal(runner.target.read_transcripts(), replay(log.toPandas()))


def test_snapshot_bootstrap_then_stream(spark, log_dir, tmp_path):
    """S6/S7: snapshot existing rows, then stream increments; streamed
    writetimes beat the snapshot writetime."""
    path, log = log_dir
    runner = CdcRunner(spark, path, str(tmp_path / "t"), segments_per_batch=8, n_buckets=8)
    pre = spark.createDataFrame(
        [
            Row(conv_id="pre_1", turn_idx=0, role="user", text="hello", tool=None, ts=None),
            Row(conv_id="pre_1", turn_idx=1, role="assistant", text="hi", tool=None, ts=None),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    snap = SnapshotProcessor(runner)
    stats = snap.take(pre, snapshot_writetime=1, mode=SnapshotMode.INITIAL)
    assert stats is not None and stats["n_events"] == 2
    # INITIAL mode: second take is a no-op (all-or-nothing marker)
    assert snap.take(pre, snapshot_writetime=1, mode=SnapshotMode.INITIAL) is None
    # ALWAYS mode re-snapshots
    assert snap.take(pre, snapshot_writetime=2, mode=SnapshotMode.ALWAYS) is not None
    runner.run()
    got = runner.target.read_transcripts().toPandas()
    assert {"pre_1"} <= set(got["conv_id"])
    # streamed state for non-snapshot convs still matches the oracle
    oracle = replay(log.toPandas())
    streamed = got[got.conv_id != "pre_1"].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(
        streamed.where(pd.notnull(streamed), None),
        oracle.where(pd.notnull(oracle), None),
        check_dtype=False,
    )


def test_snapshot_metrics_gauges(spark, log_dir, tmp_path):
    """The snapshot-context gauge twin of streaming_metrics()
    (CassandraSnapshotMetrics.java:26-110): table counts, rows scanned,
    running/completed flags, duration."""
    path, _ = log_dir
    runner = CdcRunner(spark, path, str(tmp_path / "t"), n_buckets=4)
    snap = SnapshotProcessor(runner)
    g0 = snap.snapshot_metrics()
    assert g0["snapshot_running"] is False and g0["snapshot_completed"] is False
    pre = spark.createDataFrame(
        [Row(conv_id="p", turn_idx=0, role="user", text="x", tool=None, ts=None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    snap.take(pre, snapshot_writetime=1, mode=SnapshotMode.INITIAL)
    g = snap.snapshot_metrics()
    assert g["snapshot_completed"] is True and g["snapshot_running"] is False
    assert g["snapshot_aborted"] is False
    assert g["total_table_count"] == 1 and g["remaining_table_count"] == 0
    assert g["rows_scanned"] == {"agents.transcripts": 1}
    assert g["snapshot_duration_seconds"] >= 0
    # INITIAL no-op take resets the table count to zero tables-to-snapshot
    snap.take(pre, snapshot_writetime=1, mode=SnapshotMode.INITIAL)
    assert snap.snapshot_metrics()["total_table_count"] == 0


def test_snapshot_empty_table(spark, log_dir, tmp_path):
    path, _ = log_dir
    runner = CdcRunner(spark, path, str(tmp_path / "t"), n_buckets=4)
    empty = spark.createDataFrame(
        [], "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    stats = SnapshotProcessor(runner).take(empty, snapshot_writetime=1)
    assert stats is not None and stats["n_events"] == 0


@pytest.mark.parametrize("front_end", ["runner", "stream"])
def test_schema_evolution_mid_stream(spark, tmp_path, front_end):
    """SchemaChangeListenerTest analog: segment 0 writes the original shape,
    a schema change adds column 'meta' effective at segment 1, segment 1
    events carry the new cell; old rows read NULL meta. The streaming
    front-end replays the DDL through the runner's slice step too, so both
    end with the same state."""
    cell = T.StructType(
        [
            T.StructField("value", T.StringType(), True),
            T.StructField("deletion_ts", T.LongType(), True),
            T.StructField("set", T.BooleanType(), False),
        ]
    )
    wide_cells = T.StructType(
        [
            T.StructField("role", cell, True),
            T.StructField("text", cell, True),
            T.StructField("tool", cell, True),
            T.StructField(
                "ts",
                T.StructType(
                    [
                        T.StructField("value", T.TimestampType(), True),
                        T.StructField("deletion_ts", T.LongType(), True),
                        T.StructField("set", T.BooleanType(), False),
                    ]
                ),
                True,
            ),
            T.StructField("meta", cell, True),  # the evolved column
        ]
    )
    schema = T.StructType(
        [
            T.StructField("segment_id", T.LongType(), False),
            T.StructField("position", T.LongType(), False),
            T.StructField("log_partition", T.IntegerType(), False),
            T.StructField("op", T.StringType(), False),
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), True),
            T.StructField("writetime", T.LongType(), False),
            T.StructField("cells", wide_cells, True),
            T.StructField("range_start", T.StructType([T.StructField("method", T.StringType()), T.StructField("turn_idx", T.IntegerType())]), True),
            T.StructField("range_end", T.StructType([T.StructField("method", T.StringType()), T.StructField("turn_idx", T.IntegerType())]), True),
            T.StructField("schema_version", T.IntegerType(), False),
            T.StructField("snapshot", T.BooleanType(), False),
        ]
    )

    def c(v, set_=True):
        return Row(value=v, deletion_ts=None, set=set_)

    def unset():
        return Row(value=None, deletion_ts=None, set=False)

    rows = [
        Row(segment_id=0, position=0, log_partition=0, op="i", conv_id="a", turn_idx=0,
            writetime=100, cells=Row(role=c("user"), text=c("v1 text"), tool=unset(), ts=unset(), meta=unset()),
            range_start=None, range_end=None, schema_version=1, snapshot=False),
        Row(segment_id=1, position=0, log_partition=1, op="i", conv_id="a", turn_idx=1,
            writetime=200, cells=Row(role=c("user"), text=c("v2 text"), tool=unset(), ts=unset(), meta=c("m2")),
            range_start=None, range_end=None, schema_version=2, snapshot=False),
        Row(segment_id=1, position=16, log_partition=1, op="u", conv_id="a", turn_idx=0,
            writetime=300, cells=Row(role=unset(), text=unset(), tool=unset(), ts=unset(), meta=c("m0")),
            range_start=None, range_end=None, schema_version=2, snapshot=False),
    ]
    log = spark.createDataFrame(rows, schema)
    log_path = str(tmp_path / "log")
    log.write.partitionBy("segment_id").parquet(log_path)

    runner = CdcRunner(
        spark,
        log_path,
        str(tmp_path / "t"),
        segments_per_batch=1,
        n_buckets=4,
        schema_changes=(SchemaChange(2, "ADD COLUMN meta string", effective_segment=1),),
        log_schema="infer",
    )
    if front_end == "runner":
        runner.run(max_batches=1)  # segment 0, pre-evolution
        assert "meta" not in [f.name for f in runner.target.state.schema().fields]
        runner.run()  # segment 1 triggers the ALTER, then applies
    else:
        CdcStream(runner, max_files_per_trigger=1).run_available(str(tmp_path / "ckpt"))
    got = runner.target.read_transcripts().toPandas().sort_values("turn_idx").reset_index(drop=True)
    assert list(got.columns) == ["conv_id", "turn_idx", "role", "text", "tool", "ts", "meta"]
    assert got.loc[0, "meta"] == "m0"   # sparse update onto pre-evolution row
    assert got.loc[0, "text"] == "v1 text"  # old cell survives
    assert got.loc[1, "meta"] == "m2"


@pytest.mark.parametrize("front_end", ["runner", "stream"])
def test_duplicate_writetime_refused_by_both_front_ends(spark, tmp_path, front_end):
    """validate_writetimes=True holds on either front-end: two upserts of
    one key at one writetime fail the drain instead of resolving by
    arrival order."""
    from tests.test_apply import _manual_log

    rows = [
        (0, 0, 0, "i", "c1", 1, 1000, ("user", "a", None, None)),
        (0, 16, 0, "u", "c1", 1, 1000, ("user", "b", None, None)),
    ]
    write_mutation_log(_manual_log(spark, rows), str(tmp_path / "log"))
    runner = CdcRunner(
        spark, str(tmp_path / "log"), str(tmp_path / "t"), n_buckets=4,
        validate_writetimes=True,
    )
    with pytest.raises(Exception, match="duplicate writetime"):
        if front_end == "runner":
            runner.run()
        else:
            CdcStream(runner).run_available(str(tmp_path / "ckpt"))


def test_ttl_expiry_exact_horizon(spark):
    """D7 expiring cells in the STREAMED path: a cell with deletion_ts =
    writetime + ttl keeps its value strictly BEFORE the horizon, and at/past
    the horizon holds neither value nor row visibility — the row vanishes
    exactly at deletion_ts (delete-wins-ties at the expiry instant, like
    Cassandra's localDeletionTime <= now rule)."""
    from debezium_connector_cassandra_spark.operators.lww import (
        drop_invisible,
        finalize_state,
        reduce_events,
    )
    from debezium_connector_cassandra_spark.sources.generator import (
        gen_mutation_log,
    )

    # updates only (no INSERT liveness) so TTL alone carries visibility
    log = gen_mutation_log(
        spark, 4000, n_convs=10, seed=13, op_weights=(0, 1, 0, 0, 0),
        ttl_seconds=300,
    )
    ttl_rows = log.where(F.col("cells.tool.deletion_ts").isNotNull())
    sample = ttl_rows.select("writetime", "cells.tool.deletion_ts", "cells.tool.value").first()
    assert sample["deletion_ts"] == sample["writetime"] + 300 * 1_000_000
    assert sample["value"] is not None  # expiring cell carries its live value

    # deterministic horizon pin: one UPDATE whose only content is an
    # expiring tool cell — the row must exist (with its value) strictly
    # before deletion_ts and be GONE at/after it
    wt, ttl_us = 1_000_000, 300 * 1_000_000
    row = {
        "segment_id": 0, "position": 0, "log_partition": 0, "op": "u",
        "conv_id": "k", "turn_idx": 1, "writetime": wt,
        "cells": {
            "role": {"value": None, "deletion_ts": None, "set": False},
            "text": {"value": None, "deletion_ts": None, "set": False},
            "tool": {"value": "t9", "deletion_ts": wt + ttl_us, "set": True},
            "ts": {"value": None, "deletion_ts": None, "set": False},
        },
        "range_start": None, "range_end": None,
        "schema_version": 1, "snapshot": False,
    }
    from debezium_connector_cassandra_spark.model import MUTATION_LOG_SCHEMA

    one = spark.createDataFrame([row], MUTATION_LOG_SCHEMA)
    before = drop_invisible(
        finalize_state(reduce_events(one), as_of_us=wt + ttl_us - 1)
    ).collect()
    assert len(before) == 1 and before[0]["tool"] == "t9"
    at = drop_invisible(
        finalize_state(reduce_events(one), as_of_us=wt + ttl_us)
    ).collect()
    assert at == []  # the row vanishes exactly at its TTL horizon


def test_snapshot_ttl_deletion_ts(spark):
    """S6 TTL math (SnapshotProcessor.calculateDeletionTs:342-344):
    deletion_ts = snapshot writetime + ttl seconds in micros; expiring cells
    behave as null assignments once applied."""
    from debezium_connector_cassandra_spark.sources.snapshot import (
        snapshot_to_mutations,
    )
    from debezium_connector_cassandra_spark.operators.lww import (
        drop_invisible,
        finalize_state,
        reduce_events,
    )

    src = spark.createDataFrame(
        [("c1", 1, "user", "hello", "tool_1", None, 30),
         ("c1", 2, "user", "world", None, None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp, ttl_s int",
    )
    wt = 1_000_000
    muts = snapshot_to_mutations(src, snapshot_writetime=wt, ttl_seconds_col="ttl_s")
    rows = {r["turn_idx"]: r for r in muts.collect()}
    assert rows[1]["snapshot"] is True
    assert rows[1]["cells"]["role"]["deletion_ts"] == wt + 30 * 1_000_000
    assert rows[2]["cells"]["role"]["deletion_ts"] is None
    # expiring cells apply as null assignments; the non-TTL row keeps values
    state = {
        r["turn_idx"]: r
        for r in drop_invisible(finalize_state(reduce_events(muts))).collect()
    }
    assert state[1]["role"] is None and state[2]["role"] == "user"
    assert state[1]["_live_wt"] == wt  # row still live (liveness not TTL'd)


def test_error_isolation_quarantines_failing_segment(spark, tmp_path):
    """R3 error-folder flow: a corrupted segment is isolated (lineage
    'error', excluded from planning, drain continues), then reprocess()
    replays it after the fix and the state converges to the full replay."""
    import os

    log = gen_mutation_log(spark, 1200, n_convs=30, events_per_segment=300, seed=91)
    path = str(tmp_path / "log")
    write_mutation_log(log, path)
    # corrupt segment 1: a garbage file the parquet reader chokes on
    bad = os.path.join(path, "segment_id=1", "zz-corrupt.parquet")
    with open(bad, "wb") as f:
        f.write(b"this is not a parquet file")

    runner = CdcRunner(spark, path, str(tmp_path / "t"), segments_per_batch=2, n_buckets=8)
    results = runner.run(on_error="isolate")
    assert results  # the healthy segments applied
    assert runner.errored_segments() == {1}
    assert runner.pending_segments() == []  # quarantined, not pending
    statuses = {
        r["status"]
        for r in runner.lineage.read().where(F.col("segment_id") == 1).collect()
    }
    assert "error" in statuses
    assert runner.streaming_metrics()["n_segments_error"] == 1

    # a restarted runner recovers the quarantine from lineage
    r2 = CdcRunner(spark, path, str(tmp_path / "t"), segments_per_batch=2, n_buckets=8)
    assert r2.errored_segments() == {1}

    # fix the data, reprocess: full convergence + quarantine lifted
    os.remove(bad)
    r2.reprocess([1])
    assert r2.errored_segments() == set()
    assert_state_equal(r2.target.read_transcripts(), replay(log.toPandas()))
    # a third runner no longer sees segment 1 as errored or pending
    r3 = CdcRunner(spark, path, str(tmp_path / "t"), segments_per_batch=2, n_buckets=8)
    assert r3.errored_segments() == set() and r3.pending_segments() == []


def test_error_isolation_with_commit_log_transfer(spark, tmp_path):
    """With a CommitLogTransfer configured, the failing segment moves to
    _error/ (on_error) and reprocess() restores it first."""
    import os

    from debezium_connector_cassandra_spark.sources.log_scan import CommitLogTransfer

    log = gen_mutation_log(spark, 900, n_convs=20, events_per_segment=300, seed=92)
    path = str(tmp_path / "log")
    write_mutation_log(log, path)
    bad = os.path.join(path, "segment_id=2", "zz-corrupt.parquet")
    with open(bad, "wb") as f:
        f.write(b"garbage")

    transfer = CommitLogTransfer(path)
    runner = CdcRunner(
        spark, path, str(tmp_path / "t"), segments_per_batch=3, n_buckets=8,
        commit_log_transfer=transfer,
    )
    runner.run(on_error="isolate")
    assert runner.errored_segments() == {2}
    assert os.path.isdir(os.path.join(path, "_error", "segment_id=2"))
    assert not os.path.isdir(os.path.join(path, "segment_id=2"))

    # fix inside the error folder, then reprocess restores + replays
    os.remove(os.path.join(path, "_error", "segment_id=2", "zz-corrupt.parquet"))
    runner.reprocess([2])
    assert runner.errored_segments() == set()
    assert_state_equal(runner.target.read_transcripts(), replay(log.toPandas()))


def _segments_of(files):
    return {int(re.search(r"segment_id=(\d+)", f).group(1)) for f in files}


@pytest.mark.parametrize("shape", ["plain", "infer", "batch_mutations"])
def test_batch_reads_only_its_segments(spark, tmp_path, shape):
    """A batch's relation holds only its own segments' files: the runner
    lists their ``segment_id=N`` directories, not the whole log (a
    whole-log read lists every segment, then prunes by segment_id)."""
    log = gen_mutation_log(spark, 1200, n_convs=20, events_per_segment=200, seed=41)
    if shape == "batch_mutations":
        log = pack_batches(log, group_size=4)
    path = str(tmp_path / "log")
    write_mutation_log(log, path)
    runner = CdcRunner(
        spark, path, str(tmp_path / "t"), n_buckets=2,
        log_schema="infer" if shape == "infer" else None,
        batch_mutations=shape == "batch_mutations",
    )
    assert len(runner.pending_segments()) == 6
    batch = runner._read([2, 4])
    assert _segments_of(batch.inputFiles()) == {2, 4}
    assert {r["segment_id"] for r in batch.select("segment_id").distinct().collect()} == {2, 4}
