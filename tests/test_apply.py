"""M0/M1 — end-to-end apply vs the sequential-replay oracle.

Scenario matrix mirrors the reference integration tests (FIXTURES F3 /
SURVEY §5): inserts-only, sparse updates, row deletes, partition deletes,
range tombstones with bound methods, LWW conflicts, duplicates, skew.
"""

import pandas as pd
import pytest

from debezium_connector_cassandra_spark.plans.apply import CdcTarget, apply_batch
from debezium_connector_cassandra_spark.sources.generator import gen_mutation_log

from .conftest import assert_keys_unique, assert_state_equal
from .oracle import replay


def run_and_compare(spark, tmp_path, log_df, n_buckets=8, batch_by_segment=False):
    target = CdcTarget.create(spark, str(tmp_path / "target"), n_buckets=n_buckets)
    if batch_by_segment:
        segs = sorted(r[0] for r in log_df.select("segment_id").distinct().collect())
        for s in segs:
            apply_batch(target, log_df.where(log_df.segment_id == s))
            assert_keys_unique(target.state.read())
    else:
        apply_batch(target, log_df)
    oracle = replay(log_df.toPandas())
    assert_state_equal(target.read_transcripts(), oracle)
    return target


def test_inserts_only(spark, tmp_path):
    # RowInsertionModificationCommitLogProcessingTest analog
    log = gen_mutation_log(spark, 500, n_convs=40, op_weights=(100, 0, 0, 0, 0), seed=1)
    run_and_compare(spark, tmp_path, log)


def test_inserts_and_updates_sparse_cells(spark, tmp_path):
    log = gen_mutation_log(spark, 800, n_convs=30, op_weights=(60, 40, 0, 0, 0), seed=2)
    run_and_compare(spark, tmp_path, log)


def test_row_deletes(spark, tmp_path):
    log = gen_mutation_log(spark, 800, n_convs=20, op_weights=(55, 25, 20, 0, 0), seed=3)
    run_and_compare(spark, tmp_path, log)


def test_partition_deletes(spark, tmp_path):
    # PartitionKeyRowDeletion / ClusteringPartitionKey analogs
    log = gen_mutation_log(spark, 800, n_convs=15, op_weights=(55, 20, 10, 15, 0), seed=4)
    run_and_compare(spark, tmp_path, log)


def test_range_tombstones(spark, tmp_path):
    # RangeTombstoneCommitLogProcessingTest analog (INCL/EXCL bound methods)
    log = gen_mutation_log(spark, 800, n_convs=15, op_weights=(55, 20, 5, 0, 20), seed=5)
    run_and_compare(spark, tmp_path, log)


def test_full_mix_single_batch(spark, tmp_path):
    log = gen_mutation_log(spark, 2000, n_convs=50, seed=6)
    run_and_compare(spark, tmp_path, log)


def test_full_mix_batched_by_segment(spark, tmp_path):
    # multi-batch incremental apply must converge to the same global state,
    # including cross-batch out-of-order writetimes (tombstone store path)
    log = gen_mutation_log(spark, 2000, n_convs=50, events_per_segment=400, seed=7)
    run_and_compare(spark, tmp_path, log, batch_by_segment=True)


def test_duplicate_delivery(spark, tmp_path):
    # offset dedup filter analog (handleMutation:259-263)
    log = gen_mutation_log(spark, 1000, n_convs=30, dup_fraction=0.2, seed=8)
    run_and_compare(spark, tmp_path, log)


def test_strict_dedup_keeps_identity_equal_batch_members(spark):
    """Two logged-batch members at the same key that BOTH inherited the batch
    default writetime are identity-equal (same conv/turn/segment/position/wt)
    but carry DIFFERENT cell assignments — the reference merges their
    PartitionUpdates, so strict dedup must keep both; an exact duplicate
    delivery (identical row) still collapses."""
    from debezium_connector_cassandra_spark.operators.dedup import dedup_events

    rows = [
        (0, 0, 0, "u", "c1", 1, 500, ("user", None, None, None)),
        (0, 0, 0, "u", "c1", 1, 500, (None, "hello", None, None)),
        (0, 0, 0, "u", "c1", 1, 500, (None, "hello", None, None)),  # exact dup
    ]
    out = dedup_events(_manual_log(spark, rows)).collect()
    assert len(out) == 2
    kept = {(r["cells"]["role"]["value"], r["cells"]["text"]["value"]) for r in out}
    assert kept == {("user", None), (None, "hello")}


def test_idempotent_reapply(spark, tmp_path):
    # exactly-once via idempotent replay: applying the same batch twice
    # leaves the state identical (R8 error-reprocess path relies on this)
    log = gen_mutation_log(spark, 1000, n_convs=30, seed=9)
    target = run_and_compare(spark, tmp_path, log)
    before = target.state.current_version()
    apply_batch(target, log)
    oracle = replay(log.toPandas())
    assert_state_equal(target.read_transcripts(), oracle)
    assert target.state.current_version() > before  # commit happened, state unchanged


def test_skewed_hot_conversation(spark, tmp_path):
    # north_rule skew scenario: ~30% of events target conv_0
    log = gen_mutation_log(spark, 2000, n_convs=40, hot_fraction=0.3, seed=10)
    run_and_compare(spark, tmp_path, log)


def test_lww_conflict_across_segments(spark, tmp_path):
    """Same key written in two segments with inverted writetimes: the later
    writetime must win regardless of replay order (reference event-ts rule
    handleRowModifications:429)."""
    rows = [
        # seg, pos, lp, op, conv, turn, wt
        (0, 0, 0, "i", "c1", 1, 1000, ("user", "old text", None, None)),
        (1, 0, 1, "u", "c1", 1, 900, (None, "stale text", None, None)),  # older wt, later segment
    ]
    log = _manual_log(spark, rows)
    target = CdcTarget.create(spark, str(tmp_path / "t"), n_buckets=4)
    # apply segment 1 FIRST, then segment 0 — final text must be 'old text'
    apply_batch(target, log.where(log.segment_id == 1))
    apply_batch(target, log.where(log.segment_id == 0))
    got = target.read_transcripts().toPandas()
    assert len(got) == 1
    assert got.loc[0, "text"] == "old text"


def test_delete_beats_equal_and_later_upserts(spark, tmp_path):
    """Delete wins ties; upsert with strictly later writetime resurrects."""
    rows = [
        (0, 0, 0, "i", "c1", 1, 1000, ("user", "a", None, None)),
        (0, 16, 0, "d", "c1", 1, 1000, None),  # same writetime as insert -> delete wins
        (0, 32, 0, "i", "c2", 1, 1000, ("user", "b", None, None)),
        (0, 48, 0, "d", "c2", 1, 999, None),  # older delete loses
    ]
    log = _manual_log(spark, rows)
    target = CdcTarget.create(spark, str(tmp_path / "t"), n_buckets=4)
    apply_batch(target, log)
    got = target.read_transcripts().toPandas().sort_values("conv_id").reset_index(drop=True)
    assert list(got["conv_id"]) == ["c2"]
    assert got.loc[0, "text"] == "b"


@pytest.mark.parametrize(
    "delete",
    [(0, 0, 0, "p", "c1", None, 5000, None), (0, 0, 0, "d", "c1", 3, 5000, None)],
    ids=["partition_delete", "row_delete"],
)
def test_out_of_order_upsert_vs_stored_tombstone(spark, tmp_path, delete):
    """A later BATCH carrying an older-writetime upsert must lose to a
    tombstone applied in an earlier batch (persistent tombstone store —
    Cassandra gc_grace semantics), for a conv-grain partition delete and for
    a key-grain row delete alike."""
    rows1 = [delete]
    rows2 = [(1, 0, 1, "i", "c1", 3, 4000, ("user", "zombie", None, None))]
    target = CdcTarget.create(spark, str(tmp_path / "t"), n_buckets=4)
    apply_batch(target, _manual_log(spark, rows1))
    apply_batch(target, _manual_log(spark, rows2))
    assert target.read_transcripts().count() == 0
    # but a genuinely newer write resurrects
    rows3 = [(2, 0, 0, "i", "c1", 3, 6000, ("user", "fresh", None, None))]
    apply_batch(target, _manual_log(spark, rows3))
    got = target.read_transcripts().toPandas()
    assert list(got["text"]) == ["fresh"]


def _manual_log(spark, rows):
    """Build a small typed mutation log from compact tuples."""
    from pyspark.sql import Row

    from debezium_connector_cassandra_spark.model import MUTATION_LOG_SCHEMA

    def cell(v, set_=True, del_ts=None):
        return Row(value=v, deletion_ts=del_ts, set=set_)

    out = []
    for seg, pos, lp, op, conv, turn, wt, payload in rows:
        cells = None
        if payload is not None:
            role, text, tool, ts = payload
            cells = Row(
                role=cell(role, role is not None),
                text=cell(text, text is not None),
                tool=cell(tool, tool is not None),
                ts=cell(ts, ts is not None),
            )
        out.append(
            Row(
                segment_id=seg,
                position=pos,
                log_partition=lp,
                op=op,
                conv_id=conv,
                turn_idx=turn,
                writetime=wt,
                cells=cells,
                range_start=None,
                range_end=None,
                schema_version=1,
                snapshot=False,
            )
        )
    return spark.createDataFrame(out, MUTATION_LOG_SCHEMA)


def test_tombstone_gc(spark, tmp_path):
    """gc_grace analog: tombstones below the writetime horizon are purged;
    state semantics unaffected for in-horizon data."""
    from debezium_connector_cassandra_spark.plans.apply import gc_tombstones

    rows = [
        (0, 0, 0, "p", "c1", None, 5000, None),
        (0, 16, 0, "d", "c2", 1, 9000, None),
    ]
    target = CdcTarget.create(spark, str(tmp_path / "t"), n_buckets=4)
    apply_batch(target, _manual_log(spark, rows))
    assert target.tombstones.read().count() == 2
    gc_tombstones(target, writetime_horizon=6000)
    kept = target.tombstones.read().collect()
    assert len(kept) == 1 and kept[0]["wt"] == 9000
    # the surviving tombstone still kills an out-of-order upsert
    apply_batch(target, _manual_log(spark, [(1, 0, 1, "i", "c2", 1, 8000, ("user", "zombie", None, None))]))
    assert target.read_transcripts().count() == 0
