"""D9 full form — unpaired range-tombstone bound markers paired per
partition in log order (reference RangeTombstoneContext.java:20-40)."""

import pytest
from pyspark.sql import functions as F

from debezium_connector_cassandra_spark.operators.tombstones import pair_range_markers
from debezium_connector_cassandra_spark.sources.generator import (
    gen_mutation_log,
    pack_batches,
    split_range_markers,
    write_mutation_log,
)
from debezium_connector_cassandra_spark.streaming.runner import CdcRunner

from .conftest import assert_state_equal
from .oracle import replay


def test_pairing_reconstructs_ranges(spark):
    log = gen_mutation_log(
        spark, 2000, n_convs=25, max_turns=20, events_per_segment=500, seed=21
    )
    split = split_range_markers(log)
    n_r = log.where(F.col("op") == "r").count()
    assert split.where(F.col("op") == "r").count() == 2 * n_r
    paired = pair_range_markers(split)
    # bit-identical range set modulo the end-marker position identity (+8)
    want = sorted(
        (r["conv_id"], r["writetime"], r["range_start"], r["range_end"])
        for r in log.where(F.col("op") == "r").collect()
    )
    got = sorted(
        (r["conv_id"], r["writetime"], r["range_start"], r["range_end"])
        for r in paired.where(F.col("op") == "r").collect()
    )
    assert got == want


def test_unpaired_markers_full_apply_matches_oracle(spark, tmp_path):
    """Runner over a marker-split log == sequential replay of the ORIGINAL
    paired log (markers arrive interleaved with other events, out of
    writetime order)."""
    log = gen_mutation_log(
        spark, 3000, n_convs=30, max_turns=20, events_per_segment=600, seed=31
    )
    split_path = str(tmp_path / "log")
    write_mutation_log(split_range_markers(log), split_path)
    runner = CdcRunner(
        spark, split_path, str(tmp_path / "t"), segments_per_batch=2,
        n_buckets=4, unpaired_range_markers=True,
    )
    runner.run()
    assert_state_equal(runner.target.read_transcripts(), replay(log.toPandas()))


def test_logged_batch_markers_match_oracle(spark, tmp_path):
    """Logged batches of unpaired markers: after the explode a start marker
    and its end marker share one (segment, position), and the pairing
    window orders the start first — the state equals the replay of the
    original paired log."""
    log = gen_mutation_log(spark, 4000, seed=5)
    log_path = str(tmp_path / "log")
    write_mutation_log(pack_batches(split_range_markers(log), position_stride=16), log_path)
    runner = CdcRunner(
        spark, log_path, str(tmp_path / "t"), n_buckets=4,
        batch_mutations=True, unpaired_range_markers=True,
    )
    runner.run()
    assert_state_equal(runner.target.read_transcripts(), replay(log.toPandas()))


@pytest.mark.parametrize("front_end", ["runner", "stream"])
def test_two_ranges_in_one_logged_batch_pair_in_batch_order(spark, tmp_path, front_end):
    """One logged batch without per-statement USING TIMESTAMP carries two
    range deletes of one conversation, S1 E1 S2 E2: every marker shares the
    batch's offset and writetime, so only the member's index in the batch
    tells the log order. Both front-ends pair (S1,E1)=[1,3] and
    (S2,E2)=[8,9] — never S1 S2 E1 E2, which would apply the wrong range."""
    from debezium_connector_cassandra_spark.streaming.stream import CdcStream

    ins = [
        (0, t * 16, "i", "c1", t, 100, ("user", f"m{t}", None, None), None, None)
        for t in range(1, 11)
    ]
    # positions 1024..1048 pack into one batch of four at stride 16
    markers = [
        (0, 1024, "r", "c1", None, 200, None, (1, True), None),
        (0, 1032, "r", "c1", None, 200, None, None, (3, True)),
        (0, 1040, "r", "c1", None, 200, None, (8, True), None),
        (0, 1048, "r", "c1", None, 200, None, None, (9, True)),
    ]
    packed = pack_batches(
        _marker_rows(spark, ins + markers), group_size=4, position_stride=16
    ).withColumn(  # members take the batch writetime
        "changes",
        F.transform("changes", lambda c: c.withField("writetime", F.lit(None).cast("long"))),
    )
    log_path = str(tmp_path / "log")
    write_mutation_log(packed, log_path)
    runner = CdcRunner(
        spark, log_path, str(tmp_path / "t"), n_buckets=4,
        batch_mutations=True, unpaired_range_markers=True,
    )
    if front_end == "runner":
        runner.run()
    else:
        CdcStream(runner).run_available(str(tmp_path / "ckpt"))
    alive = sorted(r["turn_idx"] for r in runner.target.read_transcripts().collect())
    assert alive == [4, 5, 6, 7, 10]


def test_streaming_marker_drain_matches_batch_front_end(spark, tmp_path):
    """The streaming front-end over a marker-split log converges to the same
    state as the batch front-end / sequential replay: markers are carried in
    the durable RangeTombstoneContext analog across micro-batches and paired
    at drain completion (previously this configuration was refused)."""
    from debezium_connector_cassandra_spark.streaming.stream import CdcStream

    log = gen_mutation_log(
        spark, 2000, n_convs=25, max_turns=20, events_per_segment=400, seed=51
    )
    split_path = str(tmp_path / "log")
    write_mutation_log(split_range_markers(log), split_path)
    runner = CdcRunner(
        spark, split_path, str(tmp_path / "t"), n_buckets=4,
        unpaired_range_markers=True,
    )
    stream = CdcStream(runner, max_files_per_trigger=2)
    stream.run_available(str(tmp_path / "ckpt"))
    assert_state_equal(runner.target.read_transcripts(), replay(log.toPandas()))
    # a second finalize is an idempotent no-op
    res = stream.finalize_ranges()
    assert res["n_paired"] == 0


def _marker_rows(spark, rows):
    """(seg, pos, op, conv, turn, wt, cells4, start(lo,incl)|None, end(hi,incl)|None)"""
    from pyspark.sql import Row

    from debezium_connector_cassandra_spark.model import MUTATION_LOG_SCHEMA

    def cell(v):
        return Row(value=v, deletion_ts=None, set=v is not None)

    out = []
    for seg, pos, op, conv, turn, wt, payload, start, end in rows:
        cells = None
        if payload is not None:
            role, text, tool, ts = payload
            cells = Row(role=cell(role), text=cell(text), tool=cell(tool), ts=cell(ts))
        rs = Row(method="INCL_START_BOUND" if start[1] else "EXCL_START_BOUND", turn_idx=start[0]) if start else None
        re_ = Row(method="INCL_END_BOUND" if end[1] else "EXCL_END_BOUND", turn_idx=end[0]) if end else None
        out.append(
            Row(
                segment_id=seg, position=pos, log_partition=0, op=op,
                conv_id=conv, turn_idx=turn, writetime=wt, cells=cells,
                range_start=rs, range_end=re_, schema_version=1, snapshot=False,
            )
        )
    return spark.createDataFrame(out, MUTATION_LOG_SCHEMA)


def test_adversarial_marker_delivery_does_not_mispair(spark, tmp_path):
    """The scenario that made per-micro-batch pairing unsafe: true log order
    is S1 E1 S2 E2 for one conversation, but the file source delivers
    {S1, E2} first and {E1, S2} later. Naive in-batch pairing would emit the
    WRONG range (S1.lo, E2.hi) = [1,9]; the deferred context must pair
    (S1,E1)=[1,3] and (S2,E2)=[8,9], leaving turns 4-7 and 10 alive."""
    from debezium_connector_cassandra_spark.streaming.stream import CdcStream

    log_path = str(tmp_path / "log")
    ins = [
        (0, t * 16, "i", "c1", t, 100, ("user", f"m{t}", None, None), None, None)
        for t in range(1, 11)
    ]
    _marker_rows(spark, ins).write.mode("append").partitionBy("segment_id").parquet(log_path)
    runner = CdcRunner(
        spark, log_path, str(tmp_path / "t"), n_buckets=4,
        unpaired_range_markers=True,
    )
    stream = CdcStream(runner)
    S1 = (0, 1000, "r", "c1", None, 200, None, (1, True), None)
    E1 = (0, 1008, "r", "c1", None, 200, None, None, (3, True))
    S2 = (0, 1016, "r", "c1", None, 200, None, (8, True), None)
    E2 = (0, 1024, "r", "c1", None, 200, None, None, (9, True))
    stream._handle_batch(_marker_rows(spark, ins + [S1, E2]), 0)
    # nothing paired yet: the markers sit in the context, inserts applied
    assert runner.target.read_transcripts().count() == 10
    stream._handle_batch(_marker_rows(spark, [E1, S2]), 1)
    # settle_below=-1: nothing is settled, nothing pairs
    assert stream.finalize_ranges(settle_below=-1)["n_paired"] == 0
    res = stream.finalize_ranges()
    assert res["n_paired"] == 2 and res["n_dangling"] == 0
    alive = sorted(
        r["turn_idx"] for r in runner.target.read_transcripts().collect()
    )
    assert alive == [4, 5, 6, 7, 10]


def test_continuous_settle_applies_ranges_before_drain(spark, tmp_path):
    """Continuous-tailing mode: with settle_lag_segments=1, markers whose
    segment trails the max delivered segment by more than the lag pair and
    apply DURING the stream — a never-ending tail applies range deletes
    without waiting for a drain; the final finalize picks up the tail."""
    from debezium_connector_cassandra_spark.sources.generator import (
        read_mutation_log,
    )
    from debezium_connector_cassandra_spark.streaming.stream import CdcStream

    log = gen_mutation_log(
        spark, 1500, n_convs=20, max_turns=20, events_per_segment=300, seed=61
    )
    log_path = str(tmp_path / "log")
    write_mutation_log(split_range_markers(log), log_path)
    runner = CdcRunner(
        spark, log_path, str(tmp_path / "t"), n_buckets=4,
        unpaired_range_markers=True,
    )
    stream = CdcStream(runner, settle_lag_segments=1)
    for seg in range(5):
        batch = read_mutation_log(spark, log_path).where(F.col("segment_id") == seg)
        stream._handle_batch(batch, seg)
    # split pairs are intra-segment, so every marker in segments <= 3 has
    # settled mid-stream; only the lag window (segment 4) is still deferred
    ctx_segments = {
        r["segment_id"] for r in stream._range_ctx.read().select("segment_id").distinct().collect()
    }
    assert ctx_segments <= {4}
    stream.finalize_ranges()
    assert_state_equal(runner.target.read_transcripts(), replay(log.toPandas()))


def test_dangling_and_orphan_markers_stay_in_context(spark, tmp_path):
    """A start with no end (and an end with no start) never applies — it
    stays in the context as the reference's log-and-skip leftover."""
    from debezium_connector_cassandra_spark.streaming.stream import CdcStream

    log_path = str(tmp_path / "log")
    ins = [(0, 0, "i", "c1", 1, 100, ("user", "x", None, None), None, None)]
    _marker_rows(spark, ins).write.mode("append").partitionBy("segment_id").parquet(log_path)
    runner = CdcRunner(
        spark, log_path, str(tmp_path / "t"), n_buckets=4,
        unpaired_range_markers=True,
    )
    stream = CdcStream(runner)
    dangling_start = (0, 100, "r", "c1", None, 200, None, (1, True), None)
    orphan_end = (0, 108, "r", "c2", None, 200, None, None, (5, True))
    stream._handle_batch(_marker_rows(spark, ins + [dangling_start, orphan_end]), 0)
    res = stream.finalize_ranges()
    assert res["n_paired"] == 0 and res["n_dangling"] == 2
    assert runner.target.read_transcripts().count() == 1  # insert survives


def test_malformed_marker_streams_drop(spark):
    """Dangling start / orphan end markers drop instead of corrupting."""
    log = gen_mutation_log(
        spark, 500, n_convs=10, max_turns=20, events_per_segment=500, seed=41
    )
    split = split_range_markers(log)
    # drop every start marker -> all ends are orphans -> zero paired ranges
    only_ends = split.where(
        (F.col("op") != "r") | F.col("range_end").isNotNull()
    )
    paired = pair_range_markers(only_ends)
    assert paired.where(F.col("op") == "r").count() == 0
    # drop every end marker -> dangling starts -> zero paired ranges
    only_starts = split.where(
        (F.col("op") != "r") | F.col("range_start").isNotNull()
    )
    assert pair_range_markers(only_starts).where(F.col("op") == "r").count() == 0


def test_start_end_markers_sharing_a_position_both_survive(spark, tmp_path):
    """A start and end marker can share one commit-log position (one
    mutation carrying both bounds split into two marker rows). The context
    dedup key includes is_start, so both survive accumulation, and the
    pairing window orders the start before its end at the tied position —
    previously one of the pair was dropped nondeterministically and every
    later marker of the conversation mis-paired."""
    from debezium_connector_cassandra_spark.streaming.stream import CdcStream

    log_path = str(tmp_path / "log")
    ins = [
        (0, t * 16, "i", "c1", t, 100, ("user", f"m{t}", None, None), None, None)
        for t in range(1, 11)
    ]
    _marker_rows(spark, ins).write.mode("append").partitionBy("segment_id").parquet(log_path)
    runner = CdcRunner(
        spark, log_path, str(tmp_path / "t"), n_buckets=4,
        unpaired_range_markers=True,
    )
    stream = CdcStream(runner)
    SHARED = 1000
    S1 = (0, SHARED, "r", "c1", None, 200, None, (2, True), None)
    E1 = (0, SHARED, "r", "c1", None, 200, None, None, (4, True))
    S2 = (0, 1016, "r", "c1", None, 200, None, (9, True), None)
    E2 = (0, 1024, "r", "c1", None, 200, None, None, (10, True))
    # delivered across two micro-batches, shared-position pair split up
    stream._handle_batch(_marker_rows(spark, ins + [S1, E2]), 0)
    stream._handle_batch(_marker_rows(spark, [E1, S2]), 1)
    res = stream.finalize_ranges()
    assert res["n_paired"] == 2 and res["n_dangling"] == 0
    alive = sorted(
        r["turn_idx"] for r in runner.target.read_transcripts().collect()
    )
    assert alive == [1, 5, 6, 7, 8]
