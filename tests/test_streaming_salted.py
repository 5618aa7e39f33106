"""Structured Streaming front-end + salted reduction equivalence."""

import math
import os

import pyspark.sql.functions as F
import pytest

from debezium_connector_cassandra_spark.operators.lww import (
    reduce_events,
    reduce_events_salted,
)
from debezium_connector_cassandra_spark.sources.generator import (
    gen_mutation_log,
    write_mutation_log,
)
from debezium_connector_cassandra_spark.streaming.runner import CdcRunner
from debezium_connector_cassandra_spark.streaming.stream import CdcStream

from .conftest import assert_state_equal
from .oracle import replay


def test_salted_reduce_identical(spark):
    """Two-phase salted reduction must equal the single-phase reduce
    (max is associative/commutative), including on a hot key."""
    log = gen_mutation_log(spark, 1500, n_convs=20, hot_fraction=0.4, seed=30)
    a = reduce_events(log).orderBy("conv_id", "turn_idx").collect()
    b = reduce_events_salted(log, salt_buckets=8).orderBy("conv_id", "turn_idx").collect()
    assert a == b


def test_structured_streaming_drain(spark, tmp_path):
    """readStream + foreachBatch drains the log and converges to the oracle;
    a second AvailableNow run is a no-op (Spark checkpoint + idempotence)."""
    log = gen_mutation_log(spark, 1200, n_convs=30, events_per_segment=300, seed=31)
    log_path = str(tmp_path / "log")
    write_mutation_log(log, log_path)
    runner = CdcRunner(spark, log_path, str(tmp_path / "t"), n_buckets=8, gc_grace_us=0)
    stream = CdcStream(runner, max_files_per_trigger=8)
    ckpt = str(tmp_path / "ckpt")
    stream.run_available(ckpt)
    assert_state_equal(runner.target.read_transcripts(), replay(log.toPandas()))
    v = runner.target.state.current_version()
    # drain again: no new files -> no state commits
    stream.run_available(ckpt)
    assert runner.target.state.current_version() == v
    # offsets advanced to the log head
    offs = runner.checkpointed_offsets()
    assert offs and all(seg >= 0 for seg, _ in offs.values())
    # one _metrics row per non-empty micro-batch (8 files per trigger), none
    # for the empty second drain
    n_files = sum(
        f.endswith(".parquet") for _, _, fs in os.walk(log_path) for f in fs
    )
    assert runner.metrics.read().count() == math.ceil(n_files / 8)
    # 'streamed' never advances the GC horizon: even with zero grace, a
    # following sweep purges nothing
    assert runner._max_writetime is None
    assert runner.gc()["n_purged"] == 0
    # a drain cut short by its timeout stops the query and fails loudly
    cut = CdcStream(
        CdcRunner(spark, log_path, str(tmp_path / "t2"), n_buckets=8), max_files_per_trigger=1
    )
    with pytest.raises(TimeoutError, match="ckpt_cut"):
        cut.run_available(str(tmp_path / "ckpt_cut"), timeout_sec=0.001)
