"""Every batch runs one static plan.

``apply_batch`` runs with AQE off and ``defaultParallelism`` shuffle
partitions whatever the batch size, computes its tombstone rows once, and
gives the session's own settings back when it returns or raises. The
tombstone GC plans its purge from Parquet footers and leaves the store
bucketed.
"""

import pytest
from pyspark.sql import functions as F

from debezium_connector_cassandra_spark.lake.table import UNBUCKETED, LakeTable, bucket_expr, bucket_of
from debezium_connector_cassandra_spark.plans import apply as apply_mod
from debezium_connector_cassandra_spark.plans.apply import CdcTarget, apply_batch, gc_tombstones
from debezium_connector_cassandra_spark.sources.generator import (
    gen_mutation_log,
    write_mutation_log,
    writetime_inversion_window_us,
)
from debezium_connector_cassandra_spark.streaming.runner import CdcRunner

from .test_apply import run_and_compare

AQE = "spark.sql.adaptive.enabled"
PARTITIONS = "spark.sql.shuffle.partitions"


@pytest.fixture
def session_plan(spark):
    """Session settings that differ from what a small batch sets, restored
    after the test."""
    saved = {k: spark.conf.get(k) for k in (AQE, PARTITIONS)}
    spark.conf.set(AQE, "true")
    spark.conf.set(PARTITIONS, "13")
    yield {AQE: "true", PARTITIONS: "13"}
    for k, v in saved.items():
        spark.conf.set(k, v)


def _record_write_plan(monkeypatch, seen, fail=False):
    """Record the plan settings the state write runs under."""
    original = LakeTable.overwrite_buckets

    def overwrite_buckets(self, df, bucket_ids):
        seen.append((self.spark.conf.get(AQE), self.spark.conf.get(PARTITIONS)))
        if fail:
            raise RuntimeError("injected write failure")
        return original(self, df, bucket_ids)

    monkeypatch.setattr(LakeTable, "overwrite_buckets", overwrite_buckets)


def test_every_batch_runs_static(spark, tmp_path, monkeypatch, session_plan):
    log = gen_mutation_log(spark, 2_000, n_convs=50, events_per_segment=1_000, seed=41)
    write_mutation_log(log, str(tmp_path / "log"))
    runner = CdcRunner(spark, str(tmp_path / "log"), str(tmp_path / "t"), segments_per_batch=1, n_buckets=4)
    seen = []
    _record_write_plan(monkeypatch, seen)
    static = ("false", str(spark.sparkContext.defaultParallelism))

    runner.run(max_batches=1)
    assert seen == [static]
    assert {k: spark.conf.get(k) for k in session_plan} == session_plan

    # a batch over the driver-flush bound flushes with Spark, on the same plan
    monkeypatch.setattr(apply_mod, "DRIVER_FLUSH_MAX_TOMBSTONES", 10)
    runner.run(max_batches=1)
    assert seen == [static, static]
    assert {k: spark.conf.get(k) for k in session_plan} == session_plan


def test_plan_settings_restored_when_apply_raises(spark, tmp_path, monkeypatch, session_plan):
    log = gen_mutation_log(spark, 500, n_convs=20, seed=42)
    target = CdcTarget.create(spark, str(tmp_path / "t"), n_buckets=4)
    seen = []
    _record_write_plan(monkeypatch, seen, fail=True)
    with pytest.raises(RuntimeError, match="injected"):
        apply_batch(target, log)
    assert seen[0][0] == "false"
    assert {k: spark.conf.get(k) for k in session_plan} == session_plan


def test_small_batch_job_count(spark, tmp_path):
    """A steady batch (apply plus the GC sweep) runs a handful of jobs: the
    pre-scan, the tombstone collect, the merge write and its broadcasts."""
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
    dag = spark._jsc.sc().dagScheduler()
    per_batch = []
    while runner.pending_segments():
        before = dag.numTotalJobs()
        runner.run(max_batches=1)
        per_batch.append(dag.numTotalJobs() - before)
    assert len(per_batch) == 5
    assert all(n <= 10 for n in per_batch), per_batch


@pytest.mark.parametrize("flush", ["driver", "spark"])
def test_both_flushes_match_oracle(spark, tmp_path, monkeypatch, flush):
    if flush == "spark":
        monkeypatch.setattr(apply_mod, "DRIVER_FLUSH_MAX_TOMBSTONES", 0)
    log = gen_mutation_log(spark, 1_500, n_convs=25, events_per_segment=300, seed=43)
    target = run_and_compare(spark, tmp_path, log, batch_by_segment=True)
    n_tombs = log.where(F.col("op").isin("d", "p", "r")).count()
    assert 0 < target.tombstones.read().count() <= n_tombs


def _tombs(wts):
    return [
        {"kind": "p", "conv_id": f"c{wt}", "lo": None, "hi": None, "lo_incl": True, "hi_incl": True, "wt": wt}
        for wt in wts
    ]


def test_gc_purges_from_footers_into_buckets(spark, tmp_path):
    """One store file wholly below the horizon, one wholly above (written
    by Spark, bucketed), one straddling it: the first drops unread, the
    second is kept by reference, the straddler's survivors move into their
    key buckets, and the counts equal a full count. Afterwards a pruned
    read of one bucket returns exactly that bucket's rows."""
    target = CdcTarget.create(spark, str(tmp_path / "t"), n_buckets=16)
    store = target.tombstones
    store.append_small(_tombs(range(1, 11)))  # below
    store.append(spark.createDataFrame(_tombs(range(100, 111)), store.schema()))  # above
    store.append_small(_tombs(range(40, 61)))  # straddles 50

    def files():
        return {f for fs in store.manifest()["buckets"].values() for f in fs}

    before = files()
    below, straddler = store.manifest()["buckets"][str(UNBUCKETED)]  # append order
    above = before - {below, straddler}
    n_total = store.read().count()
    n_above = store.read().where(F.col("wt") > 50).count()

    res = gc_tombstones(target, 50)
    after = files()
    assert (res["n_purged"], res["n_kept"]) == (n_total - n_above, n_above)
    assert res["version"] == store.current_version()
    assert above <= after and below not in after and straddler not in after
    assert str(UNBUCKETED) not in store.manifest()["buckets"]
    assert sorted(r["wt"] for r in store.read().collect()) == list(range(51, 61)) + list(range(100, 111))

    n = store.manifest()["n_buckets"]
    for b in range(n):
        got = {r["conv_id"] for r in store.read(buckets=[b]).collect()}
        want = {r["conv_id"] for r in store.read().where(bucket_expr("conv_id", n) == b).collect()}
        assert got == want

    # no straddler: no Spark job, and nothing purged means no commit
    dag = spark._jsc.sc().dagScheduler()
    before_jobs, version = dag.numTotalJobs(), store.current_version()
    assert gc_tombstones(target, 70) == {"n_purged": 10, "n_kept": 11, "version": version + 1}
    assert gc_tombstones(target, 70) == {"n_purged": 0, "n_kept": 11, "version": version + 1}
    assert dag.numTotalJobs() == before_jobs
    assert files() == above


def test_gc_moves_unbucketed_rows_without_purging(spark, tmp_path):
    """A sweep that purges nothing still moves the UNBUCKETED slot's rows
    into buckets, so later store reads prune."""
    target = CdcTarget.create(spark, str(tmp_path / "t"), n_buckets=16)
    store = target.tombstones
    store.append_small(_tombs(range(100, 140)))
    res = gc_tombstones(target, 50)
    assert (res["n_purged"], res["n_kept"]) == (0, 40)
    assert set(store.manifest()["buckets"]) == {str(b) for b in bucket_of([f"c{w}" for w in range(100, 140)], 4)}
    assert gc_tombstones(target, 50)["version"] == res["version"]


def test_bucket_of_matches_spark(spark):
    keys = ["", "a", "conv-000017", "é", "日本語のキー", "x" * 31, "y" * 32, "z" * 39, "w" * 70] + [
        f"c{i}" * (i % 9 + 1) for i in range(300)
    ]
    df = spark.createDataFrame([(k,) for k in keys], "conv_id string")
    for n in (1, 4, 16, 7):
        want = [r["b"] for r in df.select(bucket_expr("conv_id", n).alias("b")).collect()]
        assert bucket_of(keys, n).tolist() == want
