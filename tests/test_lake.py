"""Lake table format: atomic commits, snapshot isolation, bucket pruning,
time travel, schema evolution, small appends."""

import pyspark.sql.functions as F
from pyspark.sql import types as T

from debezium_connector_cassandra_spark.lake.table import LakeTable, bucket_expr, bucket_of

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("v", T.LongType(), True),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_create_write_read_roundtrip(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, "conv_id", 4)
    assert t.is_empty()
    t.overwrite_all(_df(spark, [("a", 1), ("b", 2), ("c", 3)]))
    got = {(r["conv_id"], r["v"]) for r in t.read().collect()}
    assert got == {("a", 1), ("b", 2), ("c", 3)}


def test_time_travel_and_snapshot_isolation(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, "conv_id", 4)
    v1 = t.overwrite_all(_df(spark, [("a", 1)]))
    old_reader = t.read(version=v1)  # resolve snapshot BEFORE next commit
    t.overwrite_all(_df(spark, [("a", 2)]))
    assert [r["v"] for r in old_reader.collect()] == [1]
    assert [r["v"] for r in t.read().collect()] == [2]
    assert [r["v"] for r in t.read(version=v1).collect()] == [1]


def test_bucket_pruned_cow(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, "conv_id", 8)
    df = _df(spark, [(f"k{i}", i) for i in range(40)])
    t.overwrite_all(df)
    # rewrite only k0's bucket with a new value
    keys = _df(spark, [("k0", 999)])
    buckets = bucket_of(["k0"], 8).tolist()
    untouched = t.read(buckets=[b for b in range(8) if b not in buckets])
    survivors = t.read(buckets=buckets).where(F.col("conv_id") != "k0")
    t.overwrite_buckets(survivors.unionByName(keys), buckets)
    got = dict((r["conv_id"], r["v"]) for r in t.read().collect())
    assert got["k0"] == 999 and len(got) == 40
    # untouched buckets carried forward by reference: file lists unchanged
    m = t.manifest()
    prev = t.manifest(m["parent"])
    for b, fs in prev["buckets"].items():
        if int(b) not in buckets:
            assert m["buckets"][b] == fs


def test_schema_evolution_reads_null(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, "conv_id", 2)
    t.overwrite_all(_df(spark, [("a", 1)]))
    t.add_column("extra", T.StringType())
    rows = t.read().collect()
    assert rows[0]["extra"] is None
    assert [f.name for f in t.schema().fields] == ["conv_id", "v", "extra"]


def test_append_small_lands_in_key_bucket(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, "conv_id", 4)
    t.overwrite_all(_df(spark, [("a", 1)]))
    t.append_small([{"conv_id": "zz", "v": 7}])
    (own,) = bucket_of(["zz"], 4)
    assert ("zz", 7) in {(r["conv_id"], r["v"]) for r in t.read(buckets=[own]).collect()}
    for b in range(4):
        if b != own:
            assert "zz" not in {r["conv_id"] for r in t.read(buckets=[b]).collect()}


def test_crash_mid_commit_leaves_old_version(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, "conv_id", 2)
    t.overwrite_all(_df(spark, [("a", 1)]))
    v = t.current_version()
    # simulate crash: data files written but pointer never swung
    t._write_files(_df(spark, [("a", 2)]), "conv_id", 2)
    assert t.current_version() == v
    assert [r["v"] for r in t.read().collect()] == [1]


def test_bucket_expr_stable(spark):
    df = spark.range(1).select(
        bucket_expr("id", 16).alias("b1"),
    )
    df2 = spark.range(1).select(bucket_expr("id", 16).alias("b2"))
    assert df.collect()[0]["b1"] == df2.collect()[0]["b2"]
