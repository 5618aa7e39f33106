"""Lake table format: atomic commits, snapshot isolation, bucket pruning,
time travel, schema evolution, small appends, one file encoding."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import types as T

from debezium_connector_cassandra_spark.lake import table as lake_table
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


ENC_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("wt", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)
_T0 = 1_700_000_000_000_000  # epoch micros


def _enc_rows(n, wt0):
    """``n`` distinct rows (conv_id, wt, ts as epoch micros, text); each
    64-bit value occurs twice, so a dictionary on it would be kept."""
    return [
        (f"k{i % 11}", wt0 + 7 * (i // 2), _T0 + 1_000_000 * (wt0 + i // 2), f"turn {wt0 + i} of k{i % 11}")
        for i in range(n)
    ]


def _enc_df(spark, rows):
    df = spark.createDataFrame(rows, "conv_id string, wt long, ts long, text string")
    return df.select("conv_id", "wt", F.timestamp_micros("ts").alias("ts"), "text")


def _enc_dicts(rows):
    return [dict(zip(ENC_SCHEMA.fieldNames(), r)) for r in rows]


def _enc_read(t):
    return {tuple(r) for r in t.read().select("conv_id", "wt", F.unix_micros("ts"), "text").collect()}


def _in_bucket(rows, b, n_buckets):
    ids = bucket_of([r[0] for r in rows], n_buckets)
    return [r for r, i in zip(rows, ids) if i == b]


def _data_files(t):
    return {os.path.join(t.path, f) for fs in t.manifest()["buckets"].values() for f in fs}


def assert_lake_encoding(path):
    """``path`` has the lake's file encoding: zstd, v2 data pages, INT64
    timestamps, and no dictionary on 64-bit columns (delta-packed)."""
    md = pq.read_metadata(path)
    with open(path, "rb") as f:
        raw = f.read()
    for i in range(md.num_row_groups):
        for j in range(md.num_columns):
            c = md.row_group(i).column(j)
            where = (path, c.path_in_schema)
            assert c.compression == "ZSTD", where
            # first byte pair of the first data page's header (Thrift
            # compact): field 1, i32 ``type`` = 3, DATA_PAGE_V2
            assert raw[c.data_page_offset : c.data_page_offset + 2] == b"\x15\x06", where
            assert c.physical_type != "INT96", where
            if c.physical_type == "INT64":
                assert not c.has_dictionary_page, where
                assert "DELTA_BINARY_PACKED" in c.encodings, where


def assert_no_success_markers(path):
    assert [f for _, _, fs in os.walk(path) for f in fs if f == "_SUCCESS"] == []


def test_every_lake_write_has_the_file_encoding(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), ENC_SCHEMA, "conv_id", 2)
    seen: set = set()

    def new_files():
        files = _data_files(t) - seen
        seen.update(files)
        return files

    rows = _enc_rows(200, 1000)
    t.overwrite_all(_enc_df(spark, rows))
    written = {"overwrite_all": new_files()}
    (b,) = bucket_of(["k0"], 2)
    extra = [("k0", 5000, _T0, "rewritten")]
    t.overwrite_buckets(t.read(buckets=[b]).unionByName(_enc_df(spark, extra)), [b])
    written["overwrite_buckets"] = new_files()
    rows += extra + _enc_rows(20, 3000)
    t.append_small(_enc_dicts(_enc_rows(20, 3000)))
    written["append_small"] = new_files()
    t.COMPACT_THRESHOLD = 2  # every bucket now holds 2 files
    rows += _enc_rows(20, 4000)
    t.append_small(_enc_dicts(_enc_rows(20, 4000)))
    written["compacting append"] = new_files()
    assert all(len(fs) == 1 for fs in t.manifest()["buckets"].values())
    bound = 2000  # inside every compacted file's wt range: all straddle
    n_purged, _, _ = t.purge_at_or_below("wt", bound)
    written["gc straddler rewrite"] = new_files()

    assert n_purged and all(written.values()), written
    for files in written.values():
        for f in files:
            assert_lake_encoding(f)
    assert_no_success_markers(t.path)
    assert _enc_read(t) == {r for r in rows if r[1] > bound}


def test_mixed_encoding_table_reads_back(spark, tmp_path, monkeypatch):
    """A table whose first files have the older encoding (snappy, v1 pages,
    INT96 ``ts`` from Spark) and whose later files have the lake's encoding
    reads back every row through the Spark read, compaction's pyarrow read
    and the footer-planned purge; both kinds of file carry ``wt`` footer
    statistics."""
    t = LakeTable.create(spark, str(tmp_path / "t"), ENC_SCHEMA, "conv_id", 2)
    old_spark, old_arrow = _enc_rows(120, 1000), _enc_rows(30, 2000)
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key)
    with monkeypatch.context() as m:
        m.setattr(lake_table, "spark_write_options", lambda schema: {})
        m.setattr(lake_table, "write_parquet", lambda table, path: pq.write_table(table, path, compression="snappy"))
        spark.conf.set(key, "INT96")
        try:
            t.overwrite_all(_enc_df(spark, old_spark))
            t.append_small(_enc_dicts(old_arrow))
        finally:
            spark.conf.set(key, prev)
    old_files = _data_files(t)
    ts_types = {pq.read_metadata(f).schema.column(2).physical_type for f in old_files}
    assert ts_types == {"INT96", "INT64"}  # Spark's and pyarrow's older files

    new_arrow, new_spark = _enc_rows(30, 3000), _enc_rows(40, 4000)
    t.append_small(_enc_dicts(new_arrow))
    # rewrite one bucket with Spark, from one scan of its old and new files
    (b,) = bucket_of(["k0"], 2)
    mine = _in_bucket(new_spark, b, 2)
    t.overwrite_buckets(t.read(buckets=[b]).unionByName(_enc_df(spark, mine)), [b])

    files = _data_files(t)
    assert {pq.read_metadata(f).row_group(0).column(0).compression for f in files} == {"SNAPPY", "ZSTD"}
    assert files & old_files and files - old_files
    for f in files:
        assert lake_table._column_range(f, "wt")[1] is not None, f
    want = set(old_spark + old_arrow + new_arrow + mine)
    assert _enc_read(t) == want

    schema = lake_table._pa_schema(t.schema())
    for bucket, fs in t.manifest()["buckets"].items():
        merged = t._compacted(fs, schema.empty_table(), schema)
        got = set(zip(*(merged[c].to_pylist() for c in ("conv_id", "wt")),
                      merged["ts"].cast(pa.int64()).to_pylist(), merged["text"].to_pylist()))
        assert got == set(_in_bucket(sorted(want), int(bucket), 2))

    bound = 1000 + 7 * 60
    n_purged, n_kept, _ = t.purge_at_or_below("wt", bound)
    assert _enc_read(t) == {r for r in want if r[1] > bound}
    assert (n_purged, n_kept) == (sum(r[1] <= bound for r in want), sum(r[1] > bound for r in want))
