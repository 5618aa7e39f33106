"""S5 full form — the binary commit-log payload codec.

Parity contract: encode_payload_binary -> decode_payload_binary must
reproduce the original cells EXACTLY (round trip), and the binary pipeline
must produce the identical final state as the JSON-payload twin
(decode_payload_jvm) and as the plain typed-cells pipeline.
Reference: segment parsing boundary Cassandra4CommitLogSegmentReader.java:29-33."""

import pytest
from pyspark.sql import functions as F

from debezium_connector_cassandra_spark.functions.binary_codec import (
    decode_payload_binary,
    encode_payload_binary,
)
from debezium_connector_cassandra_spark.functions.decode import (
    decode_payload_jvm,
    encode_payload,
)
from debezium_connector_cassandra_spark.model import TRANSCRIPTS_SPEC
from debezium_connector_cassandra_spark.sources.generator import (
    gen_mutation_log,
    read_mutation_log,
    write_mutation_log,
)
from debezium_connector_cassandra_spark.streaming.runner import CdcRunner


@pytest.fixture(scope="module")
def log(spark):
    return gen_mutation_log(
        spark, 2500, n_convs=30, max_turns=20, events_per_segment=1000,
        n_log_partitions=2, seed=13,
    ).cache()


def _sorted_rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


def test_binary_roundtrip_bit_exact(spark, log):
    orig = log.select("segment_id", "position", "op", "cells")
    back = decode_payload_binary(encode_payload_binary(orig))
    # same logical type (nullability flags may differ: F.struct fields are
    # nullable, matching what any decoder can promise)
    assert (
        back.schema["cells"].dataType.simpleString()
        == orig.schema["cells"].dataType.simpleString()
    )
    assert _sorted_rows(back.select("segment_id", "position", "cells")) == \
        _sorted_rows(orig.select("segment_id", "position", "cells"))


def test_vectorized_encoder_byte_parity_with_scalar_pack(spark, log):
    """The numpy-packed encoder emits BYTE-IDENTICAL payloads to the scalar
    reference packer (_encode_cells_py) — not just decode-equivalent — for
    the transcript table and for the multi-table ``runs`` spec (bigint and
    boolean slots)."""
    from debezium_connector_cassandra_spark.functions.binary_codec import (
        _encode_cells_py,
    )

    specs, mt_log = _mt_setup(spark)
    runs = specs[1]
    cases = [
        (TRANSCRIPTS_SPEC, log.limit(400)),
        (runs, decode_payload_jvm(mt_log.where(F.col("table") == runs.table), runs).limit(400)),
    ]
    for spec, sub in cases:
        got = {
            (r["segment_id"], r["position"]): r["payload"]
            for r in encode_payload_binary(sub, spec)
            .select("segment_id", "position", "payload")
            .collect()
        }
        rows = sub.select("segment_id", "position", "cells").collect()
        assert len(rows) == len(got) > 0, spec.fqtn
        for r in rows:
            want = _encode_cells_py(r["cells"], spec)
            assert got[(r["segment_id"], r["position"])] == want, spec.fqtn


def test_binary_matches_json_twin(spark, log):
    jm = decode_payload_jvm(encode_payload(log))
    bn = decode_payload_binary(encode_payload_binary(log))
    assert _sorted_rows(jm.select("segment_id", "position", "cells")) == \
        _sorted_rows(bn.select("segment_id", "position", "cells"))


def test_binary_pipeline_state_equals_plain(spark, log, tmp_path):
    plain_path = str(tmp_path / "log_plain")
    bin_path = str(tmp_path / "log_bin")
    write_mutation_log(log, plain_path)
    write_mutation_log(encode_payload_binary(log), bin_path)

    r_plain = CdcRunner(spark, plain_path, str(tmp_path / "tp"), n_buckets=4)
    r_plain.run()
    r_bin = CdcRunner(
        spark, bin_path, str(tmp_path / "tb"), n_buckets=4,
        log_schema="infer", decode_binary=True, payload_format="binary",
    )
    r_bin.run()
    assert _sorted_rows(r_plain.target.read_transcripts()) == \
        _sorted_rows(r_bin.target.read_transcripts())


@pytest.mark.parametrize(
    "enc_tz,dec_tz", [("America/Los_Angeles", "UTC"), ("UTC", "America/Los_Angeles")]
)
def test_timestamps_survive_a_session_time_zone_change(spark, tmp_path, enc_tz, dec_tz):
    """Timestamp slots hold epoch micros whatever the session time zone: a
    log encoded under one zone decodes to the same instants under another
    (same-zone round trips cannot show a wall-clock encoding)."""
    plain, binary = str(tmp_path / "plain"), str(tmp_path / "bin")
    write_mutation_log(
        gen_mutation_log(spark, 3000, n_convs=30, max_turns=10, events_per_segment=1000, seed=3),
        plain,
    )
    cols = ["segment_id", "position", "cells"]
    want = _sorted_rows(read_mutation_log(spark, plain).select(*cols))
    zone = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", enc_tz)
        write_mutation_log(encode_payload_binary(read_mutation_log(spark, plain)), binary)
        spark.conf.set("spark.sql.session.timeZone", dec_tz)
        got = _sorted_rows(
            decode_payload_binary(read_mutation_log(spark, binary, schema="infer")).select(*cols)
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    assert got == want


def test_null_payload_is_null_struct(spark, log):
    # tombstone ops carry no payload; decode must yield a NULL cells struct
    # (same as from_json(NULL)), not a struct of nulls
    enc = encode_payload_binary(log)
    dec = decode_payload_binary(enc)
    n_tomb = log.where(F.col("op").isin("d", "p", "r")).count()
    assert dec.where(F.col("cells").isNull()).count() == n_tomb


def test_deletion_ts_and_sparse_cells_survive(spark):
    # hand-built cells exercising every layout branch: unset cell, set-null
    # cell, deletion_ts with and without value, empty string, unicode
    rows = [
        (0, 0, "i", {"role": {"value": "user", "deletion_ts": None, "set": True},
                     "text": {"value": "", "deletion_ts": None, "set": True},
                     "tool": {"value": None, "deletion_ts": 123456789, "set": True},
                     "ts": {"value": None, "deletion_ts": None, "set": False}}),
        (0, 16, "u", {"role": {"value": None, "deletion_ts": None, "set": False},
                      "text": {"value": "émoji ☃ tail", "deletion_ts": 777, "set": True},
                      "tool": {"value": "t_1", "deletion_ts": None, "set": True},
                      "ts": {"value": None, "deletion_ts": None, "set": False}}),
    ]
    import pyspark.sql.types as T

    from debezium_connector_cassandra_spark.model import CELLS_TYPE

    schema = T.StructType(
        [
            T.StructField("segment_id", T.LongType()),
            T.StructField("position", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("cells", CELLS_TYPE),
        ]
    )
    spark_df = spark.createDataFrame(rows, schema)
    back = decode_payload_binary(encode_payload_binary(spark_df))
    assert _sorted_rows(back) == _sorted_rows(spark_df)

    # the same branches for every numeric slot kind, edge values included,
    # byte-identical to the scalar reference packer
    import datetime

    from debezium_connector_cassandra_spark.functions.binary_codec import (
        _encode_cells_py,
    )
    from debezium_connector_cassandra_spark.model import TableSpec

    numeric = TableSpec(
        keyspace="ks", table="numeric",
        payload=(
            ("n32", T.IntegerType()), ("n64", T.LongType()),
            ("flag", T.BooleanType()), ("x", T.DoubleType()),
            ("at", T.TimestampType()),
        ),
    )

    def cell(value, deletion_ts=None, is_set=True):
        return {"value": value, "deletion_ts": deletion_ts, "set": is_set}

    rows = [
        (1, 0, "i", {"n32": cell(-(2**31)), "n64": cell(2**63 - 1), "flag": cell(False),
                     "x": cell(-0.0),
                     "at": cell(datetime.datetime(1969, 12, 31, 23, 59, 59, 999999))}),
        (1, 16, "u", {"n32": cell(None, 5), "n64": cell(None, is_set=False),
                      "flag": cell(True, 9), "x": cell(float("inf")), "at": cell(None)}),
        (1, 32, "u", {"n32": cell(7), "n64": cell(-(2**63)), "flag": cell(None),
                      "x": cell(-1e308, 11), "at": cell(datetime.datetime(2200, 1, 1, 0, 0, 0, 1))}),
        (1, 48, "d", None),
    ]
    schema = T.StructType(schema.fields[:3] + [T.StructField("cells", numeric.cells_type())])
    spark_df = spark.createDataFrame(rows, schema)
    enc = encode_payload_binary(spark_df, numeric)
    assert {r["position"]: r["payload"] for r in enc.collect()} == {
        r["position"]: _encode_cells_py(r["cells"], numeric) for r in spark_df.collect()
    }
    back = decode_payload_binary(enc, numeric)
    assert _sorted_rows(back) == _sorted_rows(spark_df)


# --- other TableSpecs (multi-table S5) --------------------------------------

def _mt_setup(spark):
    from pyspark.sql import types as T

    from debezium_connector_cassandra_spark.model import TableSpec
    from debezium_connector_cassandra_spark.sources.generator import (
        gen_multi_table_log,
    )

    specs = [
        TableSpec(
            keyspace="ks1", table="transcripts",
            payload=(
                ("role", T.StringType()), ("text", T.StringType()),
                ("tool", T.StringType()), ("ts", T.TimestampType()),
            ),
        ),
        TableSpec(
            keyspace="ks2", table="runs",
            partition_key="run_id", clustering_key="step",
            payload=(
                ("status", T.StringType()), ("latency_ms", T.LongType()),
                ("ok", T.BooleanType()),
            ),
        ),
    ]
    log = gen_multi_table_log(spark, specs, 1600, events_per_segment=800, seed=23)
    return specs, log


def test_spec_codec_parity_with_json(spark):

    specs, log = _mt_setup(spark)
    for spec in specs:
        sl = log.where(
            (F.col("keyspace") == spec.keyspace) & (F.col("table") == spec.table)
        )
        via_json = decode_payload_jvm(sl, spec)
        reencoded = encode_payload_binary(via_json, spec).withColumns(
            {"keyspace": F.lit(spec.keyspace), "table": F.lit(spec.table)}
        )
        via_bin = decode_payload_binary(reencoded, spec)
        cols = ["segment_id", "position", "cells"]
        assert _sorted_rows(via_bin.select(*cols)) == \
            _sorted_rows(via_json.select(*cols)), spec.fqtn


def test_multi_table_runner_binary_state_equals_json(spark, tmp_path):
    from debezium_connector_cassandra_spark.streaming.multi_table import (
        MultiTableRunner,
    )

    specs, log = _mt_setup(spark)
    json_path = str(tmp_path / "log_json")
    bin_path = str(tmp_path / "log_bin")
    log.write.mode("overwrite").partitionBy("segment_id").parquet(json_path)
    parts = []
    for spec in specs:
        sl = log.where(
            (F.col("keyspace") == spec.keyspace) & (F.col("table") == spec.table)
        )
        parts.append(
            encode_payload_binary(decode_payload_jvm(sl, spec), spec)
            .withColumns(
                {"keyspace": F.lit(spec.keyspace), "table": F.lit(spec.table)}
            )
            .select(*log.columns)
        )
    bin_log = parts[0].unionByName(parts[1])
    bin_log.write.mode("overwrite").partitionBy("segment_id").parquet(bin_path)

    rj = MultiTableRunner(spark, json_path, str(tmp_path / "tj"), specs, n_buckets=4)
    rj.run()
    rb = MultiTableRunner(
        spark, bin_path, str(tmp_path / "tb"), specs, n_buckets=4,
        payload_format="binary",
    )
    rb.run()
    for spec in specs:
        assert _sorted_rows(rj.read_table(spec.fqtn)) == \
            _sorted_rows(rb.read_table(spec.fqtn)), spec.fqtn


def test_streaming_binary_with_classify_skip(spark, tmp_path):
    """Streaming front-end parity: binary codec + D3 classify-and-skip in
    one run must equal the batch runner over the pre-filtered plain log."""
    from debezium_connector_cassandra_spark.functions.decode import (
        split_unsupported,
    )
    from debezium_connector_cassandra_spark.sources.generator import (
        tag_table_kinds,
    )
    from debezium_connector_cassandra_spark.streaming.stream import CdcStream

    log = gen_mutation_log(
        spark, 2000, n_convs=25, events_per_segment=500, seed=31
    )
    tagged = tag_table_kinds(log)
    write_mutation_log(encode_payload_binary(tagged), str(tmp_path / "log"))
    r = CdcRunner(
        spark, str(tmp_path / "log"), str(tmp_path / "t"), n_buckets=4,
        log_schema="infer", decode_binary=True, payload_format="binary",
    )
    CdcStream(r, max_files_per_trigger=3).run_available(str(tmp_path / "ckpt"))

    sup, _ = split_unsupported(tagged)
    write_mutation_log(sup.drop("table_kind"), str(tmp_path / "log2"))
    r2 = CdcRunner(spark, str(tmp_path / "log2"), str(tmp_path / "t2"), n_buckets=4)
    r2.run()
    assert _sorted_rows(r.target.read_transcripts()) == \
        _sorted_rows(r2.target.read_transcripts())
