"""Type-system breadth — modeled on the reference round-trip suite
cassandra-4/src/test/.../CassandraTypeDeserializerTest.java:75+ plus the
decimal/varint handling modes (CassandraConnectorConfig.java:85-238).

Covers: the Cassandra-DDL -> Spark type mapping (scalars, collections,
tuples, UDTs, frozen<>), payload JSON round-trip for nested types, and the
LWW reduction over non-orderable (map) and collection payloads vs a
recomputed expectation.
"""

import pytest
from pyspark.sql import functions as F, types as T

from debezium_connector_cassandra_spark.functions.types import (
    DecimalMode,
    TypeMapper,
    VarintMode,
)
from debezium_connector_cassandra_spark.model import TableSpec
from debezium_connector_cassandra_spark.operators.lww import (
    drop_invisible,
    finalize_state,
    reduce_events,
    reduce_events_salted,
)


# ---------------------------------------------------------------------------
# DDL -> Spark type mapping
# ---------------------------------------------------------------------------

SCALARS = [
    ("ascii", T.StringType()),
    ("text", T.StringType()),
    ("varchar", T.StringType()),
    ("tinyint", T.ByteType()),
    ("smallint", T.ShortType()),
    ("int", T.IntegerType()),
    ("bigint", T.LongType()),
    ("counter", T.LongType()),
    ("float", T.FloatType()),
    ("double", T.DoubleType()),
    ("boolean", T.BooleanType()),
    ("timestamp", T.TimestampType()),
    ("date", T.DateType()),
    ("time", T.LongType()),
    ("uuid", T.StringType()),
    ("timeuuid", T.StringType()),
    ("inet", T.StringType()),
    ("blob", T.BinaryType()),
]


@pytest.mark.parametrize("ddl,expected", SCALARS)
def test_scalar_mapping(ddl, expected):
    assert TypeMapper().spark_type(ddl) == expected


def test_decimal_varint_modes():
    assert TypeMapper(decimal_mode=DecimalMode.PRECISE).spark_type("decimal") == T.DecimalType(38, 18)
    assert TypeMapper(decimal_mode=DecimalMode.DOUBLE).spark_type("decimal") == T.DoubleType()
    assert TypeMapper(decimal_mode=DecimalMode.STRING).spark_type("decimal") == T.StringType()
    assert TypeMapper(varint_mode=VarintMode.PRECISE).spark_type("varint") == T.DecimalType(38, 0)
    assert TypeMapper(varint_mode=VarintMode.LONG).spark_type("varint") == T.LongType()
    assert TypeMapper(varint_mode=VarintMode.STRING).spark_type("varint") == T.StringType()


def test_collection_and_nested_mapping():
    tm = TypeMapper()
    assert tm.spark_type("list<int>") == T.ArrayType(T.IntegerType(), True)
    assert tm.spark_type("set<text>") == T.ArrayType(T.StringType(), True)
    assert tm.spark_type("map<text, bigint>") == T.MapType(T.StringType(), T.LongType(), True)
    assert tm.spark_type("map<text, frozen<list<int>>>") == T.MapType(
        T.StringType(), T.ArrayType(T.IntegerType(), True), True
    )
    assert tm.spark_type("tuple<int, text>") == T.StructType(
        [T.StructField("_0", T.IntegerType(), True), T.StructField("_1", T.StringType(), True)]
    )
    assert tm.spark_type("frozen<set<uuid>>") == T.ArrayType(T.StringType(), True)


def test_udt_mapping():
    tm = TypeMapper(udts={"address": (("street", "text"), ("zip", "int"))})
    assert tm.spark_type("address") == T.StructType(
        [T.StructField("street", T.StringType(), True), T.StructField("zip", T.IntegerType(), True)]
    )
    assert tm.spark_type("list<frozen<address>>") == T.ArrayType(
        T.StructType(
            [T.StructField("street", T.StringType(), True), T.StructField("zip", T.IntegerType(), True)]
        ),
        True,
    )


# Per-version provider registries. cassandra-4 and cassandra-5 register the
# IDENTICAL deserializer list (Cassandra4TypeProvider.java:79-105 vs
# Cassandra5TypeProvider.java — the diff is the class name only); dse differs
# in ONE entry: date registers as a BasicTypeDeserializer with DATE_TYPE
# instead of SimpleDateDeserializer (DseTypeProvider.java) — the logical type
# is a date either way. TypeMapper is therefore version-agnostic: one
# registry serves all three providers.
_PROVIDER_REGISTRY = [
    # BasicTypeDeserializer rows
    "boolean", "varchar", "ascii", "tinyint", "blob", "float", "double",
    "int", "smallint", "bigint", "time", "counter",
    # logical-type deserializers
    "date", "inet", "timestamp", "uuid", "timeuuid", "decimal", "varint",
    "duration",
    # collection / struct deserializers (composed)
    "list<int>", "set<text>", "map<text, bigint>", "tuple<int, text>",
]


@pytest.mark.parametrize("provider", ["cassandra-4", "cassandra-5", "dse"])
def test_provider_registry_maps_fully(provider):
    """Every type a version provider registers resolves through TypeMapper
    (plus the UDT path the UserDefinedTypeDeserializer covers)."""
    tm = TypeMapper(udts={"udt1": (("f", "text"),)})
    for name in _PROVIDER_REGISTRY + ["udt1", "frozen<udt1>"]:
        assert tm.spark_type(name) is not None, f"{provider}: {name} unmapped"
    # the date entry both SimpleDateDeserializer (c4/c5) and the dse
    # BasicTypeDeserializer(DATE_TYPE) land on
    assert tm.spark_type("date") == T.DateType()


def test_unknown_type_raises():
    with pytest.raises(ValueError):
        TypeMapper().spark_type("wibble")
    with pytest.raises(ValueError):
        TypeMapper().spark_type("list<int")


def test_duration_triple():
    dt = TypeMapper().spark_type("duration")
    assert [f.name for f in dt.fields] == ["months", "days", "nanos"]


# ---------------------------------------------------------------------------
# payload JSON round-trip for nested types (the commit-log fidelity mode)
# ---------------------------------------------------------------------------

def _spec_with(payload):
    return TableSpec(keyspace="ks", table="t", payload=payload)


def test_collection_payload_round_trip(spark):
    from debezium_connector_cassandra_spark.functions.decode import (
        decode_payload_jvm,
    )

    tm = TypeMapper()
    payload = tm.payload_from_ddl(
        [
            ("tags", "set<text>"),
            ("attrs", "map<text, int>"),
            ("pair", "tuple<int, text>"),
            ("nums", "list<bigint>"),
        ]
    )
    spec = _spec_with(payload)
    cells = F.struct(
        *[
            F.struct(F.col(n).alias("value"), F.lit(None).cast("long").alias("deletion_ts"), F.lit(True).alias("set")).alias(n)
            for n, _ in payload
        ]
    )
    src = spark.createDataFrame(
        [
            (["a", "b"], {"k": 1}, (7, "x"), [10, 20, 30]),
            (["c"], {"k2": 2, "k3": 3}, (9, None), []),
        ],
        T.StructType([T.StructField(n, t, True) for n, t in payload]),
    )
    encoded = src.select(
        F.lit("ks").alias("keyspace"), F.lit("t").alias("table"),
        F.encode(F.to_json(cells), "utf-8").alias("payload"),
    )
    decoded = decode_payload_jvm(encoded, spec).select("cells.*").collect()
    assert decoded[0]["tags"]["value"] == ["a", "b"]
    assert decoded[0]["attrs"]["value"] == {"k": 1}
    assert decoded[0]["pair"]["value"]["_0"] == 7
    assert decoded[1]["nums"]["value"] == []
    assert decoded[1]["attrs"]["value"] == {"k2": 2, "k3": 3}


# ---------------------------------------------------------------------------
# LWW over collection / map payloads (non-orderable types ride max_by)
# ---------------------------------------------------------------------------

def _mk_log(spark, payload, rows):
    """rows: (seg, pos, op, conv, turn, wt, {col: (value, set)})"""
    fields = T.StructType(
        [
            T.StructField("segment_id", T.LongType()),
            T.StructField("position", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("writetime", T.LongType()),
            T.StructField(
                "range_start",
                T.StructType(
                    [T.StructField("method", T.StringType()), T.StructField("turn_idx", T.IntegerType())]
                ),
                True,
            ),
            T.StructField(
                "range_end",
                T.StructType(
                    [T.StructField("method", T.StringType()), T.StructField("turn_idx", T.IntegerType())]
                ),
                True,
            ),
            T.StructField(
                "cells",
                T.StructType(
                    [
                        T.StructField(
                            n,
                            T.StructType(
                                [
                                    T.StructField("value", t, True),
                                    T.StructField("deletion_ts", T.LongType(), True),
                                    T.StructField("set", T.BooleanType(), False),
                                ]
                            ),
                            True,
                        )
                        for n, t in payload
                    ]
                ),
                True,
            ),
        ]
    )
    data = []
    for seg, pos, op, conv, turn, wt, cellmap in rows:
        cells = None
        if op in ("i", "u"):
            cells = tuple(
                (cellmap.get(n, (None, False))[0], None, cellmap.get(n, (None, False))[1])
                for n, _ in payload
            )
        data.append((seg, pos, op, conv, turn, wt, None, None, cells))
    return spark.createDataFrame(data, fields)


def test_lww_map_cell_latest_wins(spark):
    payload = (("attrs", T.MapType(T.StringType(), T.IntegerType())),)
    log = _mk_log(
        spark,
        payload,
        [
            (0, 0, "i", "c1", 1, 100, {"attrs": ({"a": 1}, True)}),
            (0, 1, "u", "c1", 1, 300, {"attrs": ({"b": 2}, True)}),
            (1, 0, "u", "c1", 1, 200, {"attrs": ({"z": 9}, True)}),
            (1, 1, "u", "c1", 1, 300, {"attrs": (None, False)}),  # not set: no-op
        ],
    )
    st = drop_invisible(finalize_state(reduce_events(log))).collect()
    assert len(st) == 1
    assert st[0]["attrs"] == {"b": 2}

    st2 = drop_invisible(finalize_state(reduce_events_salted(log, salt_buckets=4))).collect()
    assert st2[0]["attrs"] == {"b": 2}


def test_lww_map_cell_equal_wt_position_tiebreak(spark):
    payload = (("attrs", T.MapType(T.StringType(), T.IntegerType())),)
    log = _mk_log(
        spark,
        payload,
        [
            (0, 5, "i", "c1", 1, 100, {"attrs": ({"lo": 1}, True)}),
            (0, 9, "u", "c1", 1, 100, {"attrs": ({"hi": 2}, True)}),  # same wt, later pos
        ],
    )
    st = drop_invisible(finalize_state(reduce_events(log))).collect()
    assert st[0]["attrs"] == {"hi": 2}


def test_lww_array_and_struct_cells_with_delete(spark):
    payload = (
        ("tags", T.ArrayType(T.StringType())),
        ("pair", T.StructType([T.StructField("_0", T.IntegerType()), T.StructField("_1", T.StringType())])),
    )
    log = _mk_log(
        spark,
        payload,
        [
            (0, 0, "i", "c1", 1, 100, {"tags": (["a"], True), "pair": ((1, "x"), True)}),
            (0, 1, "u", "c1", 1, 200, {"tags": (["b", "c"], True)}),
            (0, 2, "d", "c1", 1, 150, {}),  # kills wt<=150: pair dies, tags survives
        ],
    )
    st = drop_invisible(finalize_state(reduce_events(log))).collect()
    assert len(st) == 1
    assert list(st[0]["tags"]) == ["b", "c"]
    assert st[0]["pair"] is None


def test_lww_scalar_cells_round_trip(spark):
    """Every remaining scalar family (uuid, date, time-nanos, inet, duration
    triple, blob) rides the LWW reduction + row-delete interplay and comes
    back value-identical — the CassandraTypeDeserializerTest.java:75-160
    round-trip model applied to the state build (see cdc_types_scalar for
    the full-state oracle twin)."""
    import datetime

    payload = (
        ("uid", T.StringType()),
        ("d", T.DateType()),
        ("tod", T.LongType()),
        ("addr", T.StringType()),
        (
            "dur",
            T.StructType(
                [
                    T.StructField("months", T.IntegerType()),
                    T.StructField("days", T.IntegerType()),
                    T.StructField("nanos", T.LongType()),
                ]
            ),
        ),
        ("bin", T.BinaryType()),
    )
    u1 = "0f8fad5b-d9cb-469f-a165-70867728950e"
    u2 = "7c9e6679-7425-40de-944b-e07fc1f90ae7"
    log = _mk_log(
        spark,
        payload,
        [
            (
                0, 0, "i", "c1", 1, 100,
                {
                    "uid": (u1, True),
                    "d": (datetime.date(2021, 3, 14), True),
                    "tod": (3600 * 10**9 + 123, True),
                    "addr": ("10.1.2.3", True),
                    "dur": ((2, 10, 5_000_000_000), True),
                    "bin": (b"\x00\xffcdc", True),
                },
            ),
            # later sparse update: only uuid + duration move
            (
                0, 1, "u", "c1", 1, 300,
                {"uid": (u2, True), "dur": ((0, 1, 42), True)},
            ),
            # stale delete between the writes: kills the wt<=150 cells,
            # the wt=300 cells survive
            (1, 0, "d", "c1", 1, 150, {}),
        ],
    )
    st = drop_invisible(finalize_state(reduce_events(log))).collect()
    assert len(st) == 1
    row = st[0]
    assert row["uid"] == u2
    assert row["dur"]["months"] == 0 and row["dur"]["days"] == 1 and row["dur"]["nanos"] == 42
    # wt=100 cells died to the row tombstone
    assert row["d"] is None and row["tod"] is None and row["addr"] is None and row["bin"] is None

    # without the delete, every scalar survives byte/value-identical
    log2 = _mk_log(
        spark,
        payload,
        [
            (
                0, 0, "i", "c2", 1, 100,
                {
                    "uid": (u1, True),
                    "d": (datetime.date(2021, 3, 14), True),
                    "tod": (3600 * 10**9 + 123, True),
                    "addr": ("10.1.2.3", True),
                    "dur": ((2, 10, 5_000_000_000), True),
                    "bin": (b"\x00\xffcdc", True),
                },
            ),
        ],
    )
    row2 = drop_invisible(finalize_state(reduce_events(log2))).collect()[0]
    assert row2["uid"] == u1
    assert row2["d"] == datetime.date(2021, 3, 14)
    assert row2["tod"] == 3600 * 10**9 + 123
    assert row2["addr"] == "10.1.2.3"
    assert (row2["dur"]["months"], row2["dur"]["days"], row2["dur"]["nanos"]) == (2, 10, 5_000_000_000)
    assert bytes(row2["bin"]) == b"\x00\xffcdc"


def test_full_apply_with_collection_payload(spark, tmp_path):
    """Collections through the FULL lake apply path (reduce -> finalize ->
    COW merge -> read back), two batches with cross-batch LWW conflict."""
    from debezium_connector_cassandra_spark.plans.apply import CdcTarget, apply_batch

    payload = (
        ("tags", T.ArrayType(T.StringType())),
        ("attrs", T.MapType(T.StringType(), T.IntegerType())),
    )
    tgt = CdcTarget.create(spark, str(tmp_path / "t"), n_buckets=4, payload=dict(payload))
    b1 = _mk_log(
        spark,
        payload,
        [
            (0, 0, "i", "c1", 1, 100, {"tags": (["a"], True), "attrs": ({"k": 1}, True)}),
            (0, 1, "i", "c2", 2, 400, {"tags": (["z"], True), "attrs": ({"q": 7}, True)}),
        ],
    )
    b2 = _mk_log(
        spark,
        payload,
        [
            (1, 0, "u", "c1", 1, 300, {"attrs": ({"k": 2, "m": 3}, True)}),
            (1, 1, "d", "c2", 2, 350, {}),  # older than c2's insert: no-op
        ],
    )
    apply_batch(tgt, b1)
    apply_batch(tgt, b2)
    rows = {(r["conv_id"], r["turn_idx"]): r for r in tgt.read_transcripts().collect()}
    assert list(rows[("c1", 1)]["tags"]) == ["a"]
    assert rows[("c1", 1)]["attrs"] == {"k": 2, "m": 3}
    assert rows[("c2", 2)]["attrs"] == {"q": 7}


def test_full_apply_with_quoted_identifiers(spark, tmp_path):
    """Payload columns that need quoting in SQL text (a reserved word, a
    space, a dash) through the full lake apply, the state read and the
    transcript assembly; a keyspace containing a quote through the
    envelope's SourceInfo literals."""
    from debezium_connector_cassandra_spark.functions.decode import with_envelope
    from debezium_connector_cassandra_spark.operators.transcript import assemble_transcripts
    from debezium_connector_cassandra_spark.plans.apply import CdcTarget, apply_batch

    payload = (("order", T.IntegerType()), ("my col", T.StringType()), ("a-b", T.StringType()))
    tgt = CdcTarget.create(spark, str(tmp_path / "t"), n_buckets=4, payload=dict(payload))
    b1 = _mk_log(
        spark,
        payload,
        [
            (0, 0, "i", "c1", 1, 100, {"order": (1, True), "my col": ("user", True), "a-b": ("hi", True)}),
            (0, 1, "i", "c1", 2, 110, {"order": (2, True), "my col": ("bot", True), "a-b": ("yo", True)}),
            (0, 2, "i", "c2", 1, 120, {"order": (3, True), "a-b": ("x", True)}),
        ],
    )
    b2 = _mk_log(
        spark,
        payload,
        [
            (1, 0, "u", "c1", 2, 300, {"a-b": ("yo!", True)}),
            (1, 1, "d", "c2", 1, 400, {}),
        ],
    )
    apply_batch(tgt, b1)
    apply_batch(tgt, b2)
    state = tgt.read_transcripts()
    rows = {(r["conv_id"], r["turn_idx"]): r for r in state.collect()}
    assert set(rows) == {("c1", 1), ("c1", 2)}
    assert (rows[("c1", 2)]["order"], rows[("c1", 2)]["my col"], rows[("c1", 2)]["a-b"]) == (2, "bot", "yo!")

    (doc,) = assemble_transcripts(state, role_col="my col", text_col="a-b", sep=" | ").collect()
    assert (doc["conv_id"], doc["n_turns"], doc["transcript"]) == ("c1", 2, "user: hi | bot: yo!")

    env = with_envelope(
        b1.withColumn("snapshot", F.lit(False)),
        excluded_fields=("a-b",), cluster="c\\1", keyspace="o'neil", table="my table",
    )
    src = env.select("source.*").first()
    assert (src["cluster"], src["keyspace"], src["table"]) == ("c\\1", "o'neil", "my table")
    assert env.where("cells.`a-b`.value IS NOT NULL").count() == 0
