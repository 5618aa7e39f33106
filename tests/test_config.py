"""Configuration surface — mirrors CassandraConnectorConfigTest.java for the
engine-relevant key set (the Kafka/HTTP/converter keys are transport, out of
scope per SURVEY)."""

import pytest
from pyspark.sql import types as T

from debezium_connector_cassandra_spark.config import CdcConfig
from debezium_connector_cassandra_spark.functions.types import DecimalMode, VarintMode
from debezium_connector_cassandra_spark.sources.generator import (
    gen_mutation_log,
    write_mutation_log,
)


def test_defaults_match_reference():
    c = CdcConfig({})
    assert c.snapshot_mode() == "initial"  # DEFAULT_SNAPSHOT_MODE :326
    assert c.tombstones_on_delete() is False  # DEFAULT_TOMBSTONES_ON_DELETE :514
    assert c.num_of_change_event_queues() == 1  # :476
    assert c.error_commit_log_reprocess_enabled() is False  # :380
    assert c.post_process_enabled() is True  # :374
    assert c.tracing_enabled() is False  # :360
    assert c.event_order_guarantee_mode() is None
    assert c.field_exclude_list() == ()


def test_field_exclude_list_parses_like_reference():
    c = CdcConfig({"field.exclude.list": "keyspace1.table1.column1,keyspace1.table1.column2"})
    assert c.field_exclude_list() == (
        "keyspace1.table1.column1",
        "keyspace1.table1.column2",
    )
    assert c.excluded_fields() == ("column1", "column2")


def test_enum_values_validate():
    assert CdcConfig({"snapshot.mode": "always"}).snapshot_mode() == "always"
    assert (
        CdcConfig({"event.order.guarantee.mode": "commitlog_file"}).event_order_guarantee_mode()
        == "commitlog_file"
    )
    with pytest.raises(ValueError):
        CdcConfig({"snapshot.mode": "sometimes"})
    with pytest.raises(ValueError):
        CdcConfig({"event.order.guarantee.mode": "alphabetical"})
    with pytest.raises(ValueError):
        CdcConfig({"tombstones.on.delete": "yep"})
    with pytest.raises(ValueError):
        CdcConfig({"num.of.change.event.queues": "many"})


def test_unknown_keys_raise():
    with pytest.raises(ValueError, match="unknown configuration keys"):
        CdcConfig({"snapshot.modes": "initial"})


def test_handling_modes_reach_type_mapper():
    c = CdcConfig(
        {"decimal.handling.mode": "precise", "varint.handling.mode": "string"}
    )
    tm = c.type_mapper()
    assert tm.decimal_mode == DecimalMode.PRECISE
    assert tm.varint_mode == VarintMode.STRING
    assert tm.spark_type("decimal") == T.DecimalType(38, 18)
    assert tm.spark_type("varint") == T.StringType()


def test_tracing_implies_export():
    kw = CdcConfig({"tracing.enabled": "true"}).runner_kwargs()
    assert kw["tracing"] is True and kw["export_changes"] is True


def test_build_runner_end_to_end(spark, tmp_path):
    """A properties dict drives a real drain (ConnectorTask wiring analog)."""
    log = gen_mutation_log(spark, 600, n_convs=15, events_per_segment=200, seed=71)
    log_path = str(tmp_path / "log")
    write_mutation_log(log, log_path)
    c = CdcConfig(
        {
            "tombstones.on.delete": "true",
            "spark.segments.per.batch": "2",
            "spark.n.buckets": "4",
            "spark.tombstone.gc.grace.us": "1050000",
        }
    )
    r = c.build_runner(spark, log_path, str(tmp_path / "t"))
    assert r.gc_grace_us == 1050000 and r.segments_per_batch == 2
    r.run()
    assert r.target.read_transcripts().count() > 0


def test_payload_format_reaches_the_decode(spark, tmp_path):
    """A log that carries payload bytes is read with its ``payload`` column
    and decoded with the ``spark.payload.format`` codec, to the same state
    as a runner wired by hand."""
    from debezium_connector_cassandra_spark.functions.binary_codec import (
        encode_payload_binary,
    )
    from debezium_connector_cassandra_spark.streaming.runner import CdcRunner

    log = gen_mutation_log(spark, 600, n_convs=15, events_per_segment=200, seed=71)
    log_path = str(tmp_path / "log")
    write_mutation_log(encode_payload_binary(log), log_path)
    c = CdcConfig({"spark.payload.format": "binary", "spark.n.buckets": "4"})
    r = c.build_runner(spark, log_path, str(tmp_path / "t"))
    r.run()
    direct = CdcRunner(
        spark, log_path, str(tmp_path / "t2"), n_buckets=4,
        log_schema="infer", decode_binary=True, payload_format="binary",
    )
    direct.run()
    got = sorted(map(tuple, r.target.read_transcripts().collect()))
    assert got == sorted(map(tuple, direct.target.read_transcripts().collect()))
    assert sum(row[3] is not None for row in got) > 0  # text cells decoded


def test_default_payload_format_set_explicitly_on_a_cells_log(spark, tmp_path):
    """Setting ``spark.payload.format`` to its default changes nothing: a
    log with typed cells and no payload column drains as without the key."""
    log = gen_mutation_log(spark, 600, n_convs=15, events_per_segment=200, seed=71)
    log_path = str(tmp_path / "log")
    write_mutation_log(log, log_path)
    states = []
    for name, props in (
        ("t", {"spark.n.buckets": "4"}),
        ("t2", {"spark.n.buckets": "4", "spark.payload.format": "json"}),
    ):
        r = CdcConfig(props).build_runner(spark, log_path, str(tmp_path / name))
        assert r.decode_binary is False
        r.run()
        states.append(sorted(map(tuple, r.target.read_transcripts().collect())))
    assert states[0] == states[1] and len(states[0]) > 0
