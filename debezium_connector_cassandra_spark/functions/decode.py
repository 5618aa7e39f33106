"""Decode / classify / envelope construction — the per-mutation "map" stage.

Covers SURVEY §2.2:
- D1  CDC filter                      (reference handleMutation:241-251)
- D3  partition classification        (PartitionType.getPartitionType:137-156)
- D4  row classification              (RowType.getRowType:203-220)
- D10 field exclude filter            (FieldFilterSelector.selectFieldFilter:32-55)
- D11 envelope construction           (RecordMaker.createRecord:58-96)
- D12 event-time assignment           (handleRowModifications:429)
- D13 envelope SMT op remap i/u/d/r -> c/u/d/t (EnvelopeTransformation.apply:30-66)
- S5  serialized-payload decode analog — from_json parsing a JSON payload
      into typed cells, standing in for Cassandra's CommitLogReader
      (Cassandra4CommitLogSegmentReader.java:29-33); the binary layout's
      decoder is functions/binary_codec.py's Arrow column function.

Everything here is pure Catalyst column expressions (whole-stage codegen, no
Python in the hot loop).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..model import TRANSCRIPTS_SPEC, TableSpec
from .sql import string_lit

# D3 full form — the reference classifies mutations against COUNTER /
# MATERIALIZED_VIEW / SECONDARY_INDEX tables as unsupported partition types
# and skips them with a warning instead of emitting change events
# (PartitionType.getPartitionType:137-156, validity :158-168, handler guard
# Cassandra4CommitLogReadHandlerImpl.java:102-168). The log models the table
# kind as an optional ``table_kind`` column ('cdc' / absent = capturable).
UNSUPPORTED_KINDS: dict[str, str] = {
    "counter": "COUNTER",
    "materialized_view": "MATERIALIZED_VIEW",
    "secondary_index": "SECONDARY_INDEX",
}


def partition_type_full(kind_col: str = "table_kind") -> Column:
    """PartitionType of an unsupported-kind row (getPartitionType full
    switch). Only ``split_unsupported``'s skipped rows reach it; the
    supported classes come from ``with_envelope``'s CASE."""
    return F.create_map(*[F.lit(x) for kv in UNSUPPORTED_KINDS.items() for x in kv])[
        F.col(kind_col)
    ]


def split_unsupported(df: DataFrame, kind_col: str = "table_kind"):
    """Classify-and-skip: returns ``(supported, skipped_counts)`` where
    ``supported`` excludes unsupported-partition mutations and
    ``skipped_counts`` is a per-PartitionType count relation (the
    counted-and-warned skip the reference performs; the counts land in the
    runner's _metrics as n_skipped).

    A log without the ``table_kind`` column is entirely capturable —
    supported passes through unchanged and the skip relation is empty."""
    if kind_col not in df.columns:
        empty = df.sparkSession.createDataFrame(
            [], "partition_type string, n_skipped long"
        )
        return df, empty
    is_unsup = F.col(kind_col).isin(*UNSUPPORTED_KINDS.keys())
    supported = df.where(~F.coalesce(is_unsup, F.lit(False)))
    skipped = (
        df.where(is_unsup)
        .groupBy(partition_type_full(kind_col).alias("partition_type"))
        .agg(F.count("*").alias("n_skipped"))
    )
    return supported, skipped


def with_envelope(
    df: DataFrame,
    excluded_fields: tuple[str, ...] = (),
    cluster: str = "synthetic",
    keyspace: str = "agents",
    table: str = "transcripts",
) -> DataFrame:
    """D11: attach {ts_ms, op, source, after}-shaped columns.

    ``excluded_fields`` implements D10 (field.exclude.list): excluded cells are
    nulled from INSERT/UPDATE envelopes only — deletes keep their tombstone
    cells, mirroring RecordMaker.createRecord:61-72. ``keyspace``/``table``
    flow into the SourceInfo struct (multi-table routing identity).
    """
    if excluded_fields:
        df = df.withColumn(
            "cells",
            F.when(
                F.col("cells").isNotNull(),
                F.struct(
                    *[
                        (
                            F.when(
                                F.col("op").isin("i", "u"),
                                F.lit(None).cast(field.dataType),
                            )
                            .otherwise(F.col("cells")[field.name])
                            if field.name in excluded_fields
                            else F.col("cells")[field.name]
                        ).alias(field.name)
                        for field in df.schema["cells"].dataType.fields
                    ]
                ),
            ),
        )
    # one appending selectExpr (a withColumn chain cost ~40 py4j round
    # trips per construction; identical analyzed schema)
    return df.selectExpr(
        "*",
        "CAST(writetime / 1000 AS BIGINT) AS ts_ms",
        "CASE WHEN op = 'i' THEN 'c' WHEN op = 'u' THEN 'u' "
        "WHEN op IN ('d','p') THEN 'd' ELSE 't' END AS envelope_op",
        f"named_struct('cluster', {string_lit(cluster)}, "
        "'file', concat('CommitLog-7-', CAST(segment_id AS STRING), '.log'), "
        "'pos', position, "
        f"'keyspace', {string_lit(keyspace)}, 'table', {string_lit(table)}, "
        "'snapshot', snapshot, 'ts_micro', writetime) AS source",
        "CASE WHEN op = 'p' THEN 'PARTITION_KEY_ROW_DELETION' "
        "WHEN op = 'r' THEN 'ROW_RANGE_DELETION' "
        "ELSE 'ROW_LEVEL_MODIFICATION' END AS partition_type",
        "CASE WHEN op = 'i' THEN 'INSERT' WHEN op = 'u' THEN 'UPDATE' "
        "WHEN op = 'd' THEN 'DELETE' WHEN op = 'r' THEN 'RANGE_TOMBSTONE' "
        "WHEN op = 'p' THEN 'PARTITION_DELETE' ELSE 'UNKNOWN' END AS row_type",
    )


# ---------------------------------------------------------------------------
# Logged-batch mutations — the reference processes one Mutation's SEVERAL
# PartitionUpdates under ONE shared OffsetPosition
# (Cassandra4CommitLogReadHandlerImpl.handleMutation:255-272; scenario
# BatchTest.java:26-96). Spark formulation: a batch log row carries
# ``changes: array<struct<...>>`` and explodes into per-change rows BEFORE
# classification, every change keeping the batch's (segment_id, position) —
# so the offset checkpoint advances atomically per batch (the position
# appears once; either all of a batch's changes are applied or none).
# ---------------------------------------------------------------------------


def explode_batch_mutations(log: DataFrame) -> DataFrame:
    """Batch-shaped log (model.BATCH_LOG_SCHEMA) -> canonical per-change
    rows (model.MUTATION_LOG_SCHEMA order).

    Every change carries the batch's offset; a member's NULL writetime
    inherits the batch default (the no-USING-TIMESTAMP case). Column
    ``batch_member`` (appended last) is the change's index in its batch: the
    log order among changes that share one offset, which range-marker
    pairing needs. Pure Catalyst explode — whole-stage codegen, the array
    never round-trips Python."""
    extra = [
        c
        for c in log.columns
        if c
        not in (
            "segment_id",
            "position",
            "log_partition",
            "writetime",
            "changes",
            "schema_version",
            "snapshot",
        )
    ]
    return log.selectExpr(
        "segment_id",
        "position",
        "log_partition",
        "writetime AS _batch_wt",
        "posexplode(changes) AS (batch_member, c)",
        "schema_version",
        "snapshot",
        *extra,
    ).selectExpr(
        "segment_id",
        "position",
        "log_partition",
        "c.op AS op",
        "c.conv_id AS conv_id",
        "c.turn_idx AS turn_idx",
        "coalesce(c.writetime, _batch_wt) AS writetime",
        "c.cells AS cells",
        "c.range_start AS range_start",
        "c.range_end AS range_end",
        "schema_version",
        "snapshot",
        *extra,
        "batch_member",
    )


def explode_mt_batch_mutations(log: DataFrame) -> DataFrame:
    """Multi-table batch log (model.MT_BATCH_LOG_SCHEMA) -> canonical
    per-change rows (model.MULTI_TABLE_LOG_SCHEMA order).

    A Mutation is per-keyspace and may touch SEVERAL tables — each change
    carries its own table name (pu.metadata().name in the reference's loop)
    while keyspace + offset are the batch's. NULL member writetime inherits
    the batch default."""
    return log.select(
        "segment_id",
        "position",
        "log_partition",
        "keyspace",
        F.col("writetime").alias("_batch_wt"),
        F.explode("changes").alias("c"),
        "schema_version",
        "snapshot",
    ).select(
        "segment_id",
        "position",
        "log_partition",
        "keyspace",
        F.col("c.table").alias("table"),
        F.col("c.op").alias("op"),
        F.col("c.conv_id").alias("conv_id"),
        F.col("c.turn_idx").alias("turn_idx"),
        F.coalesce(F.col("c.writetime"), F.col("_batch_wt")).alias("writetime"),
        F.col("c.payload").alias("payload"),
        F.col("c.range_start").alias("range_start"),
        F.col("c.range_end").alias("range_end"),
        "schema_version",
        "snapshot",
    )


# ---------------------------------------------------------------------------
# S5 analog — payload decode.
#
# A log can carry each mutation's cells serialized as a payload (the
# stand-in for Cassandra's binary mutation encoding), decoded against the
# table's TableSpec (the SchemaHolder lookup): JSON bytes parse with
# from_json inside whole-stage codegen; the binary layout decodes with
# functions/binary_codec.py's scalar Arrow UDF on the payload column.
# ---------------------------------------------------------------------------

# full MICROSECOND precision — the default to_json format truncates to
# millis, silently dropping the sub-ms part of Cassandra's micro-precision
# timestamps (the binary codec twin exposed the asymmetry)
_JSON_OPTIONS = {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"}


def encode_payload(df: DataFrame) -> DataFrame:
    """Serialize cells -> JSON payload bytes (producer-side analog)."""
    return df.withColumn(
        "payload", F.encode(F.to_json(F.col("cells"), _JSON_OPTIONS), "utf-8")
    ).drop("cells")


def decode_payload_jvm(df: DataFrame, spec: TableSpec = TRANSCRIPTS_SPEC) -> DataFrame:
    """JSON payload -> ``spec``'s typed cells with JVM ``from_json`` (codegen
    path). Drops the payload and the multi-table routing columns."""
    return df.withColumn(
        "cells",
        F.from_json(F.decode(F.col("payload"), "utf-8"), spec.cells_type(), _JSON_OPTIONS),
    ).drop("payload", "keyspace", "table")


def decode_payload(df: DataFrame, spec: TableSpec, payload_format: str) -> DataFrame:
    """The one json/binary dispatch of every front-end's payload decode."""
    if payload_format == "binary":
        from .binary_codec import decode_payload_binary

        return decode_payload_binary(df, spec)
    return decode_payload_jvm(df, spec)
