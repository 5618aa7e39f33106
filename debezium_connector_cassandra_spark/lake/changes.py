"""Change-envelope export sink — the reference's PRIMARY output surface.

The reference's reason to exist is the change stream itself: RecordMaker
builds {ts_ms, op, source, after} envelopes (RecordMaker.java:58-96) and the
Kafka sink emits them per table; after a row delete it optionally emits a
null-value tombstone record so compacted topics drop the key
(``tombstones.on.delete``, CassandraConnectorConfig.java:514,
RecordMaker.java:84-95).

Lake formulation: a ``changes`` table partitioned by ``segment_id``, written
with dynamic partition overwrite — a segment's change rows are REPLACED, not
appended, whenever that segment is (re)processed, which makes the export
exactly-once under at-least-once batch replay (the same idempotence contract
the state merge has, reached by overwrite instead of semilattice merge):

- replayed batch       -> same rows rewritten, byte-identical manifest
- reprocess (R8)       -> segment partitions rewritten from scratch
- position-limited tail-> exported only when the segment FINALIZES, so a
  partition is always the segment's complete, final row set.

Downstream consumers read it like a Kafka topic with per-segment offsets:
``(segment_id, position)`` is the total order, exactly the reference's
OffsetPosition contract.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.decode import with_envelope
from .table import spark_write_options


def envelope_rows(
    log: DataFrame,
    excluded_fields: tuple[str, ...] = (),
    tombstones_on_delete: bool = True,
    cluster: str = "synthetic",
    keyspace: str = "agents",
    table: str = "transcripts",
) -> DataFrame:
    """Decoded mutation rows -> export-shaped change envelopes.

    One row per mutation: {segment_id, position, log_partition, ts_ms,
    envelope_op (D13 remap), conv_id, turn_idx, after, source,
    is_tombstone_record=false}; plus, when ``tombstones_on_delete``, one
    extra null-valued tombstone record per row/partition delete
    (is_tombstone_record=true, position offset +1 keeps the total order:
    positions stride 16 in the log analog, and the reference emits the
    tombstone record immediately after the delete envelope).
    """
    env = with_envelope(
        log,
        excluded_fields=excluded_fields,
        cluster=cluster,
        keyspace=keyspace,
        table=table,
    )
    base = env.select(
        "segment_id",
        "position",
        "log_partition",
        "ts_ms",
        "envelope_op",
        "conv_id",
        "turn_idx",
        F.when(F.col("op").isin("i", "u"), F.col("cells")).alias("after"),
        "source",
        F.lit(False).alias("is_tombstone_record"),
    )
    if not tombstones_on_delete:
        return base
    tombs = env.where(F.col("op").isin("d", "p")).select(
        "segment_id",
        (F.col("position") + F.lit(1)).alias("position"),
        "log_partition",
        "ts_ms",
        F.lit("tombstone").alias("envelope_op"),
        "conv_id",
        "turn_idx",
        F.lit(None).cast(base.schema["after"].dataType).alias("after"),
        "source",
        F.lit(True).alias("is_tombstone_record"),
    )
    return base.unionByName(tombs)


class ChangesExport:
    """The ``changes`` lake table (segment-partitioned, overwrite-by-segment)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def exists(self) -> bool:
        return os.path.isdir(self.path)

    def write_segments(self, envelopes: DataFrame, segment_ids: list[int]) -> None:
        """Idempotently (re)write the given segments' change rows.

        Dynamic partition overwrite: only the partitions present in the
        DataFrame are replaced; other segments' exports are untouched. At
        cluster scale this is the Iceberg `REPLACE WHERE segment_id IN (...)`
        commit shape. Files take the lake's file encoding
        (``lake.table.spark_write_options``).
        """
        (
            envelopes.where(F.col("segment_id").isin(*[int(s) for s in segment_ids]))
            .repartition("segment_id")
            .write.mode("overwrite")
            .options(**spark_write_options(envelopes.schema))
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("segment_id")
            .parquet(self.path)
        )

    def read(self) -> DataFrame:
        df = self.spark.read.parquet(self.path)
        # partition column returns last; restore leading position
        cols = ["segment_id"] + [c for c in df.columns if c != "segment_id"]
        return df.select(*cols)
