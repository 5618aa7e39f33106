"""S6/S7 — snapshot bootstrap (initial load).

Reference: SnapshotProcessor.takeTableSnapshot (core/.../SnapshotProcessor.
java:167-278) — per cdc-enabled table, SELECT every row (+TTL, +now()) and
emit INSERT envelopes with snapshot=true; offsets are marked all-or-nothing
per table with the sentinel offset ("" : -1) (SnapshotProcessor.java:51-55,
OffsetPosition.java:20-21,43-45). Snapshot modes ALWAYS/INITIAL/NEVER
(CassandraConnectorConfig.java:46-80); table selection = cdc-enabled tables
minus already-snapshotted ones (getTablesToSnapshot:154-161 — an anti-join).

Spark formulation: the snapshot is ONE job — read the source table, shape it
into mutation-log rows (op='i', snapshot=true, segment_id=-1, position=-1),
and push it through the same apply path as streamed batches, so LWW and
later deletes compose naturally with bootstrap rows. The snapshot writetime
sits below every streamed writetime, so incremental changes always win.
"""

from __future__ import annotations

from enum import Enum

from pyspark.sql import DataFrame, SparkSession, functions as F

SNAPSHOT_SEGMENT = -1
SNAPSHOT_POSITION = -1
SNAPSHOT_LOG_PARTITION = -1


class SnapshotMode(Enum):
    ALWAYS = "always"
    INITIAL = "initial"
    NEVER = "never"


def snapshot_to_mutations(
    source: DataFrame,
    snapshot_writetime: int,
    schema_version: int = 1,
    ttl_seconds_col: str | None = None,
) -> DataFrame:
    """Shape a transcript table into snapshot mutation rows.

    Payload columns = everything except the key. ``ttl_seconds_col``
    reproduces the reference's TTL math (calculateDeletionTs:342-344):
    deletion_ts = execution_time + ttl for expiring cells.
    """
    payload_cols = [c for c in source.columns if c not in ("conv_id", "turn_idx", ttl_seconds_col)]
    wt = F.lit(snapshot_writetime)

    def cell(name: str) -> F.Column:
        del_ts = (
            F.when(
                F.col(ttl_seconds_col).isNotNull(),
                wt + F.col(ttl_seconds_col).cast("long") * F.lit(1_000_000),
            ).otherwise(F.lit(None).cast("long"))
            if ttl_seconds_col
            else F.lit(None).cast("long")
        )
        return F.struct(
            F.col(name).alias("value"),
            del_ts.alias("deletion_ts"),
            F.lit(True).alias("set"),
        ).alias(name)

    return source.select(
        F.lit(SNAPSHOT_SEGMENT).cast("long").alias("segment_id"),
        F.lit(SNAPSHOT_POSITION).cast("long").alias("position"),
        F.lit(SNAPSHOT_LOG_PARTITION).cast("int").alias("log_partition"),
        F.lit("i").alias("op"),
        F.col("conv_id"),
        F.col("turn_idx").cast("int"),
        wt.alias("writetime"),
        F.struct(*[cell(c) for c in payload_cols]).alias("cells"),
        F.lit(None).cast("struct<method:string,turn_idx:int>").alias("range_start"),
        F.lit(None).cast("struct<method:string,turn_idx:int>").alias("range_end"),
        F.lit(schema_version).cast("int").alias("schema_version"),
        F.lit(True).alias("snapshot"),
    )


class SnapshotMetrics:
    """The reference's snapshot JMX gauge VALUES
    (CassandraSnapshotMetrics.java:26-110; lifecycle driven exactly like
    SnapshotProcessor.java:129-141 setTableCount/startSnapshot/completeTable/
    stopSnapshot and :268-277 setRowsScanned). The transport (JMX MBean)
    stays out of scope per SURVEY — these are the values a monitoring stack
    consumes."""

    def __init__(self):
        self.reset()

    def reset(self) -> None:
        self.total_table_count = 0
        self.remaining_table_count = 0
        self.snapshot_running = False
        self.snapshot_completed = False
        self.snapshot_aborted = False
        self._start_ms = 0
        self._completed_ms = 0
        self._aborted_ms = 0
        self.rows_scanned: dict[str, int] = {}

    # -- lifecycle (reference method names) ---------------------------------
    def set_table_count(self, n: int) -> None:
        self.total_table_count = n
        self.remaining_table_count = n

    def start_snapshot(self) -> None:
        import time

        self.snapshot_running = True
        self.snapshot_completed = False
        self.snapshot_aborted = False
        self._start_ms = int(time.time() * 1000)

    def complete_table(self) -> None:
        self.remaining_table_count = max(0, self.remaining_table_count - 1)

    def set_rows_scanned(self, table: str, n: int) -> None:
        self.rows_scanned[table] = int(n)

    def stop_snapshot(self) -> None:
        import time

        self.snapshot_running = False
        self.snapshot_completed = True
        self._completed_ms = int(time.time() * 1000)

    def abort_snapshot(self) -> None:
        import time

        self.snapshot_running = False
        self.snapshot_aborted = True
        self._aborted_ms = int(time.time() * 1000)

    def snapshot_duration_seconds(self) -> int:
        """Mirror of snapshotDurationInSeconds (reference :96-110)."""
        import time

        if self._start_ms == 0:
            return 0
        stop = self._completed_ms
        if self._aborted_ms > 0:
            stop = self._aborted_ms
        if stop <= 0:
            stop = int(time.time() * 1000)
        return (stop - self._start_ms) // 1000

    def gauges(self) -> dict:
        return {
            "total_table_count": self.total_table_count,
            "remaining_table_count": self.remaining_table_count,
            "snapshot_running": self.snapshot_running,
            "snapshot_completed": self.snapshot_completed,
            "snapshot_aborted": self.snapshot_aborted,
            "rows_scanned": dict(self.rows_scanned),
            "snapshot_duration_seconds": self.snapshot_duration_seconds(),
        }


class SnapshotProcessor:
    """Table-selection + all-or-nothing snapshot offsets (S7)."""

    def __init__(self, runner):
        self.runner = runner  # CdcRunner — shares offsets/lineage tables
        self.metrics = SnapshotMetrics()

    def snapshot_metrics(self) -> dict:
        """Snapshot-context gauge values — the twin of
        CdcRunner.streaming_metrics() for the snapshot MBean."""
        return self.metrics.gauges()

    def is_snapshotted(self) -> bool:
        if self.runner.offsets.is_empty():
            return False
        n = (
            self.runner.offsets.read()
            .where(F.col("log_partition") == SNAPSHOT_LOG_PARTITION)
            .count()
        )
        return n > 0

    def tables_to_snapshot(self, mode: SnapshotMode) -> bool:
        """Single-table engine: returns whether THIS table needs a snapshot.
        (The reference's multi-table anti-join, getTablesToSnapshot:154-161,
        degenerates to a membership test; the anti-join pattern itself is
        exercised in __spark_entry__ queries.)"""
        if mode == SnapshotMode.NEVER:
            return False
        if mode == SnapshotMode.ALWAYS:
            return True
        return not self.is_snapshotted()

    def take(self, source: DataFrame, snapshot_writetime: int, mode: SnapshotMode = SnapshotMode.INITIAL) -> dict | None:
        """Run the snapshot as one apply; mark completion all-or-nothing.

        The completion marker is written only AFTER the state commit —
        interrupted snapshots restart from scratch, which is safe because
        snapshot inserts are idempotent upserts (same property the reference
        relies on, SnapshotProcessor.java:51-55)."""
        from ..plans.apply import apply_batch  # local: avoids a cycle

        if not self.tables_to_snapshot(mode):
            self.metrics.set_table_count(0)
            return None
        # gauge lifecycle mirrors SnapshotProcessor.java:129-141
        self.metrics.set_table_count(1)
        self.metrics.start_snapshot()
        fqtn = "agents.transcripts"
        try:
            # apply_batch refreshes the maintained view, if any, too
            stats = apply_batch(self.runner.target, snapshot_to_mutations(source, snapshot_writetime))
            self.metrics.set_rows_scanned(fqtn, stats.get("n_events", 0))
            self.metrics.complete_table()
        except Exception:
            self.metrics.abort_snapshot()
            raise
        import time as _time

        self.runner.offsets.append_small(
            [
                {
                    "log_partition": SNAPSHOT_LOG_PARTITION,
                    "segment_id": SNAPSHOT_SEGMENT,
                    "position": SNAPSHOT_POSITION,
                    "updated_at": int(_time.time() * 1000),
                }
            ]
        )
        self.metrics.stop_snapshot()
        return stats
