"""The single-table pull front-end — Spark lifecycle replacing SURVEY §3.1.

One iteration: discover unprocessed segments -> scan the log slice
(partition-pruned, position-pushdown) -> decode/envelope -> apply_batch. The
pre-scan, the commit, the drain loop and the GC sweep are the ingest core's
(streaming/ingest.py), which states the exactly-once contract and what each
lineage status does. The slice step after the pre-scan (``_apply``: DDL
replay, decode, checks, routing, apply_batch) is shared with the streaming
front-end (streaming/stream.py). The log slice is scanned three times per
batch: by the narrow pre-scan, by the tombstone-row collect inside
apply_batch (when the batch carries tombstones) and by the reduction of its
merge.

Offset filtering is applied ONLY to segments known to be partially applied
(status 'open': the position-limited live tail), up to the offset watermarks
that lie inside them (a watermark past the segment filters nothing there, so
at worst applied rows re-apply idempotently). Fully pending segments are
always read in full, because a global (segment, position) watermark is only
a safe skip-filter when events were applied in watermark order — which the
Structured Streaming front-end cannot guarantee (file delivery order is
arbitrary). Re-applying rows is harmless (idempotent merge); *dropping*
never-applied rows is permanent loss.

Backpressure (R2 bounded queue analog) is ``segments_per_batch``. Errors
(R3/R7/R8): ``run(on_error='isolate')`` quarantines a failing segment with
an 'error' lineage row; ``reprocess`` replays named segments with the offset
check bypassed (reprocessingCommitLogs, CommitLogProcessor.java:113-117).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.decode import decode_payload, split_unsupported, with_envelope
from ..lake.table import LakeTable
from ..model import LINEAGE_SCHEMA, OFFSETS_SCHEMA, TRANSCRIPTS_SPEC
from ..plans.apply import CdcTarget, apply_batch, gc_tombstones
from ..sources.generator import read_mutation_log
from ..sources.log_scan import discover_segments, on_disk_columns
from .ingest import COMPLETES, Batch, drain, gc_sweep, open_bookkeeping


class CdcRunner:
    def __init__(
        self,
        spark: SparkSession,
        log_path: str,
        target_path: str,
        segments_per_batch: int = 8,
        n_buckets: int = 16,
        excluded_fields: tuple[str, ...] = (),
        schema_changes: tuple = (),
        log_schema=None,
        decode_binary: bool = False,
        payload_format: str = "json",
        export_changes: bool = False,
        tombstones_on_delete: bool = True,
        unpaired_range_markers: bool = False,
        validate_writetimes: bool = False,
        commit_log_transfer=None,
        routing_mode: str | None = None,
        n_queues: int = 8,
        batch_mutations: bool = False,
        tracing: bool = False,
        gc_grace_us: int | None = None,
        gc_every_batches: int = 8,
        maintain_assembly: bool = False,
    ):
        self.spark = spark
        self.log_path = log_path
        self.target_path = target_path
        self.segments_per_batch = segments_per_batch
        self.excluded_fields = excluded_fields
        self.schema_changes = list(schema_changes)
        # logged-batch mode: the log carries atomic multi-change records
        # (changes: array<...> at one offset — handleMutation:255-272);
        # run_batch explodes them before classification
        self.batch_mutations = batch_mutations
        self.log_schema = self._resolve_log_schema(log_schema)
        self.decode_binary = decode_binary
        if payload_format not in ("json", "binary"):
            raise ValueError(f"unknown payload_format {payload_format!r}")
        self.payload_format = payload_format
        self.export_changes = export_changes
        self.tombstones_on_delete = tombstones_on_delete
        self.unpaired_range_markers = unpaired_range_markers
        self.validate_writetimes = validate_writetimes
        # R7 post-process plug-in (CommitLogTransfer analog): archives/
        # deletes a segment AFTER its state commit, export, and lineage land
        self.commit_log_transfer = commit_log_transfer
        # R1 routing-mode knob (EventOrderGuaranteeMode,
        # CassandraConnectorConfig.java:246-288): None lets the apply's own
        # key shuffle route; a mode co-locates each ordered queue in one
        # shuffle partition before the apply (getPartitionQueueIndex analog)
        if routing_mode is not None:
            from ..operators.routing import ROUTING_MODES

            if routing_mode not in ROUTING_MODES:
                raise ValueError(
                    f"unknown routing mode {routing_mode!r}; use one of {ROUTING_MODES}"
                )
        self.routing_mode = routing_mode
        self.n_queues = n_queues
        if export_changes:
            from ..lake.changes import ChangesExport

            self.changes = ChangesExport(spark, f"{target_path}/changes")
        else:
            self.changes = None
        # tracing SPI analog (TracingEmitter decorator, tracing.enabled=true):
        # spans decorate the EMISSION surface, so they require the export
        if tracing and not export_changes:
            raise ValueError(
                "tracing=True decorates the change-record emission "
                "(TracingEmitter analog) and requires export_changes=True"
            )
        self.tracing = tracing
        if tracing:
            from ..lake.changes import ChangesExport

            self.traces = ChangesExport(spark, f"{target_path}/traces")
        else:
            self.traces = None
        if LakeTable.exists(f"{target_path}/state"):
            self.target = CdcTarget.open(spark, target_path)
        else:
            self.target = CdcTarget.create(spark, target_path, n_buckets=n_buckets)
        # maintained downstream view (incremental view maintenance in the
        # ingest loop): a per-conversation transcript assembly that is part
        # of the target — apply_batch re-assembles the touched buckets FROM
        # STATE after each state commit, before offsets land
        if maintain_assembly:
            from ..operators.transcript import open_assembly

            open_assembly(spark, f"{target_path}/assembly", self.target)
        # single-writer in-memory bookkeeping caches (recovered from the
        # tables once, here; maintained by the ingest core's commit)
        statuses = open_bookkeeping(
            self, target_path, OFFSETS_SCHEMA, LINEAGE_SCHEMA, gc_grace_us, gc_every_batches
        )
        self._done = {s for s, st in statuses.items() if st & set(COMPLETES)}
        # open: a position-limited tail; errored: quarantined (R8)
        self._open = {s for s, st in statuses.items() if "open" in st} - self._done
        self._errored = {s for s, st in statuses.items() if "error" in st} - self._done

    @property
    def targets(self) -> dict[str, CdcTarget]:
        """The one target under the ingest core's single-table key ""."""
        return {"": self.target}

    def _resolve_log_schema(self, log_schema):
        """D3 safety: the canonical read schema silently DROPS a ``table_kind``
        column present on disk — counter/MV/SI mutations would then be applied
        as normal rows, the opposite of the reference's unsupported-partition
        guard (Cassandra4CommitLogReadHandlerImpl.java:102-168). Detect the
        tagged-log case once per runner lifetime and auto-include the column
        so classify-and-skip cannot be bypassed by a forgotten config."""
        if log_schema is not None:
            return log_schema
        from pyspark.sql import types as T

        from ..model import BATCH_LOG_SCHEMA, MUTATION_LOG_SCHEMA

        base = BATCH_LOG_SCHEMA if self.batch_mutations else None
        # a log not written yet reads with the canonical schema
        if "table_kind" not in (on_disk_columns(self.spark, self.log_path) or ()):
            return base
        import warnings

        warnings.warn(
            "mutation log carries a 'table_kind' column not in the configured "
            "schema; auto-including it so unsupported-partition mutations are "
            "classified and skipped (pass log_schema explicitly to override)",
            stacklevel=3,
        )
        return T.StructType(
            list((BATCH_LOG_SCHEMA if self.batch_mutations else MUTATION_LOG_SCHEMA).fields)
            + [T.StructField("table_kind", T.StringType(), True)]
        )

    # -- checkpoint state (recovered once per runner lifetime) ---------------
    def checkpointed_offsets(self) -> dict[int, tuple[int, int]]:
        """log_partition -> (segment_id, position) high-watermark (R5)."""
        return dict(self._watermarks)

    def done_segments(self) -> set[int]:
        return set(self._done)

    def open_segments(self) -> set[int]:
        return set(self._open)

    def errored_segments(self) -> set[int]:
        """Segments quarantined by run(on_error='isolate') — replay them
        with reprocess() after fixing the data (R8)."""
        return set(self._errored)

    # -- the per-row pipeline (shared with CdcStream) ----------------------
    def _read(self, segment_ids: list[int]) -> DataFrame:
        """Scan the named segments (only their directories are listed).
        Logged batches explode first, so every change of a batch shares its
        offset and (default) writetime and the offset checkpoint advances
        atomically per batch (handleMutation:255-272)."""
        log = read_mutation_log(self.spark, self.log_path, schema=self.log_schema, segments=segment_ids)
        if self.batch_mutations:
            from ..functions.decode import explode_batch_mutations

            log = explode_batch_mutations(log)
        return log

    def _classify(self, log: DataFrame) -> DataFrame:
        """D3 full form: mutations against COUNTER / MATERIALIZED_VIEW /
        SECONDARY_INDEX tables are skipped (PartitionType guard,
        Cassandra4CommitLogReadHandlerImpl.java:102-168) — the pre-scan
        already counted them, and they still advance offsets/lineage. D9
        full form: separate start/end range markers pair (per conv, log
        order) before the apply or export sees them."""
        if "table_kind" in log.columns:
            log = split_unsupported(log)[0].drop("table_kind")
        if self.unpaired_range_markers:
            from ..operators.tombstones import pair_range_markers

            log = pair_range_markers(log)
        return log

    def _decode_payload(self, log: DataFrame) -> DataFrame:
        """S5: decode serialized payload bytes into typed cells, the
        TRANSCRIPTS_SPEC case of the per-TableSpec decode."""
        return decode_payload(log, TRANSCRIPTS_SPEC, self.payload_format)

    def _decode(self, log: DataFrame) -> DataFrame:
        """The apply-side decode: payload bytes (when the log carries them)
        and the D10 field exclusion. The full envelope (ts_ms, source, ...)
        is NOT built on the apply hot path — it exists for the export
        surface; the apply needs only cells."""
        if self.decode_binary:
            log = self._decode_payload(log)
        if self.excluded_fields:
            log = with_envelope(log, excluded_fields=self.excluded_fields).select(*log.columns)
        return log

    # -- planning -----------------------------------------------------------
    def pending_segments(self) -> list[int]:
        all_segments = discover_segments(self.log_path)
        return [
            s
            for s in all_segments
            if s not in self._done and s not in self._errored
        ]

    # -- one batch ----------------------------------------------------------
    def run_batch(
        self,
        segment_ids: list[int],
        reprocess: bool = False,
        position_limit: int | None = None,
    ) -> dict:
        """Process the given segments as one batch. ``position_limit``
        truncates the LAST segment at a byte position — the live-segment
        incremental-tail mode (S4): a later batch resumes past the
        checkpointed position."""
        log = self._read(segment_ids)
        # resume-past-checkpoint filter, scoped to OPEN (partially applied)
        # segments only — see module docstring for why a global watermark
        # filter is unsafe
        if not reprocess:
            for seg in sorted(self._open & set(segment_ids)):
                behind = F.lit(False)
                for lp, (wseg, pos) in sorted(self._watermarks.items()):
                    if wseg == seg:
                        behind = behind | (
                            (F.col("log_partition") == lp) & (F.col("position") <= pos)
                        )
                log = log.where((F.col("segment_id") != int(seg)) | ~behind)
        if position_limit is not None:
            last = max(segment_ids)
            log = log.where(
                (F.col("segment_id") < last) | (F.col("position") <= position_limit)
            )
        # the ingest core's one narrow pre-scan, over the raw slice: skipped
        # rows still advance offsets/lineage, as the reference reads past them
        batch = Batch(self, log, segment_ids)
        applied = self._apply(batch, self._classify(log), batch.stats())

        # a position-limited tail leaves the last segment un-finalized
        open_segment = max(segment_ids) if position_limit is not None and not reprocess else None
        finalized = [s for s in segment_ids if s != open_segment]
        if self.changes is not None and finalized:
            self._export(finalized)
        out = batch.commit(
            "reprocess" if reprocess else "done", segments=segment_ids, open_segment=open_segment
        )
        if self.commit_log_transfer is not None:
            # R7 post-process: archive a segment AFTER its state commit,
            # export and lineage landed
            for seg in finalized:
                self.commit_log_transfer.on_success(seg)
        return {**out, "n_skipped": batch.n_skipped, **applied}

    def _apply(self, batch: Batch, log: DataFrame, stats: dict) -> dict:
        """The slice step both front-ends run on a classified slice (this
        runner's ``run_batch`` and ``CdcStream``'s micro-batches): R9 DDL
        replay, decode, the opt-in writetime check, R1 routing, then
        ``apply_batch`` with the pre-scan's ``stats``."""
        if self.schema_changes:
            # R9: replay DDL onto the lake BEFORE applying batches that carry
            # the new shape (SchemaChangeListener scenario)
            from .schema_evolution import replay_schema_changes

            replay_schema_changes(self.target, self.schema_changes, max(batch.segment_ids))
        log = self._decode(log)
        if self.validate_writetimes:
            from ..operators.lww import validate_unique_writetimes

            validate_unique_writetimes(log)
        if self.routing_mode is not None:
            from ..operators.routing import route_df

            log = route_df(log, self.routing_mode, self.n_queues).drop("queue")
        return apply_batch(self.target, log, stats=stats)

    def _export(self, segment_ids: list[int]) -> None:
        """R4 export half: persist change envelopes for segments this batch
        finalizes (complete row sets only — see lake/changes.py). A fresh
        unfiltered read of just those segments guarantees completeness even
        when the apply slice was position/offset-filtered; replays and
        reprocess rewrite the same partitions idempotently. The apply's
        classify step runs here too: skipped partition types emit no change
        events, and an unpaired range delete exports as one paired event."""
        from ..lake.changes import envelope_rows

        full = self._classify(self._read(segment_ids))
        if self.decode_binary:
            full = self._decode_payload(full)
        env = envelope_rows(
            full,
            excluded_fields=self.excluded_fields,
            tombstones_on_delete=self.tombstones_on_delete,
        )
        self.changes.write_segments(env, segment_ids)
        if self.traces is not None:
            # two deterministic spans per emitted record (backdated write +
            # read with CDC lag); same segment-overwrite idempotence as the
            # changes export
            from ..operators.tracing import trace_spans

            self.traces.write_segments(
                trace_spans(env, read_ts_ms=int(time.time() * 1000)), segment_ids
            )

    # -- R10 metrics surface -------------------------------------------------
    def streaming_metrics(self) -> dict:
        """The reference's streaming JMX gauge VALUES
        (CassandraStreamingMetrics.java:19-73) computed from bookkeeping
        state — commit-log filename/position per log partition plus
        processed/skipped totals. The transport (JMX MBean / HTTP) stays out
        of scope per SURVEY (Spark UI / event log); the gauge semantics are
        what a monitoring stack actually consumes."""
        per_partition = {
            lp: {
                "commit_log_filename": f"CommitLog-7-{seg}.log",
                "commit_log_position": pos,
            }
            for lp, (seg, pos) in sorted(self._watermarks.items())
        }
        if self.metrics.is_empty():
            totals = {"n_batches": 0, "n_processed": 0, "n_skipped": 0,
                      "last_batch_wall_ms": None}
        else:
            row = (
                self.metrics.read()
                .agg(
                    F.count("*").alias("n_batches"),
                    F.sum("n_applied").alias("n_processed"),
                    F.sum("n_skipped").alias("n_skipped"),
                    F.max(F.struct("batch_id", "wall_ms")).alias("last"),
                )
                .collect()[0]
            )
            totals = {
                "n_batches": row["n_batches"],
                "n_processed": row["n_processed"],
                "n_skipped": row["n_skipped"],
                "last_batch_wall_ms": row["last"]["wall_ms"],
            }
        if self.gc_log is not None and not self.gc_log.is_empty():
            totals["n_tombstones_purged"] = (
                self.gc_log.read().agg(F.sum("n_purged")).collect()[0][0] or 0
            )
        else:
            totals["n_tombstones_purged"] = 0
        return {
            **totals,
            "n_segments_done": len(self._done),
            "n_segments_open": len(self._open),
            "n_segments_error": len(self._errored),
            "per_partition": per_partition,
        }

    # -- maintained downstream view (transcript assembly IVM) ----------------
    def read_assembly(self) -> DataFrame:
        """The maintained per-conversation transcript view."""
        if self.target.assembly is None:
            raise ValueError("pass maintain_assembly=True to maintain the view")
        return self.target.assembly.read().select(
            "conv_id", "n_turns", "last_turn", "total_chars", "transcript"
        )

    # -- tombstone GC (gc_grace) ---------------------------------------------
    def gc(self) -> dict:
        """Purge stored tombstones no future event can need (gc_grace): the
        horizon is the max APPLIED writetime minus the configured grace — by
        the producer's bounded-inversion contract, every not-yet-applied
        event's writetime lands above it, so purged tombstones can never be
        out-raced by a late upsert. One audit row per invocation lands in
        the ``_gc`` bookkeeping table."""
        if self._errored and self.gc_grace_us is not None:
            # quarantined segments hold not-yet-applied events whose
            # writetimes may sit at or below the current horizon; purging
            # now could let their later replay (reprocess) out-race a
            # purged delete. Skip until the quarantine clears.
            return {"n_purged": 0, "n_kept": 0, "horizon_wt": None}
        horizon, res = gc_sweep(self, gc_tombstones)
        if horizon is None:
            return {"n_purged": 0, "n_kept": 0, "horizon_wt": None}
        return {"n_purged": res[""]["n_purged"], "n_kept": res[""]["n_kept"], "horizon_wt": horizon}

    def _mark_error(self, segment_id: int) -> None:
        """Quarantine a failing segment (R3's archive-to-error-folder flow):
        an 'error' lineage row, exclusion from future planning, and the
        CommitLogTransfer.on_error move when a transfer is configured."""
        self.lineage.append_small(
            [{"segment_id": int(segment_id), "log_partition": -1, "status": "error", "n_events": 0}]
        )
        self._errored.add(int(segment_id))
        if self.commit_log_transfer is not None:
            self.commit_log_transfer.on_error(segment_id)

    # -- the loop -----------------------------------------------------------
    def run(self, max_batches: int | None = None, on_error: str = "raise") -> list[dict]:
        """Drain pending segments through the ingest core's loop
        (``ingest.drain``: GC cadence, ``on_error`` 'raise' | 'isolate').
        Isolated segments get an 'error' lineage row and
        CommitLogTransfer.on_error; ``reprocess()`` replays them once
        fixed."""
        return drain(self, max_batches, on_error)

    def reprocess(self, segment_ids: list[int]) -> dict:
        """R8 error-segment reprocessing: replay named segments bypassing the
        offset skip-check; state is unchanged on a true replay because the
        merge is idempotent. Errored segments are restored from the
        transfer's error folder first (reference moves error commit logs
        back to the CDC dir, CommitLogProcessor.java:113-117) and leave
        quarantine on success."""
        if self.commit_log_transfer is not None:
            for seg in segment_ids:
                self.commit_log_transfer.restore(seg)
        return self.run_batch(segment_ids, reprocess=True)
