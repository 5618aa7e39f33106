"""Multi-table / multi-keyspace capture — the reference's KeyspaceTable +
SchemaHolder machinery re-expressed over one shared commit log.

Reference shape (core/.../KeyspaceTable.java, SchemaHolder.java:18-52,
scenario tests/.../MultipleTablesProcessingTest.java:27-106): one commit-log
stream interleaves mutations of every cdc-enabled table; each mutation is
decoded against ITS table's schema (SchemaHolder lookup) and routed to its
own topic/target, while offsets advance on the shared log.

Spark formulation:
- the log (model.MULTI_TABLE_LOG_SCHEMA) carries (keyspace, table) routing
  columns and a per-table serialized payload;
- the ingest core's one narrow pre-scan (streaming/ingest.py) groups by
  (fqtn, segment, log_partition): per-table offsets/lineage stats, op-kind
  counts and touched buckets;
- per table: filter + decode with that table's cells schema, then the
  standard apply_batch into that table's own CdcTarget — one slice step
  (``MultiTableRunner._apply``) shared by the runner and the stream;
- bookkeeping is PER TABLE (fqtn column): offsets are (fqtn, log_partition)
  watermarks, lineage rows are (fqtn, segment) grained. A segment is globally
  'done' when every table's apply committed — the runner commits each
  table's offsets and lineage as its apply lands, so a crash mid-batch
  resumes with only the un-committed tables replaying (idempotent merges
  make the replay a no-op for tables that already applied).

Snapshot table selection (S7) is the real anti-join the reference performs
(SnapshotProcessor.getTablesToSnapshot:154-161): cdc-enabled tables MINUS
already-snapshotted ones, as a DataFrame anti-join on the offsets table.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.decode import decode_payload
from ..lake.table import LakeTable
from ..model import (
    MT_LINEAGE_SCHEMA,
    MT_OFFSETS_SCHEMA,
    MULTI_TABLE_LOG_SCHEMA,
    TableSpec,
)
from ..plans.apply import CdcTarget, apply_batch, gc_tombstones
from ..sources.generator import read_mutation_log
from ..sources.log_scan import discover_segments
from .ingest import COMPLETES, Batch, StreamDriver, drain, gc_sweep, open_bookkeeping


class MultiTableRunner:
    """CdcRunner generalized to N tables over one shared mutation log."""

    def __init__(
        self,
        spark: SparkSession,
        log_path: str,
        target_root: str,
        specs: list[TableSpec],
        segments_per_batch: int = 8,
        n_buckets: int = 8,
        table_changes: tuple = (),
        export_changes: bool = False,
        tombstones_on_delete: bool = True,
        payload_format: str = "json",
        batch_mutations: bool = False,
        gc_grace_us: int | None = None,
        gc_every_batches: int = 8,
        maintain_assembly: dict | None = None,
    ):
        """``table_changes``: DDL ledger of table lifecycle events —
        ``(effective_segment, "create", TableSpec)`` /
        ``(effective_segment, "drop", fqtn)`` — the reference's
        onTableCreated / onTableDropped callbacks
        (Cassandra4SchemaChangeListener.java:114-159 create, :162-217 drop),
        replayed against the discovered segment range before each drain."""
        self.spark = spark
        self.log_path = log_path
        self.target_root = target_root
        self.specs: dict[str, TableSpec] = {s.fqtn: s for s in specs}
        self.segments_per_batch = segments_per_batch
        self.n_buckets = n_buckets
        self.table_changes = list(table_changes)
        self.export_changes = export_changes
        self.tombstones_on_delete = tombstones_on_delete
        if payload_format not in ("json", "binary"):
            raise ValueError(f"unknown payload_format {payload_format!r}")
        # 'json' = per-table from_json (codegen); 'binary' = the per-TableSpec
        # binary layout + Arrow column decoder (functions/binary_codec.py)
        self.payload_format = payload_format
        # logged-batch mode: the log carries per-keyspace atomic multi-change
        # records whose changes may span TABLES (the reference Mutation
        # shape, handleMutation:255-272); _read_log explodes before anything
        self.batch_mutations = batch_mutations
        # maintained per-table transcript views: {fqtn: {"text": col,
        # "role": col|None}} — part of each table's target, refreshed by
        # apply_batch after every state commit; tables absent from the dict
        # have no view
        self.maintain_assembly: dict[str, dict] = dict(maintain_assembly or {})
        for fqtn, cfg in self.maintain_assembly.items():
            if fqtn not in self.specs:
                raise ValueError(f"maintain_assembly: unknown table {fqtn!r}")
            payload_cols = set(self.specs[fqtn].payload_dict)
            for key in ("text",) + (("role",) if cfg.get("role") else ()):
                if cfg.get(key) and cfg[key] not in payload_cols:
                    raise ValueError(
                        f"maintain_assembly[{fqtn!r}]: column {cfg[key]!r} "
                        f"not in payload {sorted(payload_cols)}"
                    )
        self.targets: dict[str, CdcTarget] = {}
        for fqtn, spec in self.specs.items():
            self._ensure_target(fqtn, spec)
        # tombstone GC sweeps EVERY table's store (same contract as CdcRunner)
        statuses = open_bookkeeping(
            self, target_root, MT_OFFSETS_SCHEMA, MT_LINEAGE_SCHEMA, gc_grace_us, gc_every_batches
        )
        # fqtn -> the segments that table has fully applied
        self._done: dict[str, set[int]] = {f: set() for f in self.specs}
        for (fqtn, seg), st in statuses.items():
            if st & set(COMPLETES):
                self._done.setdefault(fqtn, set()).add(seg)
        from ..sources.snapshot import SnapshotMetrics

        self.metrics_snapshot = SnapshotMetrics()

    def snapshot_metrics(self) -> dict:
        """Snapshot-context gauge values (CassandraSnapshotMetrics.java:26-110)
        — tables captured/remaining, per-table rows scanned, duration."""
        return self.metrics_snapshot.gauges()

    def _ensure_target(self, fqtn: str, spec: TableSpec) -> None:
        path = f"{self.target_root}/{fqtn}"
        if LakeTable.exists(f"{path}/state"):
            self.targets[fqtn] = CdcTarget.open(self.spark, path)
        else:
            self.targets[fqtn] = CdcTarget.create(
                self.spark, path, n_buckets=self.n_buckets, payload=spec.payload_dict
            )
        if self.export_changes:
            from ..lake.changes import ChangesExport

            self.changes_tables = getattr(self, "changes_tables", {})
            self.changes_tables[fqtn] = ChangesExport(self.spark, f"{path}/changes")
        if fqtn in self.maintain_assembly:
            from ..operators.transcript import open_assembly

            cfg = self.maintain_assembly[fqtn]
            open_assembly(self.spark, f"{path}/assembly", self.targets[fqtn], cfg.get("role"), cfg["text"])

    def apply_table_changes(self, up_to_segment: int, discovered: list[int]) -> None:
        """Replay table create/drop DDL effective at or before
        ``up_to_segment``. Idempotent: a created table that already exists /
        a dropped table already absent are no-ops (crash-safe replay).

        CREATE registers the spec and marks every discovered segment BEFORE
        the effective segment as done for that table (capture starts at
        creation — pre-existing data arrives via snapshot, not the log).
        DROP marks every discovered segment AT/AFTER the effective segment
        as done: capture stops at the drop point while segments preceding it
        still drain normally; materialized state is retained (the reference
        likewise stops emitting but deletes nothing).
        """
        for eff, action, arg in self.table_changes:
            if eff > up_to_segment:
                continue
            if action == "create":
                spec = arg
                if spec.fqtn not in self.specs:
                    self.specs[spec.fqtn] = spec
                    self._ensure_target(spec.fqtn, spec)
                    self._done.setdefault(spec.fqtn, set()).update(
                        s for s in discovered if s < eff
                    )
            elif action == "drop":
                if arg in self.specs:
                    self._done.setdefault(arg, set()).update(
                        s for s in discovered if s >= eff
                    )
            else:
                raise ValueError(f"unknown table change action: {action!r}")

    def checkpointed_offsets(self) -> dict[tuple[str, int], tuple[int, int]]:
        """(fqtn, log_partition) -> (segment_id, position) high-watermark."""
        return dict(self._watermarks)

    # -- planning -------------------------------------------------------------
    def pending_segments(self) -> list[int]:
        """Segments not yet done for EVERY (currently captured) table."""
        all_segments = discover_segments(self.log_path)
        if self.table_changes and all_segments:
            self.apply_table_changes(max(all_segments), all_segments)
        return [
            s
            for s in all_segments
            if any(s not in self._done.setdefault(f, set()) for f in self.specs)
        ]

    def _read_log(self, segment_ids: list[int]) -> DataFrame:
        from ..functions.decode import explode_mt_batch_mutations
        from ..model import MT_BATCH_LOG_SCHEMA

        schema = MT_BATCH_LOG_SCHEMA if self.batch_mutations else MULTI_TABLE_LOG_SCHEMA
        log = read_mutation_log(self.spark, self.log_path, schema=schema, segments=segment_ids)
        return explode_mt_batch_mutations(log) if self.batch_mutations else log

    def _of_table(self, fqtn: str, log: DataFrame) -> DataFrame:
        """The table's rows of ``log``, decoded against its spec."""
        spec = self.specs[fqtn]
        sub = log.where((F.col("keyspace") == spec.keyspace) & (F.col("table") == spec.table))
        return decode_payload(sub, spec, self.payload_format)

    def _apply(self, fqtn: str, log: DataFrame, stats: dict) -> dict:
        """The per-table slice step both front-ends share (``run_batch`` and
        ``MultiTableStream``'s micro-batches): the table's decoded rows,
        then ``apply_batch`` with the pre-scan's ``stats``."""
        return apply_batch(self.targets[fqtn], self._of_table(fqtn, log), stats=stats)

    def _export(self, fqtn: str, log: DataFrame, segment_ids: list[int]) -> None:
        """R4 export half: the batch consumes whole segments, so the table's
        decoded rows are per-segment complete — export directly from them."""
        from ..lake.changes import envelope_rows

        spec = self.specs[fqtn]
        self.changes_tables[fqtn].write_segments(
            envelope_rows(
                self._of_table(fqtn, log),
                tombstones_on_delete=self.tombstones_on_delete,
                keyspace=spec.keyspace,
                table=spec.table,
            ),
            segment_ids,
        )

    # -- one batch --------------------------------------------------------------
    def run_batch(self, segment_ids: list[int]) -> dict:
        log = self._read_log(segment_ids)
        batch = Batch(self, log, segment_ids)
        results = {}
        for fqtn in self.specs:
            done = self._done.setdefault(fqtn, set())
            pending = [s for s in segment_ids if s not in done]
            if not pending:
                continue
            stats = batch.stats(fqtn, pending)
            if stats["n"]:
                sub = log.where(F.col("segment_id").isin(*[int(s) for s in pending]))
                results[fqtn] = self._apply(fqtn, sub, stats)
                if self.export_changes:
                    self._export(fqtn, sub, pending)
            else:
                results[fqtn] = {"n_events": 0}
            # this table's bookkeeping lands right after its apply commits —
            # the per-table crash contract of the module docstring
            batch.commit("done", fqtn, pending)
        # every per-table apply committed: the batch's writetimes may now
        # advance the GC horizon
        return {**batch.close(), "tables": results}

    # -- tombstone GC (gc_grace, swept across every table) -------------------
    def gc(self) -> dict:
        """Purge each table's stored tombstones below (max applied writetime
        - gc_grace_us); one ``_gc`` audit row per table per invocation. Same
        safety argument as CdcRunner.gc()."""
        horizon, res = gc_sweep(self, gc_tombstones)
        if horizon is None:
            return {"n_purged": 0, "tables": {}}
        return {
            "n_purged": sum(r["n_purged"] for r in res.values()),
            "horizon_wt": horizon,
            "tables": {fqtn: r["n_purged"] for fqtn, r in res.items()},
        }

    # -- the loop -----------------------------------------------------------
    def run(self, max_batches: int | None = None) -> list[dict]:
        """Drain pending segments through the ingest core's loop (see
        CdcRunner.run; failures propagate)."""
        return drain(self, max_batches)

    # -- user-facing reads ----------------------------------------------------
    def read_assembly(self, fqtn: str) -> DataFrame:
        """The maintained per-conversation view of one table."""
        if fqtn not in self.targets or self.targets[fqtn].assembly is None:
            raise ValueError(f"no maintained assembly for {fqtn!r}")
        return self.targets[fqtn].assembly.read().select(
            "conv_id", "n_turns", "last_turn", "total_chars", "transcript"
        )

    def read_table(self, fqtn: str) -> DataFrame:
        """Payload view of one table with its LOGICAL key column names."""
        spec = self.specs[fqtn]
        return spec.denormalize(self.targets[fqtn].read_transcripts())

    # -- snapshot selection (S7, the real anti-join) ---------------------------
    def tables_to_snapshot(self) -> list[str]:
        """cdc-enabled tables MINUS already-snapshotted — as a DataFrame
        anti-join against the snapshot completion markers in _offsets
        (reference getTablesToSnapshot:154-161)."""
        enabled = self.spark.createDataFrame(
            [(f,) for f in self.specs], "fqtn string"
        )
        if self.offsets.is_empty():
            return sorted(r["fqtn"] for r in enabled.collect())
        snapped = self.offsets.read().where(F.col("log_partition") == -1).select("fqtn")
        remaining = enabled.join(snapped, "fqtn", "left_anti")
        return sorted(r["fqtn"] for r in remaining.collect())

    def snapshot(self, sources: dict[str, DataFrame], snapshot_writetime: int) -> dict:
        """Bootstrap-snapshot every not-yet-snapshotted table (S6+S7).

        ``sources``: fqtn -> source DataFrame with the table's LOGICAL column
        names. Completion markers are all-or-nothing per table (sentinel
        log_partition=-1 rows, reference OffsetPosition.java:20-21,43-45)."""
        from ..sources.snapshot import snapshot_to_mutations

        out = {}
        now_ms = int(time.time() * 1000)
        todo = [f for f in self.tables_to_snapshot() if f in sources]
        # gauge lifecycle mirrors SnapshotProcessor.java:129-141 (+ per-table
        # rowsScanned :268-277)
        self.metrics_snapshot.set_table_count(len(todo))
        if todo:
            self.metrics_snapshot.start_snapshot()
        try:
            for fqtn in todo:
                src = self.specs[fqtn].normalize(sources[fqtn])
                mutations = snapshot_to_mutations(src, snapshot_writetime)
                out[fqtn] = apply_batch(self.targets[fqtn], mutations)
                self.metrics_snapshot.set_rows_scanned(
                    fqtn, out[fqtn].get("n_events", 0)
                )
                self.metrics_snapshot.complete_table()
                self.offsets.append_small(
                    [
                        {
                            "fqtn": fqtn,
                            "log_partition": -1,
                            "segment_id": -1,
                            "position": -1,
                            "updated_at": now_ms,
                        }
                    ]
                )
                self._watermarks[(fqtn, -1)] = (-1, -1)
        except Exception:
            self.metrics_snapshot.abort_snapshot()
            raise
        if todo:
            self.metrics_snapshot.stop_snapshot()
        return out


class MultiTableStream(StreamDriver):
    """Structured-Streaming front-end over a MULTI-TABLE commit log — the
    reference's primary operating shape (streaming AND multi-table at once:
    one CommitLogProcessor thread feeding per-table decode via SchemaHolder,
    MultipleTablesProcessingTest.java:27-106). The multi-table twin of
    stream.CdcStream: readStream over the shared log directory, and inside
    each foreachBatch a per-table filter + decode + apply, committed with
    PER-TABLE offsets and ``streamed`` lineage. Same ordering contract as
    CdcStream (no watermark pre-filter; see its module docstring) and the
    same ``streamed`` status effects (see the ingest core's status table).

    Table lifecycle DDL (table_changes) needs the discovered segment range
    and export_changes rewrites whole segments; a micro-batch has neither,
    so both options are refused here.
    """

    def __init__(self, runner: MultiTableRunner, max_files_per_trigger: int | None = None):
        if runner.table_changes or runner.export_changes:
            raise ValueError(
                "table_changes (create/drop DDL ledger) and export_changes "
                "require the batch front-end — a streaming micro-batch sees "
                "neither the discovered segment range nor whole segments; "
                "use MultiTableRunner.run()"
            )
        self.runner = runner
        self.max_files_per_trigger = max_files_per_trigger

    def _source(self) -> DataFrame:
        from ..model import MT_BATCH_LOG_SCHEMA

        return self._read_stream(
            MT_BATCH_LOG_SCHEMA if self.runner.batch_mutations else MULTI_TABLE_LOG_SCHEMA
        )

    def _handle_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        r = self.runner
        if r.batch_mutations:
            # same explode-before-everything the batch front-end does
            from ..functions.decode import explode_mt_batch_mutations

            batch_df = explode_mt_batch_mutations(batch_df)
        batch = Batch(r, batch_df)
        for fqtn in r.specs:
            stats = batch.stats(fqtn)
            if stats["n"]:
                r._apply(fqtn, batch_df, stats)
        if batch.rows:
            batch.commit("streamed")
