"""Structured Streaming front-end: readStream over the commit-log directory,
foreachBatch into the same apply path as the batch runner.

This is the push-style dual of CdcRunner's pull loop — the closest Spark
analog of the reference's directory watcher (S1: blocks on ENTRY_CREATE,
AbstractDirectoryWatcher.java:24): Spark's file-stream source tracks newly
appearing files under ``segment_id=N/`` partitions, and each micro-batch
flows through the ingest core (streaming/ingest.py) and ``apply_batch``
(idempotent, so Spark's at-least-once foreachBatch contract still yields
exactly-once table state).

Ordering caveat (why there is NO offset pre-filter here): the file source
does not deliver files in (segment, position) order — with
``maxFilesPerTrigger`` a backfill can surface segment 10 before segment 2.
Filtering a micro-batch against a high-watermark would silently DROP rows
of late-delivered files (Spark's checkpoint marks them consumed; they are
never re-read) — permanent loss. Re-applying rows, by contrast, is free
(idempotent merge). So every delivered row is applied and committed with
lineage status ``streamed`` (see the ingest core's status table).

Use ``Trigger.AvailableNow`` (``available_now=True``) to drain everything
present and stop — the streaming equivalent of ``CdcRunner.run()``; omit it
for a continuously tailing daemon like the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from ..functions.decode import split_unsupported
from ..lake.table import LakeTable
from ..model import MUTATION_LOG_SCHEMA
from ..plans.apply import apply_batch, batch_stats, prescan, state_buckets
from .ingest import Batch, StreamDriver
from .runner import CdcRunner

# Persistent range-marker context (the RangeTombstoneContext.java:20-40
# analog): every op='r' bound marker a micro-batch delivers lands here,
# pairing happens over the ACCUMULATED set — so a start/end pair straddling
# micro-batches (or delivered out of order across part files) still pairs.
RANGE_CTX_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("segment_id", T.LongType(), False),
        T.StructField("position", T.LongType(), False),
        T.StructField("log_partition", T.IntegerType(), False),
        T.StructField("writetime", T.LongType(), False),
        T.StructField("is_start", T.BooleanType(), False),
        T.StructField("method", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("schema_version", T.IntegerType(), False),
    ]
)


class CdcStream(StreamDriver):
    def __init__(
        self,
        runner: CdcRunner,
        max_files_per_trigger: int | None = None,
        settle_lag_segments: int | None = None,
    ):
        """``settle_lag_segments``: continuous-tailing marker watermark —
        when set (with unpaired_range_markers), every micro-batch finalizes
        context markers in segments <= (max segment seen - this lag), so a
        never-ending stream still applies range deletes without waiting for
        a drain. The caller asserts the source reorders file delivery by at
        most this many segments (the file-delivery analog of an event-time
        watermark bound); an availableNow drain still finalizes everything
        at the end regardless."""
        self.runner = runner
        self.max_files_per_trigger = max_files_per_trigger
        self.settle_lag_segments = settle_lag_segments
        self._max_segment_seen: int | None = None
        # D9 streaming form: markers are deferred into a durable context and
        # paired in finalize_ranges() — pairing inside a micro-batch would
        # mis-pair whenever the file source splits a conversation's markers
        # across batches in arbitrary order (see that method's docstring)
        self._range_ctx: LakeTable | None = None
        if settle_lag_segments is not None and not runner.unpaired_range_markers:
            raise ValueError("settle_lag_segments requires unpaired_range_markers=True")
        if runner.unpaired_range_markers:
            self._range_ctx = LakeTable.open_or_create(
                runner.spark, f"{runner.target_path}/_range_ctx", RANGE_CTX_SCHEMA, "conv_id", 1
            )

    def _source(self) -> DataFrame:
        # mirror the runner's log configuration: an explicitly configured
        # schema, or one inferred from the on-disk log (readStream requires
        # a schema up front), falling back to the canonical log shape
        schema = self.runner.log_schema
        if schema == "infer":
            schema = self.runner.spark.read.parquet(self.runner.log_path).schema
        elif schema is None:
            schema = MUTATION_LOG_SCHEMA
        df = self._read_stream(schema)
        if self.runner.batch_mutations:
            return df  # cells travel inside the changes array
        if "cells" not in df.columns and not self.runner.decode_binary:
            raise ValueError(
                "streaming source schema has no 'cells' column and decode_binary "
                "is off — a mis-schema'd read would materialize empty state"
            )
        return df

    def _handle_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # every delivered row is applied: no watermark pre-filter (see the
        # module docstring); a replayed micro-batch re-applies idempotently
        r = self.runner
        if r.batch_mutations:
            # logged batches explode before everything else, exactly like the
            # batch front-end (shared offset per batch — handleMutation:255-272)
            from ..functions.decode import explode_batch_mutations

            batch_df = explode_batch_mutations(batch_df)
        # the pre-scan runs over the RAW batch: skipped unsupported rows still
        # advance offsets, matching the batch front-end
        batch = Batch(r, batch_df)
        if not batch.rows:
            return
        stats = batch.stats()
        if "table_kind" in batch_df.columns:
            # D3 classify-and-skip, same as the batch front-end
            batch_df = split_unsupported(batch_df)[0].drop("table_kind")
        if self._range_ctx is not None:
            # defer every bound marker into the durable context (pairing is
            # NOT safe inside a micro-batch); the rest of the batch applies
            # now. Context lands BEFORE the apply — a crash-replayed batch
            # just appends duplicates, which finalize_ranges dedupes.
            markers = batch_df.where(F.col("op") == "r")
            self._range_ctx.append_small(
                markers.select(
                    "conv_id",
                    "segment_id",
                    "position",
                    "log_partition",
                    "writetime",
                    F.col("range_start").isNotNull().alias("is_start"),
                    F.coalesce(
                        F.col("range_start.method"), F.col("range_end.method")
                    ).alias("method"),
                    F.coalesce(
                        F.col("range_start.turn_idx"), F.col("range_end.turn_idx")
                    ).alias("turn_idx"),
                    "schema_version",
                ).toArrow()
            )
            batch_df = batch_df.where(F.col("op") != "r")
            stats = {**stats, "n": stats["n"] - stats["r"], "r": 0}
            seen = max(row["segment_id"] for row in batch.rows)
            if self._max_segment_seen is None or seen > self._max_segment_seen:
                self._max_segment_seen = seen
            if self.settle_lag_segments is not None:
                # continuous-mode watermark: markers whose segment can no
                # longer receive out-of-order siblings pair and apply now
                self.finalize_ranges(
                    settle_below=int(self._max_segment_seen) - int(self.settle_lag_segments)
                )
        apply_batch(r.target, r._decode(batch_df), stats=stats)
        # maintained view: refresh the touched buckets BEFORE offsets, same
        # crash-safety side as the state (idempotent recompute)
        r._refresh_assembly(state_buckets(stats))
        batch.commit("streamed")

    def finalize_ranges(self, settle_below: int | None = None) -> dict:
        """Pair the accumulated bound markers and apply the reconstructed
        range tombstones (the RangeTombstoneContext drain).

        Why pairing is deferred here instead of running per micro-batch: the
        reference pairs start/end markers as it reads a commit log IN ORDER
        (RangeTombstoneContext.java:20-40) — adjacency in arrival order IS
        adjacency in log order. Spark's file source delivers arbitrary part-
        file subsets per trigger, so a batch can see start S1 and end E2
        while E1/S2 are still undelivered; pairing those now would emit the
        WRONG range (S1,E2) — and an applied tombstone cannot be retracted.
        Pairing over the accumulated context in (segment, position) order is
        only safe once no marker can still arrive BETWEEN the members of a
        candidate pair:

        - after an ``availableNow`` drain the context is complete —
          ``settle_below=None`` pairs everything (run_available does this);
        - a continuously tailing job passes ``settle_below`` = the highest
          segment the source can still be delivering minus its reordering
          bound — the file-delivery analog of an event-time watermark;
          markers above it stay in the context for the next call.

        Unconsumed markers (dangling starts / orphan ends) stay in the
        context; on a final drain they are the reference's log-and-skip
        leftovers. Re-invocation is idempotent (re-applying a paired range
        is a no-op in the merge)."""
        if self._range_ctx is None:
            raise ValueError("finalize_ranges requires unpaired_range_markers=True")
        from pyspark.sql import Window as W

        # identity includes is_start: a start and an end marker sharing one
        # commit-log position for the same conversation are DIFFERENT
        # markers — deduping on position alone would drop one of the pair
        # nondeterministically and mis-pair every later marker of that conv
        ctx = self._range_ctx.read().dropDuplicates(
            ["conv_id", "segment_id", "position", "is_start"]
        )
        if settle_below is not None:
            later = ctx.where(F.col("segment_id") > settle_below)
            ctx = ctx.where(F.col("segment_id") <= settle_below)
        else:
            later = None
        # deterministic tie order at a shared position: the start marker
        # sorts before its end marker (desc on the boolean puts True first)
        w = W.partitionBy("conv_id").orderBy(
            "segment_id", "position", F.col("is_start").desc()
        )
        m = (
            ctx.withColumn("_prev_is_start", F.lag("is_start").over(w))
            .withColumn("_prev_method", F.lag("method").over(w))
            .withColumn("_prev_turn", F.lag("turn_idx").over(w))
            .withColumn("_next_is_start", F.lead("is_start").over(w))
        )
        is_paired_end = (~F.col("is_start")) & F.coalesce(
            F.col("_prev_is_start"), F.lit(False)
        )
        is_consumed_start = F.col("is_start") & ~F.coalesce(
            F.col("_next_is_start"), F.lit(True)
        )
        m = m.cache()
        try:
            schema = self.runner.log_schema
            if not (
                isinstance(schema, T.StructType) and "cells" in schema.fieldNames()
            ):
                schema = MUTATION_LOG_SCHEMA
            cells_t = schema["cells"].dataType
            # paired event keeps the END marker's (wt, segment, position)
            # identity — same contract as operators.tombstones.pair_range_markers
            paired = m.where(is_paired_end).select(
                "segment_id",
                "position",
                "log_partition",
                F.lit("r").alias("op"),
                "conv_id",
                F.lit(None).cast("int").alias("turn_idx"),
                "writetime",
                F.lit(None).cast(cells_t).alias("cells"),
                F.struct(
                    F.col("_prev_method").alias("method"),
                    F.col("_prev_turn").alias("turn_idx"),
                ).alias("range_start"),
                F.struct(
                    F.col("method").alias("method"),
                    F.col("turn_idx").alias("turn_idx"),
                ).alias("range_end"),
                "schema_version",
                F.lit(False).alias("snapshot"),
            )
            stats = batch_stats(prescan(paired, self.runner.targets))
            n_paired = stats["n"]
            if n_paired:
                apply_batch(self.runner.target, paired, stats=stats)
                # late range tombstones change state for their convs — the
                # maintained view must follow
                self.runner._refresh_assembly(state_buckets(stats))
            dangling = m.where(~(is_paired_end | is_consumed_start)).select(
                *[f.name for f in RANGE_CTX_SCHEMA.fields]
            )
            if later is not None:
                dangling = dangling.unionByName(later)
            self._range_ctx.overwrite_all(dangling)
            n_dangling = self._range_ctx.read().count()
        finally:
            m.unpersist()
        return {"n_paired": n_paired, "n_dangling": n_dangling}

    def run_available(self, checkpoint_dir: str, timeout_sec: float = 600) -> None:
        """Drain all currently-available segments and stop (the streaming
        twin of CdcRunner.run()). With unpaired_range_markers, the drained
        context is complete, so the deferred markers pair and apply here."""
        super().run_available(checkpoint_dir, timeout_sec)
        if self._range_ctx is not None:
            self.finalize_ranges()
