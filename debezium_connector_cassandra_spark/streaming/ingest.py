"""The ingest core shared by the four CDC front-ends.

``CdcRunner``, ``CdcStream``, ``MultiTableRunner`` and ``MultiTableStream``
each own a source. Each runner owns one slice step (``_apply``: decode,
checks, ``apply_batch``), which its pull and push front-ends both call. The
batch lifecycle around that step lives here, once: ``Batch`` runs the one
narrow pre-scan (``plans.apply.prescan``) and ``Batch.commit`` writes
offsets, lineage and one ``_metrics`` row; ``drain`` is the pull loop with
its GC cadence and ``StreamDriver`` the push driver.

Exactly-once: the state commit inside ``apply_batch`` lands BEFORE the
offsets and lineage; a crash between the two replays the batch, which is a
no-op because the merge is idempotent (strict writetime comparisons). This
is the reference's at-least-once + offset skip-check contract
(FileOffsetWriter monotonic offsets + reprocess bypass, R5/R8), with the
*table state* exactly-once by construction.

Lineage status -> effect:

  status     written by                       segment done  watermarks  GC horizon
  ---------  -------------------------------  ------------  ----------  ----------
  done       a runner batch (whole segments)  yes           advance     advances
  open       CdcRunner position-limited tail  no (tail)     advance     advances
  reprocess  CdcRunner.reprocess (bypass)     yes           advance     advances
  streamed   either stream's micro-batch      no            advance     unchanged
  error      CdcRunner isolate (quarantine)   no            unchanged   GC skipped

``streamed`` marks nothing done and leaves the GC horizon
(``_max_writetime``) alone: a micro-batch sees an arbitrary subset of a
segment's files, so it cannot prove the segment complete, and out-of-order
delivery means a purged delete could lose to a late file's upsert. The batch
front-ends treat ``streamed`` segments as pending and re-apply them in full
(bounded and idempotent).

The table grain follows from the caller: a single-table log pre-scans to
fqtn "" and lands in the single-table bookkeeping schemas (watermarks keyed
by log partition, ``_done`` a segment set); a multi-table log pre-scans per
fqtn and lands per table (keys ``(fqtn, log_partition)``, ``_done`` per
fqtn).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, functions as F

from ..lake.table import LakeTable
from ..model import GC_SCHEMA, METRICS_SCHEMA
from ..plans.apply import batch_stats, prescan

COMPLETES = ("done", "reprocess")
ADVANCES_GC = ("done", "open", "reprocess")


def prune_offsets(df):
    """Offsets compaction transform: keep only the max (segment_id,
    position) row per (table,) log_partition — the reference's offset file
    likewise holds only current values (FileOffsetWriter.java:96-119).
    Snapshot sentinel rows are their own group's max."""
    keys = ["fqtn", "log_partition"] if "fqtn" in df.columns else ["log_partition"]
    df = df.sort_values([*keys, "segment_id", "position", "updated_at"])
    return df.groupby(keys, as_index=False).tail(1).reset_index(drop=True)


def open_bookkeeping(
    runner, root: str, offsets_schema, lineage_schema, gc_grace_us, gc_every_batches
) -> dict:
    """Open (or create) a pull front-end's single-bucket bookkeeping tables
    under ``root`` — ``offsets``, ``lineage``, ``metrics`` and, with tombstone
    GC enabled, ``gc_log`` — set its GC cadence and recover its offset
    watermarks (``_watermarks``). Returns the recovered lineage: the set of
    statuses recorded per (table,) segment. Recovery runs once per runner
    lifetime; ``Batch.commit`` maintains the state in memory afterwards.

    Tombstone GC (Cassandra gc_grace analog): with ``gc_grace_us`` set,
    stored tombstones below (max applied writetime - gc_grace_us) are purged
    every ``gc_every_batches`` batches. Size the grace from the producer's
    bounded writetime-inversion window (for the bundled generator:
    sources.generator.writetime_inversion_window_us): purging inside that
    window could let a late out-of-order upsert beat a purged delete."""
    if gc_grace_us is not None and gc_grace_us < 0:
        raise ValueError("gc_grace_us must be >= 0")
    runner.gc_grace_us = gc_grace_us
    runner.gc_every_batches = max(int(gc_every_batches), 1)
    runner._max_writetime = None

    def table(name, schema):
        return LakeTable.open_or_create(runner.spark, f"{root}/{name}", schema, schema.fields[0].name, 1)

    def recover(t, key, agg):
        if t.is_empty():
            return {}
        keys = [c for c in ("fqtn", key) if c in t.schema().fieldNames()]
        rows = t.read().groupBy(*keys).agg(agg.alias("v")).collect()
        return {(r[0] if len(keys) == 1 else (r[0], r[1])): r["v"] for r in rows}

    runner.offsets = table("_offsets", offsets_schema)
    runner.offsets.compaction_transform = prune_offsets
    runner.lineage = table("_lineage", lineage_schema)
    runner.metrics = table("_metrics", METRICS_SCHEMA)
    runner.gc_log = table("_gc", GC_SCHEMA) if gc_grace_us is not None else None
    marks = recover(runner.offsets, "log_partition", F.max(F.struct("segment_id", "position")))
    runner._watermarks = {k: tuple(w) for k, w in marks.items()}
    return {k: set(v) for k, v in recover(runner.lineage, "segment_id", F.collect_set("status")).items()}


class Batch:
    """One batch of one front-end, from its pre-scan to its ``_metrics`` row.

    ``runner`` owns the targets (``runner.targets``: fqtn -> CdcTarget) and
    the bookkeeping (``offsets``, ``lineage``, ``metrics``, ``_watermarks``,
    ``_done``, ``_max_writetime``); the streams pass their runner."""

    def __init__(self, runner, log: DataFrame, segment_ids=None):
        self.runner = runner
        self.t0 = time.time()
        self.rows = prescan(log, runner.targets)
        self.segment_ids = list(segment_ids or sorted({r["segment_id"] for r in self.rows}))
        self.statuses: set[str] = set()
        self.n_applied = 0

    def rows_of(self, fqtn: str = "", segments=None) -> list[dict]:
        return [
            r for r in self.rows
            if r["fqtn"] == fqtn and (segments is None or r["segment_id"] in segments)
        ]

    def stats(self, fqtn: str = "", segments=None) -> dict:
        """``apply_batch`` stats for one table's slice of the batch."""
        return batch_stats(self.rows_of(fqtn, segments))

    @property
    def n_skipped(self) -> int:
        return sum(r["n_unsup"] for r in self.rows)

    def commit(
        self, status: str, fqtn: str | None = None, segments=None, open_segment=None
    ) -> dict | None:
        """Append offsets and lineage with lineage ``status`` and update the
        in-memory state as the module's status table says.

        ``fqtn=None`` commits every table of the batch, then returns
        ``close()``. A named ``fqtn`` commits that table alone and leaves
        ``close()`` to the caller (the multi-table runner's per-table
        commits). Each of ``segments`` — the segments consumed whole — gets
        a lineage row even with zero events, or an empty segment directory
        would stay pending forever. Rows of ``open_segment``, the
        position-limited tail, are recorded ``open``."""
        r = self.runner
        if fqtn is None:
            tables = [""] if "" in r.targets else {row["fqtn"] for row in self.rows} & set(r.targets)
            for t in sorted(tables):
                self.commit(status, t, segments, open_segment)
            return self.close()
        rows = self.rows_of(fqtn, segments)
        tag = {"fqtn": fqtn} if fqtn else {}
        now_ms = int(time.time() * 1000)
        best: dict[int, tuple[int, int]] = {}
        for row in rows:
            lp, mark = row["log_partition"], (row["segment_id"], row["max_pos"])
            best[lp] = max(best.get(lp, mark), mark)
        r.offsets.append_small(
            [
                {**tag, "log_partition": lp, "segment_id": seg, "position": pos, "updated_at": now_ms}
                for lp, (seg, pos) in sorted(best.items())
            ]
        )
        for lp, mark in best.items():
            key = (fqtn, lp) if fqtn else lp
            r._watermarks[key] = max(r._watermarks.get(key, (-2, -2)), mark)
        whole = [int(s) for s in segments or () if s != open_segment]
        seen = {row["segment_id"] for row in rows}
        r.lineage.append_small(
            [
                {
                    **tag,
                    "segment_id": row["segment_id"],
                    "log_partition": row["log_partition"],
                    "status": "open" if row["segment_id"] == open_segment else status,
                    "n_events": row["n"],
                }
                for row in rows
            ]
            + [
                {**tag, "segment_id": s, "log_partition": -1, "status": status, "n_events": 0}
                for s in whole
                if s not in seen
            ]
        )
        self.statuses.add(status)
        self.n_applied += sum(row["n"] - row["n_unsup"] for row in rows)
        if status in COMPLETES:
            if fqtn:
                r._done.setdefault(fqtn, set()).update(whole)
            else:
                r._done.update(whole)
                r._open.difference_update(whole)
                r._errored.difference_update(whole)
        if any(row["segment_id"] == open_segment for row in rows):
            r._open.add(open_segment)
        return None

    def close(self) -> dict:
        """Append the batch's ``_metrics`` row and, when a committed status
        allows it, fold the batch's max writetime into the GC horizon —
        only now, after every apply of the batch committed, so a failed
        apply never leaves the horizon ahead of its unapplied events."""
        r = self.runner
        wts = [row["max_wt"] for row in self.rows if row["max_wt"] is not None]
        if self.statuses & set(ADVANCES_GC) and wts:
            r._max_writetime = max(wts) if r._max_writetime is None else max(r._max_writetime, *wts)
        out = {
            "batch_id": int(self.t0 * 1000),
            "segments": self.segment_ids,
            "n_decoded": sum(row["n"] for row in self.rows),
            "wall_ms": int((time.time() - self.t0) * 1000),
        }
        r.metrics.append_small(
            [
                {
                    "batch_id": out["batch_id"],
                    "segment_lo": min(self.segment_ids),
                    "segment_hi": max(self.segment_ids),
                    "n_decoded": out["n_decoded"],
                    "n_deduped": self.n_applied,
                    "n_applied": self.n_applied,
                    "n_skipped": self.n_skipped,
                    "wall_ms": out["wall_ms"],
                }
            ]
        )
        return out


# -- the pull loop and tombstone GC -------------------------------------------
def drain(runner, max_batches: int | None = None, on_error: str = "raise") -> list[dict]:
    """Drain ``runner.pending_segments()`` in segment order,
    ``segments_per_batch`` at a time, through ``runner.run_batch``
    (Trigger.AvailableNow-style). With ``gc_grace_us`` set, ``runner.gc()``
    runs every ``gc_every_batches`` batches, so the tombstone store stays
    bounded over an arbitrarily long run.

    ``on_error``: 'raise' propagates the first failure; 'isolate' is the
    reference's error-folder flow (CommitLogProcessor's per-commit-log error
    handling): a failing batch is retried segment by segment to pin the
    fault, and ``runner._mark_error`` quarantines the failing segment(s) so
    the drain continues. Safe because batches are independent up to the
    idempotent merge: skipping a segment only defers its events."""
    if on_error not in ("raise", "isolate"):
        raise ValueError(f"unknown on_error mode {on_error!r}")
    results = []
    n = 0
    while True:
        pending = runner.pending_segments()
        if not pending or (max_batches is not None and n >= max_batches):
            break
        batch = pending[: runner.segments_per_batch]
        try:
            results.append(runner.run_batch(batch))
        except Exception:
            if on_error == "raise":
                raise
            # one segment at a time; single-segment failures are the faulty ones
            for seg in batch:
                try:
                    results.append(runner.run_batch([seg]))
                except Exception:
                    runner._mark_error(seg)
        n += 1
        if runner.gc_grace_us is not None and n % runner.gc_every_batches == 0:
            runner.gc()
    return results


def gc_sweep(runner, purge) -> tuple[int | None, dict]:
    """Purge every target's stored tombstones below the GC horizon — the max
    APPLIED writetime minus ``gc_grace_us`` — with ``purge`` (the caller's
    ``gc_tombstones`` binding); one ``_gc`` audit row per table. By the
    producer's bounded-inversion contract every not-yet-applied event's
    writetime lands above the horizon, so a purged tombstone can never be
    out-raced. Returns ``(horizon, {fqtn: purge result})``; the horizon is
    None (and nothing is purged) before any batch advanced it."""
    if runner.gc_grace_us is None:
        raise ValueError("tombstone GC is disabled; pass gc_grace_us to enable")
    if runner._max_writetime is None:
        return None, {}
    horizon = int(runner._max_writetime) - int(runner.gc_grace_us)
    results = {fqtn: purge(t, horizon) for fqtn, t in runner.targets.items()}
    batch_id = int(time.time() * 1000)
    runner.gc_log.append_small(
        [
            {
                "batch_id": batch_id,
                "fqtn": fqtn,
                "horizon_wt": horizon,
                "n_purged": res["n_purged"],
                "n_kept": res["n_kept"],
            }
            for fqtn, res in results.items()
        ]
    )
    return horizon, results


# -- the push driver ------------------------------------------------------------
class StreamDriver:
    """``start`` / ``run_available`` for the Structured Streaming
    front-ends; subclasses set ``runner`` and ``max_files_per_trigger`` and
    supply ``_source()`` and ``_handle_batch(df, batch_id)``."""

    def _read_stream(self, schema) -> DataFrame:
        """readStream over the runner's log directory: the file source picks
        up new files under ``segment_id=N/`` partitions as they appear."""
        reader = self.runner.spark.readStream.schema(schema)
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        return reader.parquet(self.runner.log_path)

    def start(self, checkpoint_dir: str, available_now: bool = True):
        writer = (
            self._source()
            .writeStream.foreachBatch(self._handle_batch)
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_available(self, checkpoint_dir: str, timeout_sec: float = 600) -> None:
        """Drain every currently available file and stop
        (``Trigger.AvailableNow``, the streaming twin of a runner's
        ``run()``). A drain still running after ``timeout_sec`` is stopped
        and raises ``TimeoutError``: the log is then only partly applied,
        and a later run on the same checkpoint resumes it."""
        q = self.start(checkpoint_dir, available_now=True)
        if not q.awaitTermination(timeout_sec):
            q.stop()
            raise TimeoutError(
                f"stream drain with checkpoint {checkpoint_dir} did not finish "
                f"within {timeout_sec}s; it was stopped part-way"
            )
