"""S1-S4 — segment discovery, offset-aware incremental scan planning.

Reference analogs:
- S1 directory watcher (AbstractDirectoryWatcher.java:24): we list the log
  directory's ``segment_id=N`` partitions — the driver-side equivalent of an
  ENTRY_CREATE event, pull- instead of push-based because micro-batches pull.
- S2/S3 ordered segment processing (CommitLogProcessor.java:104-119,
  CommitLogIdxProcessor.java:147): segments are planned in segment_id order;
  *within* a batch they parallelize freely because the LWW reduction is
  replay-order-insensitive (the key semantic transform, SURVEY §4).
- S4 incremental tail / idx watermark (CommitLogIdxParser.java:58-105): the
  offsets table stores (segment_id, position) per log partition;
  ``CdcRunner.run_batch`` reads only pending segments and filters an open
  segment's rows at or below its watermark, predicates pushed down to the
  Parquet scan — segment_id is the physical partition column, and a batch
  lists only its own ``segment_id=N`` directories
  (``generator.read_mutation_log(segments=...)``), so fully processed
  segments are never listed or opened, and a partially processed segment
  re-reads only rows past the checkpointed position.
"""

from __future__ import annotations

import os
import re

_SEGMENT_DIR_RE = re.compile(r"^segment_id=(\d+)$")


def discover_segments(log_path: str) -> list[int]:
    """List segment ids present in the log directory (S1 watcher analog)."""
    out = []
    for entry in os.listdir(log_path):
        m = _SEGMENT_DIR_RE.match(entry)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def on_disk_columns(spark, log_path: str) -> list[str] | None:
    """The column names of the mutation log on disk, or None when the log is
    not written yet. ONLY that case maps to None: a transient IO or
    permission error raises, so a schema probe cannot silently read as
    "no such column"."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(log_path).columns
    except AnalysisException as e:
        msg = str(e)
        if (
            "PATH_NOT_FOUND" in msg
            or "Path does not exist" in msg
            or "UNABLE_TO_INFER_SCHEMA" in msg
        ):
            return None
        raise


class CommitLogTransfer:
    """R7 post-processing plug-in surface — the reference's CommitLogTransfer
    (core/.../CommitLogTransfer.java; default impl moves processed segments
    to ``archive/``, error segments to ``error/``; BlackHoleCommitLogTransfer
    .java:15-31 deletes instead).

    Lake formulation: a processed segment directory is MOVED out of the
    active log root into ``_archive/`` (or ``_error/``), so discovery stops
    listing it — the exact contract of moving a commit log out of cdc_raw.
    ``onSuccess``/``onError`` mirror the reference interface; the black-hole
    variant passes ``delete=True``.
    """

    def __init__(self, log_path: str, delete: bool = False):
        self.log_path = log_path
        self.delete = delete

    def _move(self, segment_id: int, dest: str) -> None:
        import shutil

        src = os.path.join(self.log_path, f"segment_id={segment_id}")
        if not os.path.isdir(src):
            return
        if self.delete:
            shutil.rmtree(src)
            return
        dest_dir = os.path.join(self.log_path, dest)
        os.makedirs(dest_dir, exist_ok=True)
        shutil.move(src, os.path.join(dest_dir, f"segment_id={segment_id}"))

    def on_success(self, segment_id: int) -> None:
        self._move(segment_id, "_archive")

    def on_error(self, segment_id: int) -> None:
        self._move(segment_id, "_error")

    def restore(self, segment_id: int) -> bool:
        """Return an archived/error segment to the active log (the reference
        moves error files back to the CDC dir before reprocessing,
        CommitLogProcessor.java:113-117). Returns True if found."""
        import shutil

        for sub in ("_error", "_archive"):
            src = os.path.join(self.log_path, sub, f"segment_id={segment_id}")
            if os.path.isdir(src):
                shutil.move(src, os.path.join(self.log_path, f"segment_id={segment_id}"))
                return True
        return False

