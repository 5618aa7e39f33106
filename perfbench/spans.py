"""Per-layer tracing for the traced run (``--trace 1``).

Spans are recorded from the benchmark process, around calls into each
module's public functions; the engine is not changed. A span holds its name,
start, end, parent span and the batch it belongs to, and is kept in memory
until the run ends.

Side measurements (noop-sink executions of a batch's scan, decode and reduce,
and of the copy-on-write input) run only here, each after the real work it
mirrors, so the batch runs as unwarmed as in an untraced run and the side
times are warm lower bounds. Their time is subtracted from every span open
while they ran, so spans report the engine's own work; their Spark jobs run
in a job group of their own, so job, task and event-log counts see only the
batch.

Self time of a span = its duration minus the durations of its child spans
(calls are sequential on one thread, so children never overlap).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

from pyspark.sql import Observation, functions as F

import debezium_connector_cassandra_spark.plans.apply as plans_apply
import debezium_connector_cassandra_spark.operators.transcript as op_transcript
import debezium_connector_cassandra_spark.streaming.multi_table as st_multi
import debezium_connector_cassandra_spark.streaming.runner as st_runner
from debezium_connector_cassandra_spark.functions.binary_codec import decode_payload_binary
from debezium_connector_cassandra_spark.lake.table import LakeTable
from debezium_connector_cassandra_spark.operators.lww import reduce_events
from debezium_connector_cassandra_spark.sources.generator import read_mutation_log

from procstat import cpu_snapshot

PER_LAYER = [
    ("sources.scan_s_per_kevent", "s/kevent"),
    ("functions.decode_s_per_kevent", "s/kevent"),
    ("functions.pyworker_cpu_frac", "fraction"),
    ("operators.reduce_s_per_kevent", "s/kevent"),
    ("operators.reduce_out_per_event", "ratio"),
    ("operators.refresh_assembly_s", "s"),
    ("plans.apply_batch_s", "s"),
    ("plans.apply_batch.self_s", "s"),
    ("plans.gc_tombstones_s", "s"),
    ("lake.overwrite_buckets_s", "s"),
    ("lake.cow_write_s", "s"),
    ("lake.buckets_rewritten_frac", "fraction"),
    ("lake.state_read_bytes_per_event", "B/event"),
    ("lake.append_small_s", "s"),
    ("lake.commits_per_batch", "count"),
    ("lake.files_written_per_batch", "count"),
    ("streaming.run_batch.self_s", "s"),
    ("streaming.jobs_per_batch", "count"),
    ("streaming.tasks_per_batch", "count"),
    ("streaming.driver_cpu_s_per_batch", "s"),
    ("session.jvm_gc_s_per_batch", "s"),
    ("session.peak_rss_mb", "MiB"),
    ("session.input_records_per_event", "ratio"),
    ("session.shuffle_write_bytes_per_event", "B/event"),
    ("session.spill_bytes_per_batch", "B"),
    ("trace.batch_wall_p50_s", "s"),
    ("trace.bookkeeping_s_per_batch", "s"),
]


def _noop(df) -> int:
    """Execute ``df`` into the noop sink; returns its row count."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
    return int(obs.get["n"])


def _lake_files(root: str) -> tuple[set[str], set[str]]:
    """(manifest files, data files) under a target directory."""
    manifests, data = set(), set()
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            if f.endswith(".json") and os.path.basename(d) == "_manifests":
                manifests.add(p)
            elif f.endswith(".parquet"):
                data.add(p)
    return manifests, data


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.sides: list[dict] = []
        self.batches: list[dict] = []
        self._stack: list[dict] = []
        self._batch: int | None = None
        self._gc_beans = (
            self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )

    # -- meters ---------------------------------------------------------------
    def _gc_s(self) -> float:
        return sum(max(int(b.getCollectionTime()), 0) for b in self._gc_beans) / 1000.0

    def _snap(self) -> dict:
        t = os.times()
        return {
            "wall": time.perf_counter(),
            "driver_cpu_s": t.user + t.system,
            "gc_s": self._gc_s(),
            **cpu_snapshot(),
        }

    @staticmethod
    def _delta(a: dict, b: dict) -> dict:
        return {k: b[k] - a[k] for k in a}

    # -- spans ----------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = {
            "id": len(self.spans) + len(self._stack),
            "name": name,
            "batch": self._batch,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
            "paused": 0.0,
            **attrs,
        }
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)

    def side(self, name: str, fn):
        """Run side work outside the batch's accounting; returns fn()."""
        t0 = time.perf_counter()
        a = self._snap()
        self.sc.setJobGroup(f"side-b{self._batch}", name)
        try:
            out = fn()
        finally:
            self.sc.setJobGroup(f"b{self._batch}", "batch")
        d = self._delta(a, self._snap())
        paused = time.perf_counter() - t0  # the meter readings included
        for s in self._stack:
            s["paused"] += paused
        for k, v in d.items():  # side work runs only inside a traced batch
            self.batches[-1]["side"][k] += v
        self.sides.append({"name": name, "batch": self._batch, "wall": d["wall"]})
        return out

    # -- wrappers ----------------------------------------------------------------
    @contextlib.contextmanager
    def installed(self, runner):
        """Patch the public entry points (and the bindings other modules
        re-imported) for the lifetime of the block."""
        tracer = self
        patches = []

        def patch(owner, attr, wrapper_factory):
            orig = getattr(owner, attr)
            patches.append((owner, attr, orig))
            setattr(owner, attr, wrapper_factory(orig))

        def spanned(name, extra=None):
            def factory(orig):
                def wrapper(*a, **kw):
                    with tracer.span(name) as s:
                        out = orig(*a, **kw)
                        if extra is not None:
                            extra(s, a, out)
                        return out

                return wrapper

            return factory

        def apply_extra(s, a, out):
            target = a[0]
            s["buckets_rewritten_frac"] = out["n_buckets_rewritten"] / target.state.manifest()["n_buckets"]

        def overwrite_factory(orig):
            def wrapper(table, df, bucket_ids):
                with tracer.span("lake.overwrite_buckets") as s:
                    if table.path.endswith("/state"):
                        m = table.manifest()
                        s["state_read_bytes"] = sum(
                            os.path.getsize(os.path.join(table.path, f))
                            for b in bucket_ids
                            for f in m["buckets"].get(str(b), [])
                        )
                    version = orig(table, df, bucket_ids)
                    # after the commit, so the real write runs unwarmed; df
                    # still reads the replaced files (copy-on-write keeps them)
                    t0 = time.perf_counter()
                    tracer.side("lake.cow_input_noop", lambda: _noop(df))
                    s["input_noop_s"] = time.perf_counter() - t0
                    return version

            return wrapper

        for mod in (plans_apply, st_runner, st_multi):
            patch(mod, "apply_batch", spanned("plans.apply_batch", apply_extra))
            patch(mod, "gc_tombstones", spanned("plans.gc_tombstones"))
        patch(op_transcript, "refresh_assembly", spanned("operators.refresh_assembly"))
        patch(LakeTable, "overwrite_buckets", overwrite_factory)
        patch(LakeTable, "overwrite_all", spanned("lake.overwrite_all"))
        patch(LakeTable, "append_small", spanned("lake.append_small"))
        patch(runner, "run_batch", lambda orig: self._batch_wrapper(runner, orig))
        try:
            yield self
        finally:
            for owner, attr, orig in reversed(patches):
                setattr(owner, attr, orig)
            self.sc.setJobGroup("after-trace", "untraced")

    def _batch_wrapper(self, runner, orig):
        def run_batch(segment_ids, *a, **kw):
            t_book = time.perf_counter()
            self._batch = len(self.batches)
            rec = {
                "batch": self._batch,
                "segments": list(segment_ids),
                "side": {k: 0.0 for k in ("wall", "driver_cpu_s", "gc_s", "tree_cpu_s", "pyworker_cpu_s")},
            }
            self.batches.append(rec)
            self.sc.setJobGroup(f"b{self._batch}", "batch")
            files0 = _lake_files(runner.target_path)
            before = self._snap()
            book = time.perf_counter() - t_book
            with self.span("streaming.run_batch") as s:
                out = orig(segment_ids, *a, **kw)
            t_book = time.perf_counter()
            after = self._snap()
            files1 = _lake_files(runner.target_path)
            rec["own"] = {k: v - rec["side"][k] for k, v in self._delta(before, after).items()}
            rec["wall_s"] = s["end"] - s["start"] - s["paused"]
            rec["n_events"] = out["n_events"]
            rec["commits"] = len(files1[0] - files0[0])
            rec["files_written"] = len(files1[1] - files0[1])
            rec["jobs"], rec["tasks"] = self._jobs_and_tasks(f"b{self._batch}")
            rec["bookkeeping_s"] = book + time.perf_counter() - t_book
            # after the batch, so the batch itself runs unwarmed by them
            self._side_layers(runner, segment_ids, rec)
            # what runs between batches (the runner's GC sweep) belongs to no
            # batch: its spans get batch None and its jobs another group
            self.sc.setJobGroup(f"between-b{self._batch}", "between batches")
            self._batch = None
            return out

        return run_batch

    def _side_layers(self, runner, segment_ids, rec) -> None:
        """Scan, decode and reduce of the batch's slice, each into a noop
        sink; a layer's time is its sink time minus the one beneath it."""
        segs = [int(x) for x in segment_ids]

        def scan():
            return read_mutation_log(self.spark, runner.log_path, schema=runner.log_schema).where(
                F.col("segment_id").isin(*segs)
            )

        t0 = time.perf_counter()
        rec["n_in"] = self.side("sources.scan_noop", lambda: _noop(scan()))
        rec["scan_s"] = time.perf_counter() - t0
        decoded = scan
        rec["decode_s"] = 0.0
        if runner.decode_binary:
            def decoded():
                return decode_payload_binary(scan())

            t0 = time.perf_counter()
            self.side("functions.decode_noop", lambda: _noop(decoded()))
            rec["decode_s"] = time.perf_counter() - t0 - rec["scan_s"]
        t0 = time.perf_counter()
        rec["reduce_rows_out"] = self.side("operators.reduce_noop", lambda: _noop(reduce_events(decoded())))
        rec["reduce_s"] = time.perf_counter() - t0 - rec["scan_s"] - rec["decode_s"]

    def _jobs_and_tasks(self, group: str) -> tuple[int, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for st in stages:
            info = tracker.getStageInfo(st)
            if info is not None:
                tasks += info.numCompletedTasks
        return len(jobs), tasks

    # -- results --------------------------------------------------------------
    def _children_s(self, span: dict) -> float:
        return sum(_eff(c) for c in self.spans if c["parent"] == span["id"])

    def metrics(self, event_log_dir: str | None) -> dict:
        done = [b for b in self.batches if "own" in b]
        if not done:
            raise RuntimeError("no traced batch completed inside the window")
        ev = sum(b["n_events"] for b in done)
        per_batch = {b["batch"]: {} for b in done}
        for s in self.spans:
            if s["batch"] in per_batch:
                acc = per_batch[s["batch"]]
                acc[s["name"]] = acc.get(s["name"], 0.0) + _eff(s)
                if s["name"] in ("plans.apply_batch", "streaming.run_batch"):
                    key = s["name"] + ".self"
                    acc[key] = acc.get(key, 0.0) + _eff(s) - self._children_s(s)
                if s["name"] == "lake.overwrite_buckets":
                    acc["cow_write"] = acc.get("cow_write", 0.0) + _eff(s) - s["input_noop_s"]
                    acc["state_read_bytes"] = acc.get("state_read_bytes", 0) + s.get("state_read_bytes", 0)
                if s["name"] == "plans.apply_batch":
                    acc["buckets_rewritten_frac"] = s["buckets_rewritten_frac"]

        def med(key):
            return statistics.median(per_batch[b["batch"]].get(key, 0.0) for b in done)

        gc_spans = [_eff(s) for s in self.spans if s["name"] == "plans.gc_tombstones"]
        tree = sum(b["own"]["tree_cpu_s"] for b in done)
        m = {
            "sources.scan_s_per_kevent": 1000 * sum(b["scan_s"] for b in done) / ev,
            "functions.decode_s_per_kevent": 1000 * sum(b["decode_s"] for b in done) / ev,
            "functions.pyworker_cpu_frac": sum(b["own"]["pyworker_cpu_s"] for b in done) / tree if tree > 0 else 0.0,
            "operators.reduce_s_per_kevent": 1000 * sum(b["reduce_s"] for b in done) / ev,
            "operators.reduce_out_per_event": sum(b["reduce_rows_out"] for b in done) / sum(b["n_in"] for b in done),
            "operators.refresh_assembly_s": med("operators.refresh_assembly"),
            "plans.apply_batch_s": med("plans.apply_batch"),
            "plans.apply_batch.self_s": med("plans.apply_batch.self"),
            "plans.gc_tombstones_s": statistics.median(gc_spans) if gc_spans else 0.0,
            "lake.overwrite_buckets_s": med("lake.overwrite_buckets"),
            "lake.cow_write_s": med("cow_write"),
            "lake.buckets_rewritten_frac": med("buckets_rewritten_frac"),
            "lake.state_read_bytes_per_event": sum(per_batch[b["batch"]].get("state_read_bytes", 0) for b in done) / ev,
            "lake.append_small_s": med("lake.append_small"),
            "lake.commits_per_batch": statistics.median(b["commits"] for b in done),
            "lake.files_written_per_batch": statistics.median(b["files_written"] for b in done),
            "streaming.run_batch.self_s": med("streaming.run_batch.self"),
            "streaming.jobs_per_batch": statistics.median(b["jobs"] for b in done),
            "streaming.tasks_per_batch": statistics.median(b["tasks"] for b in done),
            "streaming.driver_cpu_s_per_batch": statistics.median(b["own"]["driver_cpu_s"] for b in done),
            "session.jvm_gc_s_per_batch": statistics.median(b["own"]["gc_s"] for b in done),
            "trace.batch_wall_p50_s": statistics.median(b["wall_s"] for b in done),
            "trace.bookkeeping_s_per_batch": statistics.median(b["bookkeeping_s"] for b in done),
        }
        m.update(_event_log_metrics(event_log_dir, done, ev))
        return m

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "sides": self.sides, "batches": self.batches}, f, indent=1)


def _eff(span: dict) -> float:
    """Span duration without the side work that ran inside it."""
    return span["end"] - span["start"] - span["paused"]


def _event_log_metrics(event_log_dir: str | None, done: list[dict], ev: int) -> dict:
    """Task-end metrics of the uncompressed event log, joined to the batch
    job groups through the jobs' stage ids."""
    groups = {f"b{b['batch']}" for b in done}
    stage_group: dict[int, str] = {}
    records = shuffle = spill = 0
    files = [p for p in glob.glob(os.path.join(event_log_dir or "", "**", "*"), recursive=True) if os.path.isfile(p)]
    if not files:
        raise RuntimeError(f"no event log under {event_log_dir}")
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    for st in e.get("Stage IDs", []):
                        stage_group.setdefault(st, g)
                elif kind == "SparkListenerTaskEnd":
                    if stage_group.get(e.get("Stage ID")) not in groups:
                        continue
                    tm = e.get("Task Metrics") or {}
                    records += (tm.get("Input Metrics") or {}).get("Records Read", 0)
                    shuffle += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    spill += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    return {
        "session.input_records_per_event": records / ev,
        "session.shuffle_write_bytes_per_event": shuffle / ev,
        "session.spill_bytes_per_batch": spill / len(done),
    }
