#!/usr/bin/env python
"""Round-6 measurement harness (guide §1: measure first, noop sink, labels).

NOT the driver's bench — bench.py stays frozen. This file exists to
 * time individual headline queries in isolation (noop sink, warm cache,
   N trials, median/min) so optimizations are attributed per query;
 * count Spark jobs per query via the status tracker.

Usage:
  python bench_extra.py queries [name ...]   # per-query isolation
  python bench_extra.py pipeline             # end-to-end pipeline wall
  python bench_extra.py compile [seed]       # per-batch compile cost
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time


def _noop(df):
    df.write.mode("overwrite").format("noop").save()


HEADLINE = [
    "cdc_full_state",
    "cdc_lww_upserts",
    "cdc_range_tombstones",
    "cdc_decode_envelope",
    "cdc_dedup_events",
    "cdc_schema_evolution",
    "cdc_snapshot_union",
    "cdc_offsets_checkpoint",
    "cdc_batch_mutations",
    "cdc_types_scalar",
    "cdc_conv_sessions",
    "cdc_state_asof",
    "cdc_transcript_assembly",
]


def bench_queries(names: list[str], trials: int = 5) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from debezium_connector_cassandra_spark.session import get_spark

    import __spark_entry__ as em

    spark = get_spark(app_name="cdc-bench-extra")
    sc = spark.sparkContext
    qs = em.queries()
    # warm the derived-log cache outside the measured trials (same role as
    # bench.py's discarded trial 0)
    em._flat_log(spark, sf_dir).write.mode("overwrite").format("noop").save()
    out = {}
    for name in names:
        times = []
        jobs = []
        for t in range(trials):
            sc.setJobDescription(f"{name} trial {t}")
            j0 = len(sc.statusTracker().getJobIdsForGroup(None) or [])
            t0 = time.time()
            _noop(qs[name](spark, sf_dir))
            times.append(round(time.time() - t0, 3))
            j1 = len(sc.statusTracker().getJobIdsForGroup(None) or [])
            jobs.append(j1 - j0)
            sc.setJobDescription(None)
        out[name] = {
            "median": round(statistics.median(times), 3),
            "min": min(times),
            "trials": times,
            "jobs": jobs[-1],
        }
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"summary": {k: v["median"] for k, v in out.items()}}))


def bench_pipeline() -> None:
    from debezium_connector_cassandra_spark.session import get_spark

    import bench as b

    spark = get_spark(app_name="cdc-bench-extra-pipe")
    workdir = tempfile.mkdtemp(prefix="cdc_bx_")
    t0 = time.time()
    res = b.bench_pipeline(spark, 0.1, workdir)
    print(json.dumps({"pipeline": res, "wall": round(time.time() - t0, 2)}))


def _jvm_thread_cpu(pid: int) -> dict:
    """CPU seconds of one JVM by thread group, from /proc/<pid>/task/*/stat.
    ``other`` is the process total minus the three groups, so CPU of threads
    that exited between two readings lands there."""
    tck = os.sysconf("SC_CLK_TCK")

    def cpu(stat_path):
        with open(stat_path) as f:
            raw = f.read()
        # comm (field 2) may hold spaces; utime and stime follow the last ')'
        fields = raw[raw.rindex(")") + 2 :].split()
        return raw[raw.index("(") + 1 : raw.rindex(")")], (int(fields[11]) + int(fields[12])) / tck

    out = {"compiler": 0.0, "executor_tasks": 0.0, "gc": 0.0}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            comm, s = cpu(f"/proc/{pid}/task/{tid}/stat")
        except OSError:  # the thread exited
            continue
        if "CompilerThre" in comm:
            out["compiler"] += s
        elif comm.startswith("Executor task"):
            out["executor_tasks"] += s
        elif comm.startswith(("GC Thread", "G1 ")):
            out["gc"] += s
    out["total"] = cpu(f"/proc/{pid}/stat")[1]
    out["other"] = out["total"] - out["compiler"] - out["executor_tasks"] - out["gc"]
    return out


def bench_compile(seed: int = 1, timed_batches: int = 3) -> None:
    """Where one steady_merge-shaped batch's CPU goes: codegen compiles,
    JVM CPU by thread group, Python driver CPU. Typed log of 20k-event
    segments over 5,000 conversations x 40 turns, tombstone GC after every
    batch; a bulk set-up batch of 3 segments, then ``timed_batches``
    one-segment batches, one JSON line each."""
    import resource

    from debezium_connector_cassandra_spark.session import get_spark
    from debezium_connector_cassandra_spark.sources.generator import (
        gen_mutation_log,
        write_mutation_log,
        writetime_inversion_window_us,
    )
    from debezium_connector_cassandra_spark.streaming.runner import CdcRunner

    spark = get_spark(app_name="cdc-bench-extra-compile")
    jvm = spark._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    workdir = tempfile.mkdtemp(prefix="cdc_bx_compile_")
    setup_segments, seg = 3, 20_000
    log = gen_mutation_log(spark, (setup_segments + timed_batches) * seg, n_convs=5_000,
                           max_turns=40, events_per_segment=seg, seed=seed)
    write_mutation_log(log, f"{workdir}/log")
    runner = CdcRunner(spark, f"{workdir}/log", f"{workdir}/target", segments_per_batch=1,
                       gc_grace_us=writetime_inversion_window_us(), gc_every_batches=1)

    def snapshot():
        ru = resource.getrusage(resource.RUSAGE_SELF)
        return {"t": time.perf_counter(), "compiles": compiles.getCount(),
                "compile_ns": codegen.compileTime(), "jvm": _jvm_thread_cpu(pid),
                "py": ru.ru_utime + ru.ru_stime}

    def batch(label, run):
        a = snapshot()
        n_events = sum(r["n_events"] for r in run())
        b = snapshot()
        print(json.dumps({
            "batch": label,
            "n_events": n_events,
            "wall_s": round(b["t"] - a["t"], 2),
            "codegen_compiles": b["compiles"] - a["compiles"],
            "codegen_compile_s": round((b["compile_ns"] - a["compile_ns"]) / 1e9, 3),
            "jvm_cpu_s": {k: round(b["jvm"][k] - a["jvm"][k], 2) for k in a["jvm"]},
            "driver_py_cpu_s": round(b["py"] - a["py"], 2),
        }), flush=True)

    # as perfbench's steady_merge: a bulk set-up batch, then timed batches
    # through the drain loop (apply, then the tombstone GC sweep)
    try:
        batch("setup", lambda: [runner.run_batch(runner.pending_segments()[:setup_segments])])
        for i in range(timed_batches):
            batch(f"timed{i + 1}", lambda: runner.run(max_batches=1))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if mode == "queries":
        bench_queries(sys.argv[2:] or HEADLINE)
    elif mode == "pipeline":
        bench_pipeline()
    elif mode == "compile":
        bench_compile(int(sys.argv[2]) if len(sys.argv) > 2 else 1)
    else:
        raise SystemExit(f"unknown mode {mode}")
