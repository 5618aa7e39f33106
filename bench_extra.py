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
  python bench_extra.py jobs [seed]          # per-batch and per-job jobs/tasks/CPU/records
  python bench_extra.py skew [n_events] [pairs]  # uniform vs 40%-hot-key stress
  python bench_extra.py bytes [seed]         # bytes one batch writes, by table, kind and column
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


def _steady_runner(spark, seed: int, timed_batches: int, workdir: str):
    """A steady_merge-shaped ``CdcRunner``: typed log of 20k-event segments
    over 5,000 conversations x 40 turns, tombstone GC after every batch.
    Returns ``(runner, setup_segments)``; the set-up batch drains
    ``setup_segments`` segments at once, then one segment per batch."""
    from debezium_connector_cassandra_spark.sources.generator import (
        gen_mutation_log,
        write_mutation_log,
        writetime_inversion_window_us,
    )
    from debezium_connector_cassandra_spark.streaming.runner import CdcRunner

    setup_segments, seg = 3, 20_000
    log = gen_mutation_log(spark, (setup_segments + timed_batches) * seg, n_convs=5_000,
                           max_turns=40, events_per_segment=seg, seed=seed)
    write_mutation_log(log, f"{workdir}/log")
    runner = CdcRunner(spark, f"{workdir}/log", f"{workdir}/target", segments_per_batch=1,
                       gc_grace_us=writetime_inversion_window_us(), gc_every_batches=1)
    return runner, setup_segments


def _steady_batches(runner, setup_segments: int, timed_batches: int):
    """(label, run) per batch, as perfbench's steady_merge drains them: a
    bulk set-up batch, then timed batches through the drain loop (apply,
    then the tombstone GC sweep)."""
    yield "setup", lambda: [runner.run_batch(runner.pending_segments()[:setup_segments])]
    for i in range(timed_batches):
        yield f"timed{i + 1}", lambda: runner.run(max_batches=1)


def bench_compile(seed: int = 1, timed_batches: int = 3) -> None:
    """Where one steady_merge-shaped batch's CPU goes: codegen compiles,
    JVM CPU by thread group, Python driver CPU. A bulk set-up batch of 3
    segments, then ``timed_batches`` one-segment batches, one JSON line
    each."""
    import resource

    from debezium_connector_cassandra_spark.session import get_spark

    spark = get_spark(app_name="cdc-bench-extra-compile")
    jvm = spark._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    workdir = tempfile.mkdtemp(prefix="cdc_bx_compile_")
    runner, setup_segments = _steady_runner(spark, seed, timed_batches, workdir)

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

    try:
        for label, run in _steady_batches(runner, setup_segments, timed_batches):
            batch(label, run)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _jobs_from_event_log(event_log: str) -> list[dict]:
    """Every job of a job group in an uncompressed Spark event log, in
    submission order: ``job``, ``group``, ``call_site`` and ``stages``, one
    dict per stage that ran tasks with its ``tasks``, executor ``run_s`` and
    ``cpu_s``, ``input_records``, ``shuffle_read_records`` and
    ``shuffle_write_records``. A stage counts toward the first job that
    lists it."""
    root = os.path.dirname(os.path.abspath(__file__)) + os.sep
    jobs: list[dict] = []
    stage_job: dict[int, dict] = {}
    with open(event_log) as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                if group is None:
                    continue
                job = {"job": e["Job ID"], "group": group,
                       "call_site": props.get("callSite.short", "?").replace(root, ""), "stages": {}}
                jobs.append(job)
                for st in e.get("Stage IDs", []):
                    stage_job.setdefault(st, job)
            elif kind == "SparkListenerTaskEnd" and e.get("Stage ID") in stage_job:
                tm = e.get("Task Metrics") or {}
                st = stage_job[e["Stage ID"]]["stages"].setdefault(e["Stage ID"], {
                    "stage": e["Stage ID"], "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "input_records": 0,
                    "shuffle_read_records": 0, "shuffle_write_records": 0})
                st["tasks"] += 1
                st["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                st["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                st["input_records"] += (tm.get("Input Metrics") or {}).get("Records Read", 0)
                st["shuffle_read_records"] += (tm.get("Shuffle Read Metrics") or {}).get("Total Records Read", 0)
                st["shuffle_write_records"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Records Written", 0)
    for job in jobs:
        job["stages"] = [
            {k: round(v, 2) if isinstance(v, float) else v for k, v in st.items()}
            for _, st in sorted(job["stages"].items())
        ]
    return jobs


def _jobs_by_group(jobs: list[dict]) -> dict[str, dict]:
    """Jobs, tasks, executor run time and executor CPU time per job group
    and call site, from ``_jobs_from_event_log``."""
    out: dict[str, dict] = {}
    for job in jobs:
        g = out.setdefault(job["group"], {"jobs": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "by_call_site": {}})
        c = g["by_call_site"].setdefault(job["call_site"], {"jobs": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0})
        for cell in (g, c):
            cell["jobs"] += 1
            for st in job["stages"]:
                for k in ("tasks", "run_s", "cpu_s"):
                    cell[k] += st[k]
    return out


def _name_lake_writes(sc) -> None:
    """Give lake writes a call site: PySpark sets none for a DataFrame
    write, and the broadcast jobs a write runs inherit it."""
    from debezium_connector_cassandra_spark.lake.table import LakeTable

    for name in ("overwrite_buckets", "overwrite_all"):
        def named(self, *a, _plain=getattr(LakeTable, name), _name=name, **kw):
            sc._jsc.setCallSite(f"LakeTable.{_name} of {os.path.basename(self.path)}")
            try:
                return _plain(self, *a, **kw)
            finally:
                sc._jsc.setCallSite(None)

        setattr(LakeTable, name, named)


def bench_jobs(seed: int = 1, timed_batches: int = 3) -> None:
    """Per-phase attribution of a steady_merge-shaped run: for each batch
    (the set-up batch, then ``timed_batches`` timed ones) one JSON line with
    its jobs, tasks, executor run time and executor CPU time, in total and
    by call site (the engine line that submitted the job, or the lake
    write that ran it), then one line per job of the batch with its stages
    (tasks, executor time, input and shuffle records), so the jobs a lake
    write runs under its call site (broadcasts) show one by one. Read from
    an uncompressed Spark event log after the session stops."""
    from debezium_connector_cassandra_spark.session import get_spark

    workdir = tempfile.mkdtemp(prefix="cdc_bx_jobs_")
    ev_dir = os.path.join(workdir, "eventlog")
    os.makedirs(ev_dir)
    spark = get_spark(app_name="cdc-bench-extra-jobs", extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": ev_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    sc = spark.sparkContext
    _name_lake_writes(sc)
    try:
        runner, setup_segments = _steady_runner(spark, seed, timed_batches, workdir)
        walls = {}
        for label, run in _steady_batches(runner, setup_segments, timed_batches):
            sc.setJobGroup(label, label)
            t0 = time.perf_counter()
            run()
            walls[label] = round(time.perf_counter() - t0, 2)
        spark.stop()
        (log,) = [os.path.join(ev_dir, f) for f in os.listdir(ev_dir)]
        jobs = _jobs_from_event_log(log)
        groups = _jobs_by_group(jobs)
        for label, wall in walls.items():
            g = groups.get(label, {})
            sites = sorted(g.get("by_call_site", {}).items(), key=lambda kv: -kv[1]["cpu_s"])
            print(json.dumps({
                "batch": label,
                "wall_s": wall,
                **{k: round(g.get(k, 0), 2) for k in ("jobs", "tasks", "run_s", "cpu_s")},
                "by_call_site": {
                    site: {k: round(v, 2) for k, v in c.items()} for site, c in sites
                },
            }), flush=True)
            for job in jobs:
                if job["group"] == label:
                    print(json.dumps({"batch": label, **{k: v for k, v in job.items() if k != "group"}}), flush=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def bench_skew(n_events: int = 2_000_000, pairs: int = 3) -> None:
    """Skew stress: the same ``bench.py`` pipeline shape (``n_events`` in 8
    segments, 4 segments per batch, 32 state buckets, n_events/100
    conversations x 50 turns, seed 42) drained once with conversations
    chosen uniformly and once with 40% of all events on one conversation,
    ``pairs`` times in alternating order. Prints one JSON line per run and
    a summary with the medians and hot/uniform ratio of the apply wall."""
    from debezium_connector_cassandra_spark.session import get_spark
    from debezium_connector_cassandra_spark.sources.generator import (
        gen_mutation_log,
        write_mutation_log,
    )
    from debezium_connector_cassandra_spark.streaming.runner import CdcRunner

    spark = get_spark(app_name="cdc-bench-extra-skew")
    walls: dict[str, list[float]] = {"uniform": [], "hot40": []}
    rows: dict[str, int] = {}
    for trial in range(pairs):
        order = [("uniform", 0.0), ("hot40", 0.4)]
        for name, hot in order if trial % 2 == 0 else order[::-1]:
            workdir = tempfile.mkdtemp(prefix="cdc_bx_skew_")
            try:
                log = gen_mutation_log(spark, n_events, n_convs=max(n_events // 100, 100), max_turns=50,
                                       events_per_segment=max(n_events // 8, 1), n_log_partitions=4,
                                       seed=42, hot_fraction=hot)
                write_mutation_log(log, f"{workdir}/log")
                runner = CdcRunner(spark, f"{workdir}/log", f"{workdir}/target",
                                   segments_per_batch=4, n_buckets=32)
                t0 = time.perf_counter()
                n_batches = len(runner.run())
                walls[name].append(round(time.perf_counter() - t0, 2))
                rows[name] = runner.target.state.read().count()
            finally:
                shutil.rmtree(workdir, ignore_errors=True)
            print(json.dumps({"trial": trial, "stream": name, "apply_s": walls[name][-1],
                              "n_batches": n_batches, "state_rows": rows[name]}), flush=True)
    med = {k: statistics.median(v) for k, v in walls.items()}
    print(json.dumps({
        "uniform_apply_sec": walls["uniform"],
        "hot40_apply_sec": walls["hot40"],
        "median_uniform": med["uniform"],
        "median_hot40": med["hot40"],
        "hot_over_uniform": round(med["hot40"] / med["uniform"], 2),
        "state_rows": rows,
    }))

def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            out[os.path.join(d, n)] = os.path.getsize(os.path.join(d, n))
    return out


def _file_kind(name: str) -> str:
    if name.endswith(".crc"):
        return "crc"
    if name == "_SUCCESS":
        return "success"
    if name.endswith(".parquet"):
        return "parquet"
    if name.endswith(".json"):
        return "manifest"
    return "other"


def _column_bytes(files: list[str]) -> dict[str, dict]:
    """Per column of ``files`` (Parquet): compressed bytes, bytes per row,
    compression and encodings, summed over every row group's footer entry."""
    import pyarrow.parquet as pq

    cols: dict[str, dict] = {}
    rows = 0
    for f in files:
        md = pq.read_metadata(f)
        rows += md.num_rows
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for j in range(rg.num_columns):
                c = rg.column(j)
                e = cols.setdefault(c.path_in_schema, {"bytes": 0, "compression": set(), "encodings": set()})
                e["bytes"] += c.total_compressed_size
                e["compression"].add(c.compression)
                e["encodings"].update(c.encodings)
    return {
        name: {"bytes": e["bytes"], "b_per_row": round(e["bytes"] / rows, 2) if rows else 0.0,
               "compression": sorted(e["compression"]), "encodings": sorted(e["encodings"])}
        for name, e in sorted(cols.items(), key=lambda kv: -kv[1]["bytes"])
    }


def _last_pid() -> int:
    """The last process id given out in this PID namespace; the difference
    of two readings, modulo ``pid_max``, counts the processes created in
    between by this namespace alone."""
    with open("/proc/sys/kernel/ns_last_pid") as f:
        return int(f.read())


def _pid_max() -> int:
    with open("/proc/sys/kernel/pid_max") as f:
        return int(f.read())


def _reaped_child_cpu_s(pid: int) -> float:
    """CPU of ``pid``'s children that exited and were reaped (cutime + cstime)."""
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    fields = raw[raw.rindex(")") + 2 :].split()
    return (int(fields[13]) + int(fields[14])) / os.sysconf("SC_CLK_TCK")


def bench_bytes(seed: int = 1) -> None:
    """What one steady_merge-shaped batch writes: the set-up batch, then one
    timed batch (apply and GC sweep). Prints one JSON line per table of the
    target with the files and bytes the timed batch created by kind
    (``parquet``, ``manifest`` json, Hadoop ``crc`` sidecars, ``success``
    markers), one line per state column (compressed bytes, B/row,
    compression and encodings, from the new state files' footers), and a
    summary line with the batch's events, total bytes and B/event, the
    processes created during the batch (in this PID namespace) and the CPU
    of the JVM's reaped child processes."""
    from debezium_connector_cassandra_spark.session import get_spark

    spark = get_spark(app_name="cdc-bench-extra-bytes")
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    workdir = tempfile.mkdtemp(prefix="cdc_bx_bytes_")
    root = os.path.join(workdir, "target")
    try:
        runner, setup_segments = _steady_runner(spark, seed, 1, workdir)
        batches = dict(_steady_batches(runner, setup_segments, 1))
        batches["setup"]()
        before, pid0, child = _files(root), _last_pid(), _reaped_child_cpu_s(pid)
        n_events = sum(r["n_events"] for r in batches["timed1"]())
        procs, child = (_last_pid() - pid0) % _pid_max(), _reaped_child_cpu_s(pid) - child
        new = {p: n for p, n in _files(root).items() if p not in before}  # as perfbench counts
        tables: dict[str, dict] = {}
        for p, n in new.items():
            table = os.path.relpath(p, root).split(os.sep)[0]
            k = tables.setdefault(table, {}).setdefault(_file_kind(os.path.basename(p)), {"files": 0, "bytes": 0})
            k["files"] += 1
            k["bytes"] += n
        for table, kinds in sorted(tables.items()):
            print(json.dumps({"table": table, "bytes": sum(k["bytes"] for k in kinds.values()), **kinds}), flush=True)
        state = [p for p in new if os.path.relpath(p, root).startswith("state" + os.sep) and p.endswith(".parquet")]
        for col, e in _column_bytes(state).items():
            print(json.dumps({"table": "state", "column": col, **e}), flush=True)
        total = sum(new.values())
        print(json.dumps({"seed": seed, "n_events": n_events, "bytes": total,
                          "bytes_per_event": round(total / n_events, 2),
                          "processes_created": procs,
                          "jvm_reaped_child_cpu_s": round(child, 2)}), flush=True)
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
    elif mode == "jobs":
        bench_jobs(int(sys.argv[2]) if len(sys.argv) > 2 else 1)
    elif mode == "skew":
        bench_skew(*[int(a) for a in sys.argv[2:4]])
    elif mode == "bytes":
        bench_bytes(int(sys.argv[2]) if len(sys.argv) > 2 else 1)
    else:
        raise SystemExit(f"unknown mode {mode}")
