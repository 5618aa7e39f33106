"""CDC engine benchmark: one closed-loop run of one workload.

    python3 perfbench/run.py --workload steady_merge --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The run starts Spark with
deployment settings sized to this host, writes the workload's log and runs
the set-up batch (preload and warm-up). It then times the rest of the log,
batch by batch, through ``CdcRunner.run``: a fixed amount of work, sized so
that it takes about ``--seconds`` on the reference host. Last, the final
state is checked against the replay oracle's fingerprint.

stderr gets a table of every metric with its unit and the correctness
verdict; the last line of stdout is the JSON result. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run.
Run files (logs, tables, spans, results) go under ``.bench_work/`` at the
checkout root; only spans and results are kept after the run.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Wall-clock throughput, batch latency and peak RSS are printed and recorded
# with the diagnostics but not gated: on the reference host their spread
# between runs of the same code reaches 0.25-0.44 (see README.md).
END_TO_END = [
    ("cpu_s_per_kevent", "s/kevent"),
    ("write_bytes_per_event", "B/event"),
    ("setup_s", "s"),
]


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def deployment(work: str, trace: bool) -> dict:
    """Settings that fit this host, made by the benchmark (not session.py):
    all usable cores, a driver heap well below physical memory, worker
    PYTHONPATH, no console progress bar, scratch space inside the checkout."""
    from procstat import mem_total_mb, usable_cpus

    cpus = usable_cpus()
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # the binary decode's mapInPandas workers import the engine package
        "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    }
    conf = {
        "spark.driver.memory": f"{min(4096, mem_total_mb() // 4)}m",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        ev = os.path.join(work, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": ev,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return {"master": f"local[{cpus}]", "env": env, "conf": conf}


def start_spark(settings: dict, app_name: str):
    os.environ.update(settings["env"])
    from debezium_connector_cassandra_spark.session import get_spark

    return get_spark(app_name=app_name, master=settings["master"], extra_conf=settings["conf"])


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait until every process it started
    (the JVM, the PySpark daemon and its workers) has exited."""
    from pyspark import SparkContext

    from procstat import tree_pids

    started = [p for p in tree_pids() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 60
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in started):
        time.sleep(0.2)
    left = [p for p in started if os.path.exists(f"/proc/{p}")]
    if left:
        raise RuntimeError(f"processes still running after Spark stopped: {left}")


def _lake_bytes(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def _median_or_zero(xs):
    return statistics.median(xs) if xs else 0.0


def run(args, work: str, settings: dict) -> tuple[dict, dict]:
    """Returns (result, diagnostics)."""
    import procstat
    from check import expected_fingerprint, fingerprint
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    diag = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "settings": settings,
        "loadavg_at_start": procstat.loadavg(),
    }
    spark = start_spark(settings, f"perfbench-{wl.name}")
    try:
        diag["spark_start_s"] = time.perf_counter() - T_PROCESS
        log_path = os.path.join(work, "log")
        target = os.path.join(work, "target")
        t = time.perf_counter()
        wl.write_log(spark, log_path, args.seed, args.seconds)
        diag["log_write_s"] = time.perf_counter() - t
        runner = wl.make_runner(spark, log_path, target)
        t = time.perf_counter()
        runner.run_batch(runner.pending_segments()[: wl.setup_segments])
        diag["setup_batch_s"] = time.perf_counter() - t

        walls: list[float] = []
        n_events: list[int] = []
        plain_run_batch = runner.run_batch

        def timed_run_batch(*a, **kw):
            t0 = time.perf_counter()
            out = plain_run_batch(*a, **kw)
            walls.append(time.perf_counter() - t0)
            n_events.append(out["n_events"])
            return out

        runner.run_batch = timed_run_batch
        setup_s = time.perf_counter() - T_PROCESS

        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
        attempted = failed = 0
        cpu0 = procstat.cpu_snapshot()
        steal0 = procstat.steal_s()
        files0 = _lake_bytes(target)
        t_loop = time.perf_counter()
        with tracer.installed(runner) if tracer else contextlib.nullcontext():
            # fixed work: the timed segments were sized from --seconds
            while runner.pending_segments():
                attempted += 1
                try:
                    runner.run(max_batches=1)
                except Exception as e:  # the run reports the failure, then stops
                    failed += 1
                    _log(f"batch failed: {e!r}")
                    break
        loop_s = time.perf_counter() - t_loop
        cpu1 = procstat.cpu_snapshot()
        steal1 = procstat.steal_s()
        written = sum(
            size for p, size in _lake_bytes(target).items() if p not in files0
        )
        applied = sum(n_events)
        half = len(walls) // 2
        diag.update(
            {
                "events_per_s": applied / loop_s if loop_s > 0 else 0.0,
                "batch_wall_p50_s": _median_or_zero(walls),
                "peak_rss_mb": procstat.peak_rss_mb(),
                "timed_batches": len(walls),
                "batch_walls_s": list(walls),
                "batch_events": list(n_events),
                "loop_s": loop_s,
                "first_half_wall_p50_s": _median_or_zero(walls[:half]),
                "second_half_wall_p50_s": _median_or_zero(walls[half:]),
                "steal_s": steal1 - steal0,
                "tree_cpu_s": cpu1["tree_cpu_s"] - cpu0["tree_cpu_s"],
                "pyworker_cpu_s": cpu1["pyworker_cpu_s"] - cpu0["pyworker_cpu_s"],
            }
        )

        t = time.perf_counter()
        correct = False
        if not failed:
            got = fingerprint(runner.target.read_transcripts().toPandas())
            want, source = expected_fingerprint(wl, spark, args.seed, args.seconds)
            correct = got == want
            diag.update({"fingerprint": got, "expected": want, "expected_from": source,
                         "log_key": wl.log_key(args.seed, args.seconds)})
            if not correct:
                failed = attempted  # a wrong final state fails every batch of the run
        else:
            failed = attempted
        diag["ops_failed_frac"] = failed / attempted if attempted else 1.0
        diag["check_s"] = time.perf_counter() - t

        if tracer is not None:
            os.makedirs(os.path.join(ROOT, ".bench_work", "traces"), exist_ok=True)
            tracer.dump(os.path.join(
                ROOT, ".bench_work", "traces", f"{wl.name}-seed{args.seed}-{os.getpid()}.json"))
    finally:
        stop_spark(spark)

    if tracer is not None:
        from spans import PER_LAYER

        values = tracer.metrics(settings["conf"].get("spark.eventLog.dir"))
        values["session.peak_rss_mb"] = diag["peak_rss_mb"]
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in PER_LAYER}
    else:
        values = {
            "cpu_s_per_kevent": 1000 * diag["tree_cpu_s"] / applied if applied else 0.0,
            "write_bytes_per_event": written / applied if applied else 0.0,
            "setup_s": setup_s,
        }
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}
    diag["batch_wall_samples"] = len(walls)
    result = {"correct": bool(correct), "attempted": max(attempted, 1), "failed": failed,
              "metrics": metrics}
    return result, diag


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    try:
        import debezium_connector_cassandra_spark  # noqa: F401
        import tests.oracle  # noqa: F401
    except ImportError as e:
        _log(f"cannot import the engine or its oracle from {ROOT}: {e}")
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    work = os.path.join(ROOT, ".bench_work", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result, diag = run(args, work, deployment(work, bool(args.trace)))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    results_dir = os.path.join(ROOT, ".bench_work", "results")
    os.makedirs(results_dir, exist_ok=True)
    with open(os.path.join(results_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"), "w") as f:
        json.dump({"result": result, "diagnostics": diag}, f, indent=1, default=str)

    _log(f"{args.workload} seed={args.seed} trace={args.trace} "
         f"verdict={'CORRECT' if result['correct'] else 'WRONG'} "
         f"attempted={result['attempted']} failed={result['failed']} "
         f"batch_wall_samples={diag['batch_wall_samples']}")
    for name, m in result["metrics"].items():
        _log(f"  {name:40s} {m['value']:>16.6g} {m['unit']}")
    for k in ("events_per_s", "batch_wall_p50_s", "peak_rss_mb", "loadavg_at_start", "steal_s", "first_half_wall_p50_s", "second_half_wall_p50_s",
              "spark_start_s", "log_write_s", "setup_batch_s", "batch_walls_s",
              "check_s", "expected_from"):
        _log(f"  [diag] {k} = {diag.get(k)}")
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
