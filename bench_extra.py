#!/usr/bin/env python
"""Round-6 measurement harness (guide §1: measure first, noop sink, labels).

NOT the driver's bench — bench.py stays frozen. This file exists to
 * time individual headline queries in isolation (noop sink, warm cache,
   N trials, median/min) so optimizations are attributed per query;
 * count Spark jobs per query via the status tracker.

Usage:
  python bench_extra.py queries [name ...]   # per-query isolation
  python bench_extra.py pipeline             # end-to-end pipeline wall
"""

from __future__ import annotations

import json
import os
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


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if mode == "queries":
        bench_queries(sys.argv[2:] or HEADLINE)
    elif mode == "pipeline":
        bench_pipeline()
    else:
        raise SystemExit(f"unknown mode {mode}")
