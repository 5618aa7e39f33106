"""Compute replay-oracle fingerprints and store them in fingerprints.json.

    python3 perfbench/record_fingerprints.py --seconds 15 --seeds 0-39

Run from the root of a checkout. A run whose (workload, seed, seconds) has a
stored fingerprint compares against it instead of replaying the log itself.
Entries are keyed by ``Workload.log_key``, so changing a workload's inputs
orphans its old entries rather than making them wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from check import FINGERPRINTS, load_stored, oracle_fingerprint  # noqa: E402
from run import ROOT, deployment, start_spark, stop_spark  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--seeds", required=True, help="e.g. 0-39 or 1,5,7")
    p.add_argument("--workloads", default=",".join(WORKLOADS))
    args = p.parse_args()

    work = os.path.join(ROOT, ".bench_work", f"fingerprints-{os.getpid()}")
    os.makedirs(work)
    spark = start_spark(deployment(work, trace=False), "perfbench-fingerprints")
    try:
        for name in args.workloads.split(","):
            wl = WORKLOADS[name]
            for seed in _seeds(args.seeds):
                key = wl.log_key(seed, args.seconds)
                t = time.perf_counter()
                fp = oracle_fingerprint(wl.typed_log(spark, seed, args.seconds).toPandas(), wl.n_convs)
                stored = load_stored()
                stored[key] = fp
                with open(FINGERPRINTS, "w") as f:
                    json.dump(stored, f, indent=1, sort_keys=True)
                    f.write("\n")
                print(f"{key} {fp} ({time.perf_counter() - t:.1f}s)", file=sys.stderr, flush=True)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
