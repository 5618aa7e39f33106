"""Correctness: the final table state against the sequential replay oracle.

Both sides are reduced to an order-independent fingerprint: every row is
normalized to a canonical string, the strings are sorted and hashed. Stored
fingerprints (``fingerprints.json``, keyed by ``Workload.log_key``) spare a
run the oracle; a log with no stored fingerprint is replayed here.

The oracle is ``tests/oracle.py:replay``. Its semantics are per conversation
(every tombstone kind is keyed by conv_id), so the log is replayed in
conversation groups and the results concatenated: the same answer as one
replay, without its rows x range-tombstones scan over the whole log.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os

import numpy as np
import pandas as pd

from tests.oracle import replay

FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fingerprints.json")
STATE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
# conversations per oracle call: small enough that the per-group range
# tombstone scan stays cheap, large enough that per-call overhead does too
_CONVS_PER_GROUP = 20


def _norm(v) -> str:
    if v is None:
        return "~"
    if isinstance(v, float) and math.isnan(v):
        return "~"
    if v is pd.NaT:
        return "~"
    if isinstance(v, (pd.Timestamp, dt.datetime, np.datetime64)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return f"t{ts.value // 1000}"
    if isinstance(v, (np.integer, int)):
        return f"i{int(v)}"
    return f"s{v}"


def fingerprint(state: pd.DataFrame) -> str:
    rows = sorted(
        "\x1f".join(_norm(v) for v in row)
        for row in state[STATE_COLS].itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode("utf-8"))
        h.update(b"\x1e")
    return f"{len(rows)}:{h.hexdigest()}"


def oracle_fingerprint(log: pd.DataFrame, n_convs: int) -> str:
    groups = max(1, n_convs // _CONVS_PER_GROUP)
    gid = pd.util.hash_array(log["conv_id"].to_numpy(dtype=object)) % np.uint64(groups)
    parts = [replay(part) for _, part in log.groupby(gid, sort=False)]
    return fingerprint(pd.concat(parts, ignore_index=True))


def load_stored() -> dict:
    with open(FINGERPRINTS) as f:
        return json.load(f)


def expected_fingerprint(workload, spark, seed: int, seconds: float) -> tuple[str, str]:
    """(fingerprint, source) where source is 'stored' or 'oracle'."""
    key = workload.log_key(seed, seconds)
    stored = load_stored().get(key)
    if stored is not None:
        return stored, "stored"
    log = workload.typed_log(spark, seed, seconds).toPandas()
    return oracle_fingerprint(log, workload.n_convs), "oracle"
