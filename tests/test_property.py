"""Property-based correctness: random mutation logs vs the sequential
replay oracle (hypothesis). Complements the fixed scenario matrix with
adversarial interleavings the generators never produce — including equal
writetimes WITHIN a batch (tie broken by (segment, position) in both
formulations), duplicate deliveries, ops on never-upserted keys, and
batch splits at arbitrary points.
"""

import shutil
import tempfile

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import types as T

from debezium_connector_cassandra_spark.operators.lww import (
    drop_invisible,
    finalize_state,
    reduce_events,
)
from debezium_connector_cassandra_spark.operators.tombstones import (
    tomb_wt,
    tombstone_relation,
    tombstone_rows,
)
from debezium_connector_cassandra_spark.plans.apply import CdcTarget, apply_batch

from .conftest import assert_keys_unique
from .oracle import replay

CONVS = ["c0", "c1"]
TURNS = [0, 1, 2]
WTS = list(range(100, 112))  # small space -> frequent equal-wt conflicts
PAYLOAD = ["role", "text"]

LOG_SCHEMA = T.StructType(
    [
        T.StructField("segment_id", T.LongType()),
        T.StructField("position", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("writetime", T.LongType()),
        T.StructField(
            "range_start",
            T.StructType([T.StructField("method", T.StringType()), T.StructField("turn_idx", T.IntegerType())]),
        ),
        T.StructField(
            "range_end",
            T.StructType([T.StructField("method", T.StringType()), T.StructField("turn_idx", T.IntegerType())]),
        ),
        T.StructField(
            "cells",
            T.StructType(
                [
                    T.StructField(
                        c,
                        T.StructType(
                            [
                                T.StructField("value", T.StringType(), True),
                                T.StructField("deletion_ts", T.LongType(), True),
                                T.StructField("set", T.BooleanType(), False),
                            ]
                        ),
                    )
                    for c in PAYLOAD
                ]
            ),
        ),
    ]
)


@st.composite
def event(draw, idx):
    op = draw(st.sampled_from(["i", "i", "u", "u", "d", "p", "r"]))
    conv = draw(st.sampled_from(CONVS))
    wt = draw(st.sampled_from(WTS))
    seg, pos = idx // 4, (idx % 4) * 16
    if op in ("i", "u", "d"):
        turn = draw(st.sampled_from(TURNS))
    else:
        turn = None
    rs = re = None
    if op == "r":
        lo = draw(st.sampled_from(TURNS))
        hi = draw(st.sampled_from([t for t in TURNS if t >= lo]))
        rs = (draw(st.sampled_from(["INCL_START_BOUND", "EXCL_START_BOUND"])), lo)
        re = (draw(st.sampled_from(["INCL_END_BOUND", "EXCL_END_BOUND"])), hi)
    cells = None
    if op in ("i", "u"):
        cells = tuple(
            (
                f"v{idx}_{c}" if (s := draw(st.booleans()) or op == "i") else None,
                draw(st.sampled_from([None, None, None, wt])) if s else None,
                bool(s),
            )
            for c in PAYLOAD
        )
        # insert always sets every cell; update sets the drawn subset
    return (seg, pos, op, conv, turn, wt, rs, re, cells)


@st.composite
def mutation_log(draw):
    n = draw(st.integers(min_value=1, max_value=24))
    return [draw(event(i)) for i in range(n)]


def _engine_state(spark, rows):
    """The single-pass path: one reduction, the tombstone relation joined
    to it, finalize."""
    log = spark.createDataFrame(rows, LOG_SCHEMA)
    keys = reduce_events(log)
    # the random logs carry exact duplicates; the reduction still yields
    # one row per key (merging it into a state table rests on it)
    assert_keys_unique(keys)
    rel = tombstone_relation(tombstone_rows(log, ("p", "r")))
    state = drop_invisible(finalize_state(tomb_wt(keys, rel)))
    return _sorted(state.select("conv_id", "turn_idx", *PAYLOAD))


def _applied_state(spark, rows):
    """The incremental path: one ``apply_batch`` per segment, in segment
    order, into a fresh ``CdcTarget`` (so stored tombstones meet later
    out-of-order upserts)."""
    log = spark.createDataFrame(rows, LOG_SCHEMA)
    path = tempfile.mkdtemp(prefix="cdc_prop_")
    try:
        target = CdcTarget.create(spark, path, n_buckets=4, payload={c: T.StringType() for c in PAYLOAD})
        for seg in sorted({r[0] for r in rows}):
            apply_batch(target, log.where(log.segment_id == seg))
        assert_keys_unique(target.state.read())
        return _sorted(target.read_transcripts())
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _sorted(df):
    pdf = df.toPandas()
    pdf = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    return pdf.where(pd.notnull(pdf), None)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@pytest.mark.parametrize("engine", [_engine_state, _applied_state], ids=["single_pass", "per_segment_apply"])
@given(mutation_log())
def test_random_logs_match_replay_oracle(spark, engine, log_rows):
    eng = engine(spark, log_rows)
    pdf = pd.DataFrame(
        log_rows,
        columns=[
            "segment_id", "position", "op", "conv_id", "turn_idx",
            "writetime", "range_start", "range_end", "cells",
        ],
    )
    pdf["range_start"] = pdf["range_start"].map(
        lambda v: {"method": v[0], "turn_idx": v[1]} if v else None
    )
    pdf["range_end"] = pdf["range_end"].map(
        lambda v: {"method": v[0], "turn_idx": v[1]} if v else None
    )
    pdf["cells"] = pdf["cells"].map(
        lambda v: {
            c: {"value": v[i][0], "deletion_ts": v[i][1], "set": v[i][2]}
            for i, c in enumerate(PAYLOAD)
        }
        if v is not None
        else None
    )
    want = replay(pdf, cols=PAYLOAD).where(lambda d: pd.notnull(d), None)
    got = eng[["conv_id", "turn_idx", *PAYLOAD]]
    want = want[["conv_id", "turn_idx", *PAYLOAD]]
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True), check_dtype=False
    )
