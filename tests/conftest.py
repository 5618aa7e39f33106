import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from debezium_connector_cassandra_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="cdc-tests", master="local[8]", shuffle_partitions=8)
    yield s


def assert_keys_unique(df):
    """At most one row per (conv_id, turn_idx): what ``merge_states``
    assumes of both sides — a reduction output and a state table — so its
    full-outer join pairs each key once (``tomb_wt`` works per row and
    needs no uniqueness)."""
    dups = df.groupBy("conv_id", "turn_idx").count().where("count > 1").limit(5).collect()
    assert not dups, f"duplicate (conv_id, turn_idx) keys: {dups}"


def assert_state_equal(engine_df, oracle_df):
    """Row-for-row comparison under stable (conv_id, turn_idx) ordering —
    the per-row invariant from BASELINE.json input_hint."""
    eng = (
        engine_df.toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    cols = list(oracle_df.columns)
    eng = eng[cols]
    eng = eng.where(pd.notnull(eng), None)
    orc = oracle_df.where(pd.notnull(oracle_df), None)
    pd.testing.assert_frame_equal(eng, orc, check_dtype=False)
