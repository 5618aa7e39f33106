"""Plan-shape regression pins for the flagship queries.

BENCH/plans_r*.md is a manual audit artifact; these assertions make its
invariants executable so a plan regression (a cartesian creeping into a
band join, a Window/Sort landing on the corpus side of the IVF argmin, the
LWW pick degrading) fails CI instead of waiting for the next manual audit.

Counts are asserted as BOUNDS, not exact values — Spark/AQE version drift
may legally reshuffle operator counts, but the scale-killers (cartesian
products, corpus-side sorts) are never legal.
"""

import re

import pytest

import __spark_entry__ as em

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, df) -> str:
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _count(plan: str, op: str) -> int:
    # formatted explain shows each operator instance once as a numbered
    # detail header "(N) Op" (the tree section repeats names — don't count it)
    return len(re.findall(rf"\(\d+\) {op}\b", plan))


@pytest.fixture(scope="module")
def queries():
    return em.queries()


def test_no_cartesian_anywhere(spark, queries):
    """The blanket invariant: NO query plan may contain a CartesianProduct.
    (BroadcastNestedLoopJoin is allowed only where a tiny broadcast side is
    the design — IVF centroid scoring, top-k query sides.)"""
    for name in (
        "cdc_full_state",
        "cdc_range_tombstones",
        "docs_minhash_lsh",
        "docs_simhash_dups",
        "docs_dedup_jaccard",
        "emb_ivf_assign",
        "emb_ivf_topk",
        "emb_ivf_pq_topk",
        "emb_ivf_pq_rerank_topk",
        "emb_pq_rerank_topk",
        "docs_dup_gram_fraction",
        "emb_near_dups",
        "cdc_state_asof",
        "cdc_snapshot_diff",
        "cdc_transcript_assembly",
        "docs_pack_sequences",
        "docs_source_mix",
        "mm_frame_sample",
        "cdc_transcript_incremental",
        "cdc_asof_join",
        "cdc_interval_join",
    ):
        plan = _plan(spark, queries[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name


def test_ivf_assign_argmin_is_hash_aggregate(spark, queries):
    """The corpus-side argmin must stay a packed-long MIN hash aggregate
    (round-2's weak spot was a Window over corpus x centroids): no Window,
    no Sort, HashAggregate present, and the only nested-loop join is the
    bounded corpus x broadcast-centroids scoring."""
    plan = _plan(spark, queries["emb_ivf_assign"](spark, SF_DIR))
    assert "Window" not in plan
    assert _count(plan, "Sort") == 0
    assert _count(plan, "HashAggregate") >= 1
    assert _count(plan, "BroadcastNestedLoopJoin") <= 1


def test_lww_state_plan_shape(spark, queries):
    """cdc_full_state: SortAggregate only as the struct-max winner pick
    (bounded — it adds no shuffle beyond the keyed one), tombstone joins
    are equi/broadcast joins, never nested-loop over the event relation."""
    plan = _plan(spark, queries["cdc_full_state"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert _count(plan, "SortAggregate") <= 4
    assert _count(plan, "HashAggregate") >= 1


def test_band_joins_are_equi_joins(spark, queries):
    """MinHash-LSH and SimHash retrieval must join on band buckets (hash /
    sort-merge / broadcast equi-joins) — the all-pairs shape would appear
    as a nested-loop join."""
    for name in ("docs_minhash_lsh", "docs_simhash_dups"):
        plan = _plan(spark, queries[name](spark, SF_DIR))
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert (
            _count(plan, "SortMergeJoin")
            + _count(plan, "BroadcastHashJoin")
            + _count(plan, "ShuffledHashJoin")
            >= 1
        ), name


def test_scalar_types_plan_matches_full_state_shape(spark, queries):
    """cdc_types_scalar drives seven typed cells through the same reduction;
    the plan must keep the cdc_full_state shape — no nested-loop joins, the
    SortAggregate bounded to the struct-max LWW pick."""
    plan = _plan(spark, queries["cdc_types_scalar"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert _count(plan, "SortAggregate") <= 4
    assert _count(plan, "HashAggregate") >= 1


def test_batch_mutations_measures_explode_apply_only(spark, queries):
    """The packed-log fixture keeps the pack shuffle OUT of the measured
    plan: exchange count must not exceed cdc_full_state's by more than one
    (round-4 shipped 9 vs 5 because every branch re-executed the pack)."""
    full = _plan(spark, queries["cdc_full_state"](spark, SF_DIR))
    batch = _plan(spark, queries["cdc_batch_mutations"](spark, SF_DIR))
    assert "CartesianProduct" not in batch
    assert _count(batch, "Exchange") <= _count(full, "Exchange") + 1


def test_pq_rerank_refine_plan_shape(spark, queries):
    """The refine stage must reach the float vectors through broadcast
    equi-joins on the candidate set (|q| x R rows) — the only nested-loop
    joins allowed are the two against the broadcast m*n_codes codebook (the
    q x cb LUT build and the corpus x cb encode scoring — both bounded by
    the 64-row codebook side). A corpus-side cartesian would mean the
    re-rank reads float vectors for the whole corpus, defeating the
    quantized index."""
    plan = _plan(spark, queries["emb_pq_rerank_topk"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert _count(plan, "BroadcastNestedLoopJoin") <= 2
    assert _count(plan, "BroadcastHashJoin") >= 2  # cand->corpus, cand->query


def test_decode_envelope_is_map_only(spark, queries):
    """D11 envelope construction is a pure scan-project plan: no exchange,
    no aggregate, no join — decode stays at scan speed."""
    plan = _plan(spark, queries["cdc_decode_envelope"](spark, SF_DIR))
    # the derived-log cache's STORED build plan (replayed only on a cache
    # miss) carries its own one-time repartition Exchange; the query's
    # executed operators are everything above the InMemoryRelation leaf —
    # scope the sweep there so decode itself stays pinned map-only
    executed = plan.split("InMemoryRelation")[0]
    assert "InMemoryTableScan" in executed  # reads the cache, nothing below
    # substring check on purpose: catches every operator family member
    # (BroadcastHashJoin, HashAggregate, ...) in one sweep
    for op in ("Exchange", "Join", "Aggregate", "Window", "CartesianProduct"):
        assert op not in executed, op


def test_stateful_streaming_plan_shapes(spark, tmp_path_factory):
    """The two engine-side streaming state operators keep their scale shape:

    - conversation_progress: column pruning BEFORE the one keyed Exchange
      into FlatMapGroupsInPandasWithState (the state op's shuffle carries
      only the 5 narrow columns, never cells/range structs);
    - change_rate_stream: a PARTIAL HashAggregate before the window-key
      Exchange (map-side combine — per-partition counts, not raw events,
      cross the wire) feeding the StateStore save/restore pair.

    Both: exactly one Exchange, no joins, no cartesian."""
    from debezium_connector_cassandra_spark.sources.generator import (
        gen_mutation_log,
        write_mutation_log,
    )
    from debezium_connector_cassandra_spark.streaming.stateful import (
        conversation_progress,
        log_stream,
    )
    from debezium_connector_cassandra_spark.streaming.windowed import (
        change_rate_stream,
    )

    wd = str(tmp_path_factory.mktemp("plans_stream"))
    log = gen_mutation_log(spark, 400, n_convs=10, events_per_segment=200, seed=5)
    write_mutation_log(log, f"{wd}/log")
    src = log_stream(spark, f"{wd}/log")

    prog = _plan(spark, conversation_progress(src))
    assert _count(prog, "Exchange") == 1
    assert _count(prog, "FlatMapGroupsInPandasWithState") == 1
    assert "Join" not in prog and "CartesianProduct" not in prog
    # the Project feeding the Exchange carries the narrow columns only
    assert re.search(r"\(\d+\) Exchange\nInput \[5\]", prog), "shuffle not pruned to 5 cols"

    rate = _plan(spark, change_rate_stream(src))
    assert _count(rate, "Exchange") == 1
    assert _count(rate, "StateStoreSave") == 1
    assert "Join" not in rate and "CartesianProduct" not in rate
    # partial aggregate upstream (tree-wise below) the exchange = map-side
    # combine: per-partition counts, not raw events, cross the wire
    tree = rate.split("\n\n")[0]
    below_exchange = tree.split("Exchange")[-1]
    assert "HashAggregate" in below_exchange, "no partial count before the window-key exchange"


def test_pack_sequences_plan_shape(spark, queries):
    """docs_pack_sequences: ONE shuffle (the bucket key), window sorted only
    within buckets — a global-sort cumsum would be the scale-killer here."""
    plan = _plan(spark, queries["docs_pack_sequences"](spark, SF_DIR))
    assert _count(plan, "Exchange") <= 2  # bucket shuffle (+AQE coalesce)
    assert _count(plan, "Window") == 1
    assert "CartesianProduct" not in plan


def test_snapshot_diff_plan_shape(spark, queries):
    """cdc_snapshot_diff: the before/after comparison is equi-joined on the
    key (SMJ/shuffled-hash), never nested-loop over either state relation;
    the only nested-loop joins are the 1-row broadcast horizon feeds."""
    plan = _plan(spark, queries["cdc_snapshot_diff"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert _count(plan, "SortMergeJoin") + _count(plan, "ShuffledHashJoin") >= 1
    # every BroadcastNestedLoopJoin must be a horizon feed (1-row agg side)
    assert _count(plan, "BroadcastNestedLoopJoin") <= 4


def test_frame_sample_is_map_only(spark, queries):
    """mm_frame_sample: sequence+explode+substr is a pure scan-project-
    generate plan — frame sampling runs at scan speed, no exchange, no
    Python, no join."""
    plan = _plan(spark, queries["mm_frame_sample"](spark, SF_DIR))
    # scope to the executed operators above the cached-source leaf: the
    # InMemoryRelation prints its stored build plan, which carries the
    # one-time cache repartition Exchange (see decode-envelope pin)
    executed = plan
    if "InMemoryRelation" in plan:
        executed = plan.split("InMemoryRelation")[0]
        assert "InMemoryTableScan" in executed
    for op in ("Exchange", "Join", "Aggregate", "Window", "InPandas"):
        assert op not in executed, op
    # the Generate node sits in the executed tree; count it there (the
    # numbered-details section may be below the truncation point)
    assert executed.count("Generate") == 1


def test_asof_join_is_joinless(spark, queries):
    """The as-of join compiles to tagged-union + ONE keyed window — no join
    operator at all (a range join would explode; an SMJ would re-shuffle
    both sides separately)."""
    plan = _plan(spark, queries["cdc_asof_join"](spark, SF_DIR))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert _count(plan, "Exchange") <= 2
    assert _count(plan, "Window") >= 1


def test_interval_join_is_equi_join(spark, queries):
    """The range join must run as the bucketed EQUI-join decomposition —
    a naive containment join plans as a nested loop over events x
    intervals, which is the scale-killer this operator exists to avoid."""
    plan = _plan(spark, queries["cdc_interval_join"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        _count(plan, "BroadcastHashJoin")
        + _count(plan, "SortMergeJoin")
        + _count(plan, "ShuffledHashJoin")
        >= 1
    )
    assert _count(plan, "Generate") >= 1  # the interval->bucket explode


def test_binary_decode_is_a_column_function(spark, tmp_path_factory):
    """The binary decode is one Arrow UDF on ``payload``: a plan that never
    reads ``cells`` (the batch's tombstone rows) runs no Python and does not
    scan ``payload``; the key reduction runs exactly one ArrowEvalPython,
    with the ``op IN (i,u,d)`` filter below it, so partition and range
    deletes are never decoded."""
    from debezium_connector_cassandra_spark.functions.binary_codec import (
        decode_payload_binary,
        encode_payload_binary,
    )
    from debezium_connector_cassandra_spark.operators.lww import reduce_events
    from debezium_connector_cassandra_spark.operators.tombstones import tombstone_rows
    from debezium_connector_cassandra_spark.sources.generator import (
        gen_mutation_log,
        read_mutation_log,
        write_mutation_log,
    )

    path = str(tmp_path_factory.mktemp("binlog") / "log")
    log = gen_mutation_log(spark, 600, n_convs=10, events_per_segment=300, seed=5)
    write_mutation_log(encode_payload_binary(log), path)
    raw = read_mutation_log(spark, path, schema="infer")

    tombs = _plan(spark, tombstone_rows(decode_payload_binary(raw), ("d", "p", "r")))
    for op in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert _count(tombs, op) == 0, op
    read_schemas = re.findall(r"ReadSchema: (.*)", tombs)
    assert read_schemas and not any("payload" in s for s in read_schemas)

    reduced = reduce_events(decode_payload_binary(raw))
    plan = _plan(spark, reduced)
    assert _count(plan, "ArrowEvalPython") == 1
    assert _count(plan, "MapInPandas") == 0
    tree = spark._jvm.PythonSQLUtils.explainString(reduced._jdf.queryExecution(), "simple").splitlines()

    def depth(line):
        return len(line) - len(line.lstrip(" +-:"))

    (udf,) = [i for i, line in enumerate(tree) if "ArrowEvalPython" in line]
    filters = [i for i, line in enumerate(tree) if re.search(r"Filter .*op#\d+ IN \(i,u,d\)", line)]
    assert filters and all(i > udf and depth(tree[i]) > depth(tree[udf]) for i in filters)
