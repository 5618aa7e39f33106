"""Driver contract for the spark-graft builder (PySpark target).

CDC queries here exercise the REAL engine operators
(debezium_connector_cassandra_spark.*) over a mutation log derived
DETERMINISTICALLY from the driver's ``events`` parquet table: every derived
column uses arithmetic (affine hashes, modulo, epoch-micro extraction) that
Spark SQL and DuckDB compute bit-identically, so each engine query has an
independent pure-SQL oracle. Operator keys reference SURVEY.md §2 ids.

The final-state semantics under test (cell-level LWW, delete-wins-ties,
partition/range tombstones, sparse updates, liveness) mirror the reference
connector's capture semantics (see SURVEY §1/§2 citations in the operator
modules).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from debezium_connector_cassandra_spark.functions.decode import with_envelope
from debezium_connector_cassandra_spark.operators.dedup import dedup_events
from debezium_connector_cassandra_spark.operators.lww import (
    drop_invisible,
    finalize_state,
    reduce_events,
)
from debezium_connector_cassandra_spark.operators.tombstones import (
    extract_tombstones,
    tomb_wt_for_keys,
)

# ---------------------------------------------------------------------------
# Shared deterministic derivation: events -> mutation log.
# {WT}  = epoch-micros of ts      (dialect-specific)
# {STR} = string cast type name   (dialect-specific)
# Everything else is 64-bit integer arithmetic both engines evaluate
# identically (verified: affine-hash mod, exact integer division via
# (x - x%k)/k under 2^53, md5/concat/least).
# ---------------------------------------------------------------------------
_DERIVE = """
WITH ev AS (
  SELECT event_id, user_id, event_type, {WT} AS writetime,
         (event_id*1103515245+12345) % 97 AS h
  FROM events
),
m AS (
  SELECT
    event_id,
    CAST((event_id - (event_id % 1000)) / 1000 AS bigint) AS segment_id,
    CAST((event_id % 1000) * 16 AS bigint) AS position,
    CAST(CAST((event_id - (event_id % 1000)) / 1000 AS bigint) % 4 AS int) AS log_partition,
    CASE WHEN h < 60 THEN 'i' WHEN h < 78 THEN 'u' WHEN h < 85 THEN 'd'
         WHEN h < 90 THEN 'p' ELSE 'r' END AS op,
    concat('conv_', CAST(user_id % 120 AS {STR})) AS conv_id,
    CAST(event_id % 40 AS int) AS turn_idx,
    writetime,
    CASE CAST((event_id*7) % 4 AS int)
         WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
         WHEN 2 THEN 'tool' ELSE 'system' END AS role_val,
    concat('msg ', event_type, ' ', CAST(event_id AS {STR})) AS text_val,
    CASE WHEN (event_id*5) % 3 = 0
         THEN concat('tool_', CAST((event_id*11) % 8 AS {STR}))
         ELSE NULL END AS tool_val,
    writetime AS ts_us_val,
    CASE WHEN h < 60 THEN TRUE ELSE ((event_id*48271+11) % 7) < 3 END AS role_set,
    CASE WHEN h < 60 THEN TRUE ELSE ((event_id*69621+17) % 7) < 4 END AS text_set,
    CASE WHEN h < 60 THEN TRUE ELSE ((event_id*16807+23) % 7) < 2 END AS tool_set,
    CASE WHEN h < 60 THEN TRUE ELSE ((event_id*69621+17) % 7) < 4 END AS ts_us_set,
    CAST((event_id*31) % 40 AS int) AS r_lo,
    least(CAST((event_id*31) % 40 AS int) + CAST((event_id*17) % 8 AS int), 39) AS r_hi,
    ((event_id*13) % 2) = 0 AS lo_incl,
    ((event_id*19) % 2) = 0 AS hi_incl,
    CASE WHEN CAST((event_id - (event_id % 1000)) / 1000 AS bigint) >= 3
         THEN 2 ELSE 1 END AS schema_version
  FROM ev
)
"""

_SPARK = {"WT": "unix_micros(cast(ts as timestamp))", "STR": "string"}
_DUCK = {"WT": "epoch_us(ts)", "STR": "varchar"}


def _derive_sql(dialect: dict) -> str:
    return _DERIVE.format(**dialect)


# derived flat log, cached per (session, sf_dir): every CDC query projects
# from this base, so materializing it once cuts the per-query derivation cost
# for the driver's 15+ CDC correctness queries and the local test suite alike
_FLAT_CACHE: dict[tuple[int, str], DataFrame] = {}
# packed logged-batch relation, cached for the same reason (see
# cdc_batch_mutations: the pack is producer-side work, not the measured op)
_BATCHED_CACHE: dict[tuple[int, str], DataFrame] = {}
_STATEFUL_CACHE: dict[tuple, str] = {}


def _stateful_log_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Narrow derived-log parquet spooled once per (session, sf_dir) for the
    streaming-state queries: one file per segment (repartition on the
    partition column) with ascending per-segment mtimes so the file source
    delivers segments in creation order — the live-tail arrival pattern
    both stateful queries assume (see windowed.stamp_segment_order)."""
    key = (id(spark), sf_dir, "stateful_log")
    path = _STATEFUL_CACHE.get(key)
    if path is None:
        import tempfile

        from debezium_connector_cassandra_spark.streaming.stateful import (
            PROGRESS_INPUT_COLS,
        )
        from debezium_connector_cassandra_spark.streaming.windowed import (
            stamp_segment_order,
        )

        path = tempfile.mkdtemp(prefix="cdc_stateful_")
        (
            derived_log(spark, sf_dir)
            .select(*PROGRESS_INPUT_COLS)
            .repartition("segment_id")
            .write.partitionBy("segment_id")
            .parquet(f"{path}/log")
        )
        stamp_segment_order(f"{path}/log")
        _STATEFUL_CACHE[key] = path
    return path


def _dedup_stream_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Derived log (identity columns) with a deterministic ~20% REDELIVERED
    slice: primary segments stamped in creation order, each segment's
    redelivered rows appended as separate files stamped 1.5 segments later —
    the crashed-reader re-read pattern the streaming dedup exists for
    (windowed.stamp_redelivery). Same 20% slice rule as cdc_dedup_events
    (positions are multiples of 16, so pmod 160 < 32 keeps 2 of 10)."""
    key = (id(spark), sf_dir, "dedup_log")
    path = _STATEFUL_CACHE.get(key)
    if path is None:
        import tempfile

        from debezium_connector_cassandra_spark.streaming.windowed import (
            stamp_redelivery,
            stamp_segment_order,
        )

        path = tempfile.mkdtemp(prefix="cdc_sdedup_")
        cols = ["conv_id", "op", "turn_idx", "writetime", "segment_id", "position"]
        flat = derived_log(spark, sf_dir).select(*cols)
        (
            flat.repartition("segment_id")
            .write.partitionBy("segment_id")
            .parquet(f"{path}/log")
        )
        stamp_segment_order(f"{path}/log")
        dups = flat.where(F.pmod(F.col("position"), F.lit(160)) < 32)
        (
            dups.repartition("segment_id")
            .write.mode("append")
            .partitionBy("segment_id")
            .parquet(f"{path}/log")
        )
        stamp_redelivery(f"{path}/log")
        _STATEFUL_CACHE[key] = path
    return path


def _input_bytes(path: str) -> int:
    """Size of a parquet file or directory (driver-side, no Spark job)."""
    import os

    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _cache_partitions(spark: SparkSession, path: str, dense_keys: bool) -> int:
    """Partition count for a persisted input cache, adaptive in BOTH
    directions: floor-ed by core count (full parallelism for
    high-cardinality grains; parallelism/8 for the dense CDC key space,
    where each extra partition multiplies partial-aggregation output —
    see the repartition note in _flat_log) and raised by input size
    (~64 MB of source parquet per partition) so a larger driver-generated
    scale factor never concentrates into a handful of fat partitions."""
    par = spark.sparkContext.defaultParallelism
    by_cores = max(2, par // 8) if dense_keys else par
    by_bytes = _input_bytes(path) // (64 << 20)
    return max(by_cores, by_bytes)


def _flat_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (id(spark), sf_dir)
    cached = _FLAT_CACHE.get(key)
    if cached is not None:
        return cached
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("events")
    # events.parquet is a single file (one row group): without an explicit
    # repartition the persisted relation holds ONE partition and every scan
    # of it — the map side of every CDC query — runs single-threaded. The
    # round-robin repartition (deterministic: sort-before-repartition) is
    # paid once at build time. The count deliberately trades map parallelism
    # against partial-aggregation collapse: the CDC key space is small
    # relative to the log, so every extra map partition multiplies the
    # partially-aggregated rows entering each state query's exchange
    # (measured at 32 partitions: 32x shuffle rows, ~2x slower; at
    # parallelism/8 the map side still overlaps while partials stay
    # collapsed). Derived from the session's core count, never a constant.
    df = (
        spark.sql(_derive_sql(_SPARK) + "SELECT * FROM m")
        .repartition(_cache_partitions(spark, f"{sf_dir}/events.parquet", dense_keys=True))
        .persist()
    )
    _FLAT_CACHE[key] = df
    return df


def _cell_sql(val: str, set_col: str) -> str:
    """SQL for one cell struct (value, deletion_ts, set)."""
    return (
        f"named_struct('value', {val}, 'deletion_ts', CAST(NULL AS BIGINT), "
        f"'set', {set_col})"
    )


def derived_log(spark: SparkSession, sf_dir: str, include_meta: bool = False) -> DataFrame:
    """The typed mutation-log DataFrame the engine operators consume.

    The projection is one ``selectExpr`` over the cached flat log: building
    it column-object by column-object cost hundreds of py4j round trips
    per query construction (measured: ~290 ms per call, more than many
    queries' execution) — a single SQL-string projection is one round trip
    (~45 ms) with an identical analyzed schema and identical rows."""
    flat = _flat_log(spark, sf_dir)
    cell_fields = [
        ("role", _cell_sql("role_val", "role_set")),
        ("text", _cell_sql("text_val", "text_set")),
        ("tool", _cell_sql("tool_val", "tool_set")),
        ("ts_us", _cell_sql("ts_us_val", "ts_us_set")),
    ]
    if include_meta:
        # the schema-evolution column: only v2 events carry it
        cell_fields.append(
            (
                "meta",
                _cell_sql(
                    "concat('meta_', CAST(event_id AS STRING))",
                    "(schema_version >= 2) AND text_set",
                ),
            )
        )
    cells = ", ".join(f"'{n}', {s}" for n, s in cell_fields)
    return flat.selectExpr(
        "segment_id",
        "position",
        "log_partition",
        "op",
        "conv_id",
        "CASE WHEN op IN ('i','u','d') THEN turn_idx END AS turn_idx",
        "writetime",
        f"CASE WHEN op IN ('i','u') THEN named_struct({cells}) END AS cells",
        "CASE WHEN op = 'r' THEN named_struct('method', CASE WHEN lo_incl "
        "THEN 'INCL_START_BOUND' ELSE 'EXCL_START_BOUND' END, 'turn_idx', r_lo) "
        "END AS range_start",
        "CASE WHEN op = 'r' THEN named_struct('method', CASE WHEN hi_incl "
        "THEN 'INCL_END_BOUND' ELSE 'EXCL_END_BOUND' END, 'turn_idx', r_hi) "
        "END AS range_end",
        "CAST(schema_version AS INT) AS schema_version",
        "FALSE AS snapshot",
    )


def _state_pipeline(log: DataFrame, payload: list[str], ops: tuple[str, ...]) -> DataFrame:
    """One in-memory pass of the apply heart: reduce (row deletes folded
    into the key aggregation) + conv-grain tombstone joins + finalize
    (R6/D8/D9). Mirrors plans.apply.apply_batch without the lake."""
    from debezium_connector_cassandra_spark.operators.timetravel import (
        materialize_state,
    )

    return materialize_state(log, payload, ops)


# ---------------------------------------------------------------------------
# oracle SQL fragments (DuckDB dialect)
# ---------------------------------------------------------------------------

def _oracle_state_sql(
    ops: str,
    payload_cols: tuple[str, ...] = ("role", "text", "tool", "ts_us"),
    suffix: str = "",
    wt_cap: str | None = None,
    as_cte: str | None = None,
) -> str:
    """Final-state oracle: per-key max applicable tombstone writetime, then
    per-column latest surviving cell (ordered-aggregate formulation —
    deliberately different from the engine's struct-max).

    ``suffix`` renames the CTEs so two state fragments can coexist in one
    query; ``wt_cap`` (a SQL scalar expression) caps BOTH upserts and
    tombstones at ``writetime <= wt_cap`` (the time-travel oracle); with
    ``as_cte`` the final select is emitted as one more named CTE instead of
    the top-level statement."""
    col_map = {"role": "role", "text": "text", "tool": "tool", "ts_us": "ts_us", "meta": "meta"}
    sel = []
    anycell = []
    for c in payload_cols:
        sel.append(
            f"last(u.{c}_val ORDER BY u.writetime, u.segment_id, u.position)"
            f" FILTER (WHERE u.{c}_set AND u.writetime > coalesce(t.tomb_wt, -1)) AS {col_map[c]}"
        )
        anycell.append(f"bool_or(u.{c}_set AND u.writetime > coalesce(t.tomb_wt, -1))")
    d_pred = "(t.op = 'd' AND t.turn_idx = k.turn_idx)" if "d" in ops else "FALSE"
    p_pred = "(t.op = 'p')" if "p" in ops else "FALSE"
    r_pred = (
        "(t.op = 'r'"
        " AND (CASE WHEN t.lo_incl THEN k.turn_idx >= t.r_lo ELSE k.turn_idx > t.r_lo END)"
        " AND (CASE WHEN t.hi_incl THEN k.turn_idx <= t.r_hi ELSE k.turn_idx < t.r_hi END))"
        if "r" in ops
        else "FALSE"
    )
    op_list = ",".join(f"'{o}'" for o in ops)
    sfx = suffix
    ups_cap = f" AND writetime <= ({wt_cap})" if wt_cap else ""
    tomb_cap = f" AND t.writetime <= ({wt_cap})" if wt_cap else ""
    final_select = f"""SELECT conv_id, turn_idx, {", ".join(col_map[c] for c in payload_cols)}
FROM fin{sfx} WHERE live OR anycell"""
    if as_cte:
        tail = f",\n{as_cte} AS (\n{final_select}\n)"
    else:
        tail = f"\n{final_select}\n"
    return f"""
, ups{sfx} AS (SELECT * FROM m WHERE op IN ('i','u') AND op IN ({op_list}){ups_cap}),
keys{sfx} AS (SELECT DISTINCT conv_id, turn_idx FROM ups{sfx}),
tomb{sfx} AS (
  SELECT k.conv_id, k.turn_idx, max(t.writetime) AS tomb_wt
  FROM keys{sfx} k JOIN m t ON t.conv_id = k.conv_id
   AND t.op IN ({op_list})
   AND ({d_pred} OR {p_pred} OR {r_pred}){tomb_cap}
  GROUP BY 1, 2
),
fin{sfx} AS (
  SELECT u.conv_id, u.turn_idx,
    {", ".join(sel)},
    bool_or(u.op = 'i' AND u.writetime > coalesce(t.tomb_wt, -1)) AS live,
    ({" OR ".join(anycell)}) AS anycell
  FROM ups{sfx} u LEFT JOIN tomb{sfx} t USING (conv_id, turn_idx)
  GROUP BY 1, 2
){tail}"""


def _duck(body: str) -> str:
    return _derive_sql(_DUCK) + body


# ---------------------------------------------------------------------------
# the contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full CDC state materialization on sf0.001."""
    log = derived_log(spark, "/root/testdata/sf0.001")
    return _state_pipeline(log, ["role", "text", "tool", "ts_us"], ("i", "u", "d", "p", "r"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable] = {}

    # --- D3/D4/D11/D12/D13: decode / classify / envelope ------------------
    def cdc_decode_envelope(spark, sf_dir):
        log = derived_log(spark, sf_dir)
        env = with_envelope(log)
        return env.select(
            "segment_id",
            "position",
            "log_partition",
            "op",
            "envelope_op",
            "partition_type",
            "row_type",
            "conv_id",
            "turn_idx",
            "writetime",
            "ts_ms",
            F.col("source.file").alias("source_file"),
            F.col("source.pos").alias("source_pos"),
        )

    q["cdc_decode_envelope"] = cdc_decode_envelope

    def cdc_classify_counts(spark, sf_dir):
        log = derived_log(spark, sf_dir)
        env = with_envelope(log)
        return env.groupBy("partition_type", "row_type", "envelope_op").agg(
            F.count("*").alias("n")
        )

    q["cdc_classify_counts"] = cdc_classify_counts

    # --- D2: duplicate elimination ----------------------------------------
    def cdc_dedup_events(spark, sf_dir):
        log = derived_log(spark, sf_dir).where(F.col("op").isin("i", "u", "d"))
        # duplicate a deterministic ~20% slice (at-least-once delivery)
        dups = log.where(F.pmod(F.col("position"), F.lit(160)) < 32)
        noisy = log.unionByName(dups)
        clean = dedup_events(noisy)
        return clean.groupBy("segment_id").agg(F.count("*").alias("n"))

    q["cdc_dedup_events"] = cdc_dedup_events

    # --- R5: offsets checkpoint --------------------------------------------
    def cdc_offsets_checkpoint(spark, sf_dir):
        log = derived_log(spark, sf_dir)
        return (
            log.groupBy("log_partition")
            .agg(F.max(F.struct("segment_id", "position")).alias("w"))
            .select("log_partition", F.col("w.segment_id").alias("segment_id"), F.col("w.position").alias("position"))
        )

    q["cdc_offsets_checkpoint"] = cdc_offsets_checkpoint

    # --- R3/R7/R10: lineage + metrics grain --------------------------------
    def cdc_lineage_segments(spark, sf_dir):
        log = derived_log(spark, sf_dir)
        return log.groupBy("segment_id", "log_partition").agg(
            F.count("*").alias("n_events"),
            F.min("position").alias("min_pos"),
            F.max("position").alias("max_pos"),
        )

    q["cdc_lineage_segments"] = cdc_lineage_segments

    # --- R1: keyed routing --------------------------------------------------
    def cdc_routing_stats(spark, sf_dir):
        log = derived_log(spark, sf_dir)
        # PARTITION_VALUES routing mode: events shuffle on conv_id; the
        # observable contract is per-key colocation, checked as per-route
        # cardinalities
        routed = log.repartition(8, "conv_id")
        return routed.groupBy("log_partition").agg(
            F.count("*").alias("n_events"),
            F.countDistinct("conv_id").alias("n_convs"),
        )

    q["cdc_routing_stats"] = cdc_routing_stats

    # --- R6 core: LWW reductions at increasing op coverage ------------------
    payload = ["role", "text", "tool", "ts_us"]

    def _mk_state(ops: tuple[str, ...]):
        op_list = ", ".join(f"'{o}'" for o in ops)

        def f(spark, sf_dir):
            log = derived_log(spark, sf_dir).where(f"op IN ({op_list})")
            return _state_pipeline(log, payload, ops)

        return f

    q["cdc_lww_upserts"] = _mk_state(("i", "u"))
    q["cdc_row_deletes"] = _mk_state(("i", "u", "d"))
    q["cdc_partition_deletes"] = _mk_state(("i", "u", "d", "p"))
    q["cdc_range_tombstones"] = _mk_state(("i", "u", "r"))
    q["cdc_full_state"] = _mk_state(("i", "u", "d", "p", "r"))

    # --- time travel: replay the log only up to a writetime horizon ---------
    def cdc_state_asof(spark, sf_dir):
        # event-time fold => replaying the prefix writetime <= T reproduces
        # the state at instant T (RecordMaker.java:58-96 ts assignment).
        # Horizon = the 3/4 point of the writetime span, derived with exact
        # integer arithmetic so the DuckDB oracle lands on the same long.
        from debezium_connector_cassandra_spark.operators.timetravel import (
            state_asof,
            writetime_horizon_value,
        )

        log = derived_log(spark, sf_dir)
        # scalar horizon (one bounded 1-row aggregate at plan-build time):
        # a pushed-down literal filter instead of a 1-row broadcast join
        # replicated into every branch of the state plan
        return state_asof(log, writetime_horizon_value(log, 3, 4), payload)

    q["cdc_state_asof"] = cdc_state_asof

    # --- snapshot diff: derive the changelog between two states -------------
    def cdc_snapshot_diff(spark, sf_dir):
        # the inverse of apply: the minimal c/u/d stream transforming the
        # as-of-T state into the final state (DBLog-style incremental
        # snapshot window / Iceberg changelog-view semantics). One
        # full-outer SMJ on the key; diff rows carry the after-image.
        from debezium_connector_cassandra_spark.operators.timetravel import (
            snapshot_diff,
            state_asof,
            writetime_horizon_value,
        )

        log = derived_log(spark, sf_dir)
        before = state_asof(log, writetime_horizon_value(log, 3, 4), payload)
        after = _state_pipeline(log, payload, ("i", "u", "d", "p", "r"))
        return snapshot_diff(before, after, ["conv_id", "turn_idx"], payload)

    q["cdc_snapshot_diff"] = cdc_snapshot_diff

    # --- transcript assembly: state -> ordered per-conversation documents ---
    def cdc_transcript_assembly(spark, sf_dir):
        from debezium_connector_cassandra_spark.operators.transcript import (
            assemble_transcripts,
        )

        log = derived_log(spark, sf_dir)
        state = _state_pipeline(log, payload, ("i", "u", "d", "p", "r"))
        return assemble_transcripts(state)

    q["cdc_transcript_assembly"] = cdc_transcript_assembly

    # --- incremental view maintenance of the transcript export --------------
    def cdc_transcript_incremental(spark, sf_dir):
        # maintain the assembly across the as-of-T -> final change window:
        # recompute ONLY diff-touched conversations, carry the rest forward.
        # The oracle is the FULL assembly — incremental == full is the claim.
        # (This demo derives `before` from the log on the fly, so the 1-row
        # horizon broadcast replicates across branches; a real deployment
        # reads the previous snapshot + assembly from lake tables and the
        # plan collapses to diff + semi/anti joins + the touched recompute.)
        from debezium_connector_cassandra_spark.operators.timetravel import (
            snapshot_diff,
            state_asof,
            writetime_horizon_value,
        )
        from debezium_connector_cassandra_spark.operators.transcript import (
            assemble_transcripts,
            incremental_transcripts,
        )

        log = derived_log(spark, sf_dir)
        # before/after each feed TWO consumers (diff + assembly / diff +
        # touched-recompute): materialized once, as production reads them
        # from lake tables (see docstring note above)
        before = state_asof(log, writetime_horizon_value(log, 3, 4), payload).localCheckpoint()
        after = _state_pipeline(log, payload, ("i", "u", "d", "p", "r")).localCheckpoint()
        diff = snapshot_diff(before, after, ["conv_id", "turn_idx"], payload)
        return incremental_transcripts(assemble_transcripts(before), after, diff)

    q["cdc_transcript_incremental"] = cdc_transcript_incremental

    # --- as-of join: SCD-style event enrichment -----------------------------
    def cdc_asof_join(spark, sf_dir):
        # join each click/view event to the user's latest purchase AT event
        # time (inclusive): the temporal-join primitive a CDC consumer runs
        # to enrich change events with the dimension version current then.
        # One keyed window over the tagged union — no range join explosion.
        from debezium_connector_cassandra_spark.operators.asof import asof_join

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        left = ev.where(F.col("event_type").isin("click", "view")).select(
            "event_id", "user_id", "event_type", "ts"
        )
        right = ev.where(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
        )
        out = asof_join(
            left, right, on=["user_id"], ts_col="ts",
            right_cols=["purchase_value"], uid_col="event_id",
        )
        return out.select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            F.unix_micros(F.col("asof_ts").cast("timestamp")).alias("purchase_ts_us"),
            F.col("asof_purchase_value").alias("purchase_value"),
        )

    q["cdc_asof_join"] = cdc_asof_join

    # --- range join: events inside incident windows -------------------------
    def cdc_interval_join(spark, sf_dir):
        # pair every event with every 60s incident window (opened by each
        # error event) containing it — the interval-containment join,
        # decomposed into a bucketed EQUI-join (naive containment would be
        # a nested loop over events x incidents).
        from debezium_connector_cassandra_spark.operators.rangejoin import (
            interval_join,
        )

        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            "event_id",
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        )
        incidents = ev.where(F.col("event_type") == "error").select(
            F.col("event_id").alias("incident_id"),
            F.col("ts_us").alias("start_us"),
            (F.col("ts_us") + F.lit(60_000_000)).alias("end_us"),
        )
        out = interval_join(
            ev, incidents, "ts_us", "start_us", "end_us",
            bucket_width_us=60_000_000,
        )
        return out.select(
            "event_id",
            "incident_id",
            "event_type",
            (F.col("ts_us") - F.col("start_us")).alias("lag_us"),
        )

    q["cdc_interval_join"] = cdc_interval_join

    # --- logged-batch mutations: atomic multi-change records ----------------
    def cdc_batch_mutations(spark, sf_dir):
        # one Mutation = several row changes at ONE offset (handleMutation
        # iterates getPartitionUpdates under a shared OffsetPosition,
        # Cassandra4CommitLogReadHandlerImpl.java:255-272; BatchTest.java).
        # Pack the derived log into 4-change batches, explode through the
        # engine operator, materialize state — must equal the FLATTENED
        # replay (the cdc_full_state oracle) exactly.
        #
        # The PACKED log persists once per (session, sf_dir) — in production
        # the commit log arrives already packed; without the cache every
        # state-pipeline branch (reduce + each tombstone relation) would
        # re-execute the pack shuffle, which is producer-side work this
        # query exists to exclude (it measures explode + apply).
        from debezium_connector_cassandra_spark.functions.decode import (
            explode_batch_mutations,
        )
        from debezium_connector_cassandra_spark.sources.generator import (
            pack_batches,
        )

        key = (id(spark), sf_dir)
        batched = _BATCHED_CACHE.get(key)
        if batched is None:
            import tempfile

            log = derived_log(spark, sf_dir)
            # positions stride 16 in the derived log -> arithmetic batch key
            # (one keyed shuffle, no row_number window). Materialize as a
            # parquet fixture, NOT .persist(): Spark's in-memory columnar
            # cache of array<struct> batches scans SLOWER than a parquet
            # read of the same nested data (measured 4.9s vs 2.6s at sf0.1)
            path = tempfile.mkdtemp(prefix="cdc_packed_") + "/log"
            # a few files (deterministic round-robin): with the session's
            # scan-parallelism floor (session.py minPartitionNum) the
            # fixture reads back one split per file — same partial-agg
            # collapse tradeoff as the derived-log cache (see _flat_log)
            (
                pack_batches(log, group_size=4, position_stride=16)
                .repartition(_cache_partitions(spark, f"{sf_dir}/events.parquet", dense_keys=True))
                .write.parquet(path)
            )
            batched = spark.read.parquet(path)
            _BATCHED_CACHE[key] = batched
        return _state_pipeline(
            explode_batch_mutations(batched), payload, ("i", "u", "d", "p", "r")
        )

    q["cdc_batch_mutations"] = cdc_batch_mutations

    # --- D10: field exclude --------------------------------------------------
    def cdc_field_exclude(spark, sf_dir):
        log = derived_log(spark, sf_dir)
        env = with_envelope(log, excluded_fields=("tool",))
        return _state_pipeline(
            env.select(*[c for c in log.columns]), payload, ("i", "u", "d", "p", "r")
        )

    q["cdc_field_exclude"] = cdc_field_exclude

    # --- S6/S7: snapshot bootstrap + stream --------------------------------
    def cdc_snapshot_union(spark, sf_dir):
        from debezium_connector_cassandra_spark.sources.snapshot import (
            snapshot_to_mutations,
        )

        log = derived_log(spark, sf_dir)
        # "pre-existing table" = latest segment-0 INSERT per key
        seg0 = log.where("segment_id = 0 AND op = 'i'")
        src = (
            seg0.groupBy("conv_id", "turn_idx")
            .agg(F.expr(
                "max(named_struct('writetime', writetime, 'position', position, "
                "'cells', cells)) AS w"
            ))
            .selectExpr(
                "conv_id",
                "turn_idx",
                "w.cells.role.value AS role",
                "w.cells.text.value AS text",
                "w.cells.tool.value AS tool",
                "w.cells.ts_us.value AS ts_us",
            )
        )
        snap = snapshot_to_mutations(src, snapshot_writetime=0)
        stream = log.where("segment_id >= 1 AND op IN ('i','u')")
        return _state_pipeline(snap.unionByName(stream), payload, ("i", "u"))

    q["cdc_snapshot_union"] = cdc_snapshot_union

    # --- S7: snapshot table selection (anti-join) ---------------------------
    def cdc_snapshot_selection(spark, sf_dir):
        log = derived_log(spark, sf_dir)
        all_parts = log.select("log_partition").distinct()
        snapshotted = log.where(F.col("segment_id") < 2).select("log_partition").distinct()
        return all_parts.join(snapshotted, "log_partition", "left_anti").select(
            F.col("log_partition").alias("pending_partition")
        )

    q["cdc_snapshot_selection"] = cdc_snapshot_selection

    # --- R10: snapshot-metrics gauges as a relation -------------------------
    # The REAL SnapshotMetrics lifecycle (sources/snapshot.py:90-158, the
    # CassandraSnapshotMetrics.java:26-110 gauge set) driven over the derived
    # log — one "table" per log partition, rowsScanned = its event count —
    # then the deterministic gauge values (counts, completion flags; NOT the
    # wall-clock duration) emitted as one row per table so DuckDB can
    # recompute them relationally.
    def cdc_snapshot_metrics(spark, sf_dir):
        from debezium_connector_cassandra_spark.sources.snapshot import (
            SnapshotMetrics,
        )

        flat = _flat_log(spark, sf_dir)
        counts = {
            r["log_partition"]: r["n"]
            for r in flat.groupBy("log_partition").agg(F.count("*").alias("n")).collect()
        }
        m = SnapshotMetrics()
        m.set_table_count(len(counts))
        m.start_snapshot()
        for lp in sorted(counts):
            m.set_rows_scanned(f"ks.t{lp}", counts[lp])
            m.complete_table()
        m.stop_snapshot()
        g = m.gauges()
        rows = [
            (
                t,
                int(n),
                int(g["total_table_count"]),
                int(g["remaining_table_count"]),
                bool(g["snapshot_completed"]),
                bool(g["snapshot_running"]),
            )
            for t, n in sorted(g["rows_scanned"].items())
        ]
        return spark.createDataFrame(
            rows,
            "table_name string, rows_scanned long, total_tables int, "
            "remaining_tables int, completed boolean, running boolean",
        )

    q["cdc_snapshot_metrics"] = cdc_snapshot_metrics

    # --- R10: streaming-metrics gauges as a relation ------------------------
    # The per-partition gauge VALUES of CassandraStreamingMetrics.java:19-73
    # (commit-log filename + position watermark, processed count) computed
    # relationally over the derived log — the same numbers
    # CdcRunner.streaming_metrics() reports from its bookkeeping after a
    # full drain, here as a deterministic one-row-per-partition relation.
    def cdc_streaming_metrics(spark, sf_dir):
        flat = _flat_log(spark, sf_dir)
        return (
            flat.groupBy("log_partition")
            .agg(
                F.max(F.struct("segment_id", "position")).alias("w"),
                F.count("*").alias("n_processed"),
            )
            .select(
                "log_partition",
                F.concat(
                    F.lit("CommitLog-7-"),
                    F.col("w.segment_id").cast("string"),
                    F.lit(".log"),
                ).alias("commit_log_filename"),
                F.col("w.position").alias("commit_log_position"),
                "n_processed",
            )
        )

    q["cdc_streaming_metrics"] = cdc_streaming_metrics

    # --- custom stateful streaming: applyInPandasWithState ------------------
    def cdc_conv_progress(spark, sf_dir):
        # Engine-side keyed state (NOT a batch aggregate): the derived log
        # is spooled to a segment-partitioned parquet fixture, then drained
        # through the applyInPandasWithState per-conversation progress
        # operator in several micro-batches (maxFilesPerTrigger) — running
        # totals accumulate in the state store across batches and the final
        # emission per conversation is returned. The oracle is the same
        # relation as one SQL groupBy over the full log, which is exactly
        # the cumulative-emission contract being verified.
        from debezium_connector_cassandra_spark.streaming.stateful import (
            drain_conversation_progress,
        )

        import tempfile

        path = _stateful_log_fixture(spark, sf_dir)
        # fresh work dir per drain: re-using a checkpoint dir races with the
        # state-store maintenance thread still snapshotting the previous
        # query's state (observed FileAlreadyExistsException WARNs)
        wd = tempfile.mkdtemp(prefix="run_", dir=path)
        return drain_conversation_progress(
            spark, f"{path}/log", wd, max_files_per_trigger=4
        )

    q["cdc_conv_progress"] = cdc_conv_progress

    # --- watermarked event-time windowed aggregation -------------------------
    def cdc_change_rate(spark, sf_dir):
        # Change events per event-time day per mutation class through the
        # streaming windowed groupBy + watermark, drained over in-order
        # segment delivery (stamp_segment_order) in several micro-batches.
        # Update-mode cumulative emission -> final counts equal one batch
        # groupBy, which is the oracle; the watermark covers the producer's
        # bounded writetime inversion so nothing is dropped as late.
        from debezium_connector_cassandra_spark.streaming.windowed import (
            drain_change_rate,
        )

        import tempfile

        path = _stateful_log_fixture(spark, sf_dir)
        wd = tempfile.mkdtemp(prefix="run_", dir=path)  # fresh per drain (see above)
        return drain_change_rate(
            spark,
            f"{path}/log",
            wd,
            window_duration="1 day",
            watermark_delay="1 hour",
            max_files_per_trigger=2,
        )

    q["cdc_change_rate"] = cdc_change_rate

    # --- session windows: conversation sessionization ------------------------
    def cdc_conv_sessions(spark, sf_dir):
        # inactivity-gap sessionization with F.session_window (merging
        # windows, partial-merged map-side — no per-conv sort); the oracle
        # is the lag()-based gaps-and-islands formulation the operator
        # deliberately avoids at scale. Tie rule pinned in
        # test_windowed.py: a gap-exact successor stays IN the session
        # (break only when diff > gap).
        from debezium_connector_cassandra_spark.streaming.windowed import (
            conversation_sessions,
        )

        return conversation_sessions(derived_log(spark, sf_dir), gap="6 hours")

    q["cdc_conv_sessions"] = cdc_conv_sessions

    # --- D2 on the streaming front-end: dropDuplicatesWithinWatermark -------
    def cdc_stream_dedup(spark, sf_dir):
        # At-least-once REDELIVERY across micro-batches: ~20% of each
        # segment is re-shipped 1.5 segments later (fixture), where a
        # per-batch distinct cannot see it. Streaming identity state (or
        # the late gate, for redeliveries already below the watermark —
        # delay-independent, see stream_dedup.py) collapses it; the oracle
        # is the plain per-segment aggregate over the duplicate-free log.
        from debezium_connector_cassandra_spark.streaming.stream_dedup import (
            drain_dedup_stream,
        )

        import tempfile

        path = _dedup_stream_fixture(spark, sf_dir)
        wd = tempfile.mkdtemp(prefix="run_", dir=path)
        clean = drain_dedup_stream(
            spark, f"{path}/log", wd, watermark_delay="3 days",
            max_files_per_trigger=4,
        )
        return (
            clean.groupBy(F.col("segment_id").cast("long").alias("segment_id"))
            .agg(
                F.count("*").alias("n"),
                F.count_distinct("conv_id").alias("n_convs"),
                F.sum("turn_idx").alias("sum_turns"),
                F.max("writetime").alias("max_wt"),
            )
        )

    q["cdc_stream_dedup"] = cdc_stream_dedup

    # --- R9: schema evolution (v2 adds 'meta') ------------------------------
    def cdc_schema_evolution(spark, sf_dir):
        log = derived_log(spark, sf_dir, include_meta=True).where(F.col("op").isin("i", "u"))
        return _state_pipeline(log, payload + ["meta"], ("i", "u"))

    q["cdc_schema_evolution"] = cdc_schema_evolution

    # --- multi-table / multi-keyspace capture (KeyspaceTable + SchemaHolder;
    # reference MultipleTablesProcessingTest.java:27-106): one log interleaves
    # two tables with DIFFERENT payload schemas; each is routed, decoded with
    # its own cells schema (from_json via decode_payload_jvm) and reduced in
    # isolation — tombstones of one table never affect the other.
    def cdc_multi_table(spark, sf_dir):
        from pyspark.sql import types as T

        from debezium_connector_cassandra_spark.model import TableSpec
        from debezium_connector_cassandra_spark.functions.decode import (
            decode_payload_jvm,
        )

        flat = _flat_log(spark, sf_dir).withColumn(
            "tbl", F.expr("cast((event_id*23) % 2 as int)")
        )
        payload2 = (("a", T.StringType()), ("b", T.StringType()))
        specs = [
            TableSpec(keyspace="ks1", table="transcripts", payload=payload2),
            TableSpec(keyspace="ks2", table="events", payload=payload2),
        ]
        # per-table cell sources: t0 = (role, text), t1 = (tool, ts-as-string)
        cell_srcs = [
            (("role_val", "role_set"), ("text_val", "text_set")),
            (("tool_val", "tool_set"), ("ts_us_str", "ts_us_set")),
        ]
        flat = flat.withColumn("ts_us_str", F.col("ts_us_val").cast("string"))
        is_up = F.col("op").isin("i", "u")
        is_r = F.col("op") == "r"
        bound = lambda m, t: F.struct(m.alias("method"), t.alias("turn_idx"))  # noqa: E731
        outs = []
        for i, spec in enumerate(specs):
            (a_val, a_set), (b_val, b_set) = cell_srcs[i]

            def cell(v, s):
                return F.struct(
                    F.when(F.col(s), F.col(v)).alias("value"),
                    F.lit(None).cast("long").alias("deletion_ts"),
                    F.col(s).alias("set"),
                )

            cells = F.when(
                is_up, F.struct(cell(a_val, a_set).alias("a"), cell(b_val, b_set).alias("b"))
            )
            log = flat.where(F.col("tbl") == i).select(
                "segment_id",
                "position",
                "log_partition",
                F.lit(spec.keyspace).alias("keyspace"),
                F.lit(spec.table).alias("table"),
                "op",
                "conv_id",
                F.when(F.col("op").isin("i", "u", "d"), F.col("turn_idx")).alias("turn_idx"),
                "writetime",
                F.when(is_up, F.encode(F.to_json(cells), "utf-8")).alias("payload"),
                F.when(
                    is_r,
                    bound(
                        F.when(F.col("lo_incl"), F.lit("INCL_START_BOUND")).otherwise(
                            F.lit("EXCL_START_BOUND")
                        ),
                        F.col("r_lo"),
                    ),
                ).alias("range_start"),
                F.when(
                    is_r,
                    bound(
                        F.when(F.col("hi_incl"), F.lit("INCL_END_BOUND")).otherwise(
                            F.lit("EXCL_END_BOUND")
                        ),
                        F.col("r_hi"),
                    ),
                ).alias("range_end"),
                F.lit(1).alias("schema_version"),
                F.lit(False).alias("snapshot"),
            )
            dec = decode_payload_jvm(log, spec)
            st = _state_pipeline(dec, ["a", "b"], ("i", "u", "d", "p", "r"))
            outs.append(st.select(F.lit(spec.fqtn).alias("fqtn"), "conv_id", "turn_idx", "a", "b"))
        return outs[0].unionByName(outs[1])

    q["cdc_multi_table"] = cdc_multi_table

    # --- R4 export half: change-envelope sink rows (RecordMaker.java:58-96)
    # one envelope per mutation + a null-valued tombstone record per row/
    # partition delete (tombstones.on.delete, RecordMaker.java:84-95)
    def cdc_changes_export(spark, sf_dir):
        from debezium_connector_cassandra_spark.lake.changes import envelope_rows

        log = derived_log(spark, sf_dir)
        env = envelope_rows(log, tombstones_on_delete=True)
        return env.select(
            "segment_id",
            "position",
            "log_partition",
            "ts_ms",
            "envelope_op",
            "conv_id",
            "turn_idx",
            F.col("after.text.value").alias("after_text"),
            "is_tombstone_record",
        )

    q["cdc_changes_export"] = cdc_changes_export

    # --- tracing SPI analog: per-event span relation -----------------------
    def cdc_trace_spans(spark, sf_dir):
        # two deterministic spans per emitted record (TracingEmitter /
        # TracingUtils.traceEmit: backdated db-log-write + debezium-read
        # child carrying the CDC lag); fixed read timestamp so the relation
        # is reproducible
        from debezium_connector_cassandra_spark.lake.changes import envelope_rows
        from debezium_connector_cassandra_spark.operators.tracing import (
            trace_spans,
        )

        log = derived_log(spark, sf_dir)
        env = envelope_rows(log, tombstones_on_delete=True)
        return trace_spans(env, read_ts_ms=1_700_000_000_000)

    q["cdc_trace_spans"] = cdc_trace_spans

    # --- D9 full form: unpaired bound markers paired in log order, then the
    # full state build — must equal the paired-log full state exactly
    # (RangeTombstoneContext.java:20-40 semantics)
    def cdc_unpaired_markers(spark, sf_dir):
        from debezium_connector_cassandra_spark.operators.tombstones import (
            pair_range_markers,
        )
        from debezium_connector_cassandra_spark.sources.generator import (
            split_range_markers,
        )

        log = derived_log(spark, sf_dir)
        paired = pair_range_markers(split_range_markers(log))
        return _state_pipeline(paired, payload, ("i", "u", "d", "p", "r"))

    q["cdc_unpaired_markers"] = cdc_unpaired_markers

    # --- type-system breadth through the FULL state build: an array<string>
    # cell and a tuple/UDT (struct) cell ride the LWW reduction, tombstone
    # interplay, and finalize; the result is stringified only at the end so
    # the DuckDB oracle (which computes the strings directly) can hash-match.
    def cdc_collections(spark, sf_dir):
        flat = _flat_log(spark, sf_dir)
        is_up = F.col("op").isin("i", "u")
        is_r = F.col("op") == "r"
        tags_arr = F.array(
            F.concat(F.lit("tA_"), F.expr("cast((event_id*37)%50 as string)")),
            F.concat(F.lit("tB_"), F.expr("cast((event_id*41)%50 as string)")),
        )
        pair_struct = F.struct(
            F.expr("cast((event_id*43)%100 as int)").alias("_0"),
            F.concat(F.lit("p_"), F.expr("cast((event_id*47)%30 as string)")).alias("_1"),
        )

        def cell(val, set_col, dtype_null):
            return F.struct(
                F.when(set_col, val).otherwise(dtype_null).alias("value"),
                F.lit(None).cast("long").alias("deletion_ts"),
                set_col.alias("set"),
            )

        cells = F.when(
            is_up,
            F.struct(
                cell(tags_arr, F.col("text_set"), F.lit(None).cast("array<string>")).alias("tags"),
                cell(pair_struct, F.col("role_set"), F.lit(None).cast("struct<_0:int,_1:string>")).alias("pair"),
            ),
        )
        bound = lambda m, t: F.struct(m.alias("method"), t.alias("turn_idx"))  # noqa: E731
        log = flat.select(
            "segment_id",
            "position",
            "log_partition",
            "op",
            "conv_id",
            F.when(F.col("op").isin("i", "u", "d"), F.col("turn_idx")).alias("turn_idx"),
            "writetime",
            cells.alias("cells"),
            F.when(
                is_r,
                bound(
                    F.when(F.col("lo_incl"), F.lit("INCL_START_BOUND")).otherwise(F.lit("EXCL_START_BOUND")),
                    F.col("r_lo"),
                ),
            ).alias("range_start"),
            F.when(
                is_r,
                bound(
                    F.when(F.col("hi_incl"), F.lit("INCL_END_BOUND")).otherwise(F.lit("EXCL_END_BOUND")),
                    F.col("r_hi"),
                ),
            ).alias("range_end"),
            F.lit(1).alias("schema_version"),
            F.lit(False).alias("snapshot"),
        )
        st = _state_pipeline(log, ["tags", "pair"], ("i", "u", "d", "p", "r"))
        return st.select(
            "conv_id",
            "turn_idx",
            F.array_join(F.col("tags"), ",").alias("tags_s"),
            F.when(
                F.col("pair").isNotNull(),
                F.concat(F.col("pair._0").cast("string"), F.lit(":"), F.col("pair._1")),
            ).alias("pair_s"),
        )

    q["cdc_collections"] = cdc_collections

    # --- R1 both routing modes: PARTITION_VALUES and COMMITLOG_FILE queue
    # assignment (getPartitionQueueIndex,
    # Cassandra4CommitLogReadHandlerImpl.java:672-685; config
    # CassandraConnectorConfig.java:246-288) — per-queue occupancy is the
    # observable routing contract.
    def cdc_routing_modes(spark, sf_dir):
        from debezium_connector_cassandra_spark.operators.routing import (
            COMMITLOG_FILE,
            PARTITION_VALUES,
            routing_stats,
        )

        log = derived_log(spark, sf_dir)
        out = None
        for mode in (PARTITION_VALUES, COMMITLOG_FILE):
            st = routing_stats(log, mode=mode, n_queues=8).select(
                F.lit(mode).alias("mode"), "queue", "n_events", "n_keys", "n_segments"
            )
            out = st if out is None else out.unionByName(st)
        return out

    q["cdc_routing_modes"] = cdc_routing_modes

    # --- D3 full form: unsupported partition types (COUNTER /
    # MATERIALIZED_VIEW / SECONDARY_INDEX) are classified, counted, and
    # skipped (PartitionType.getPartitionType:137-156, validity :158-168,
    # handler guard Cassandra4CommitLogReadHandlerImpl.java:102-168).
    def cdc_unsupported_counts(spark, sf_dir):
        from debezium_connector_cassandra_spark.functions.decode import (
            split_unsupported,
        )
        from debezium_connector_cassandra_spark.sources.generator import (
            tag_table_kinds,
        )

        log = tag_table_kinds(derived_log(spark, sf_dir))
        supported, skipped = split_unsupported(log)
        sup_row = supported.agg(F.count("*").alias("n")).select(
            F.lit("SUPPORTED").alias("partition_type"), "n"
        )
        return skipped.select(
            "partition_type", F.col("n_skipped").alias("n")
        ).unionByName(sup_row)

    q["cdc_unsupported_counts"] = cdc_unsupported_counts

    def cdc_unsupported_state(spark, sf_dir):
        # state built through the classify-and-skip path must equal the
        # state over supported mutations only (skipped kinds leave no trace)
        from debezium_connector_cassandra_spark.functions.decode import (
            split_unsupported,
        )
        from debezium_connector_cassandra_spark.sources.generator import (
            tag_table_kinds,
        )

        log = tag_table_kinds(derived_log(spark, sf_dir))
        supported, _ = split_unsupported(log)
        return _state_pipeline(
            supported.drop("table_kind"), payload, ("i", "u", "d", "p", "r")
        )

    q["cdc_unsupported_state"] = cdc_unsupported_state

    # --- type-system depth through the FULL state build: a decimal cell
    # (decimal.handling.mode surface, functions/types.py:93-104; reference
    # DecimalTypeDeserializer.java:42-66) and a map cell (the non-orderable
    # max_by LWW path, operators/lww.py:78-100) ride reduce + tombstones +
    # finalize; outputs mirror the three handling modes (double / string /
    # precise-unscaled) so DuckDB can hash-match each.
    def cdc_types_deep(spark, sf_dir):
        flat = _flat_log(spark, sf_dir)
        is_up = F.col("op").isin("i", "u")
        is_r = F.col("op") == "r"
        DS = "(event_id*7919) % 1000000"
        dec_str = F.expr(
            f"concat(cast(cast((({DS}) - ({DS}) % 10000)/10000 as bigint) as string),"
            f" '.', lpad(cast(({DS}) % 10000 as string), 4, '0'))"
        )
        dec = dec_str.cast("decimal(18,4)")
        attrs = F.create_map(
            F.lit("k1"), F.expr("cast((event_id*13)%1000 as int)"),
            F.lit("k2"), F.expr("cast((event_id*29)%1000 as int)"),
        )

        def cell(val, set_col, null_val):
            return F.struct(
                F.when(set_col, val).otherwise(null_val).alias("value"),
                F.lit(None).cast("long").alias("deletion_ts"),
                set_col.alias("set"),
            )

        cells = F.when(
            is_up,
            F.struct(
                cell(dec, F.col("text_set"), F.lit(None).cast("decimal(18,4)")).alias("dec"),
                cell(attrs, F.col("role_set"), F.lit(None).cast("map<string,int>")).alias("attrs"),
            ),
        )
        bound = lambda m, t: F.struct(m.alias("method"), t.alias("turn_idx"))  # noqa: E731
        log = flat.select(
            "segment_id",
            "position",
            "log_partition",
            "op",
            "conv_id",
            F.when(F.col("op").isin("i", "u", "d"), F.col("turn_idx")).alias("turn_idx"),
            "writetime",
            cells.alias("cells"),
            F.when(
                is_r,
                bound(
                    F.when(F.col("lo_incl"), F.lit("INCL_START_BOUND")).otherwise(F.lit("EXCL_START_BOUND")),
                    F.col("r_lo"),
                ),
            ).alias("range_start"),
            F.when(
                is_r,
                bound(
                    F.when(F.col("hi_incl"), F.lit("INCL_END_BOUND")).otherwise(F.lit("EXCL_END_BOUND")),
                    F.col("r_hi"),
                ),
            ).alias("range_end"),
            F.lit(1).alias("schema_version"),
            F.lit(False).alias("snapshot"),
        )
        st = _state_pipeline(log, ["dec", "attrs"], ("i", "u", "d", "p", "r"))
        return st.select(
            "conv_id",
            "turn_idx",
            F.col("dec").cast("double").alias("dec_double"),
            F.col("dec").cast("string").alias("dec_string"),
            (F.col("dec") * 10000).cast("long").alias("dec_unscaled"),
            F.when(
                F.col("attrs").isNotNull(),
                F.concat(
                    F.lit("k1="), F.col("attrs")["k1"].cast("string"),
                    F.lit(",k2="), F.col("attrs")["k2"].cast("string"),
                ),
            ).alias("attrs_s"),
        )

    q["cdc_types_deep"] = cdc_types_deep

    # --- varint.handling.mode through full state --------------------------
    # The three reference modes (VarIntTypeDeserializer.java:38-63, config
    # CassandraConnectorConfig.java:164-238): PRECISE -> decimal(38,0),
    # LONG -> int64, STRING -> string — each as ITS OWN typed cell riding
    # reduce + tombstones + finalize, types derived from the TypeMapper
    # registry (functions/types.py). PRECISE and STRING render to the same
    # digit string (BigDecimal(bigint) vs bigint.toString()) — the point is
    # the TYPE each mode carries through the state machinery; LONG uses a
    # long-safe value (Java's longValue() wrap for >63-bit varints has no
    # SQL analog — declared boundary).
    def cdc_types_varint(spark, sf_dir):
        from debezium_connector_cassandra_spark.functions.types import (
            TypeMapper,
            VarintMode,
        )

        t_p = TypeMapper(varint_mode=VarintMode.PRECISE).spark_type("varint")
        t_l = TypeMapper(varint_mode=VarintMode.LONG).spark_type("varint")
        t_s = TypeMapper(varint_mode=VarintMode.STRING).spark_type("varint")

        flat = _flat_log(spark, sf_dir)
        is_up = F.col("op").isin("i", "u")
        is_r = F.col("op") == "r"
        # 27-digit big integer (beyond int64) from three 9-digit blocks;
        # leading block in [1e8, 1e9) so the digit count is stable
        big_str = F.expr(
            "concat(cast((event_id*31+7) % 900000000 + 100000000 as string),"
            " lpad(cast((event_id*17+3) % 1000000000 as string), 9, '0'),"
            " lpad(cast((event_id*13+5) % 1000000000 as string), 9, '0'))"
        )
        small = F.expr("(event_id*7919+11) % 1000000000000")

        def cell(val, set_col, dtype):
            return F.struct(
                F.when(set_col, val.cast(dtype)).otherwise(F.lit(None).cast(dtype)).alias("value"),
                F.lit(None).cast("long").alias("deletion_ts"),
                set_col.alias("set"),
            )

        cells = F.when(
            is_up,
            F.struct(
                cell(big_str, F.col("text_set"), t_p).alias("vi_p"),
                cell(small, F.col("role_set"), t_l).alias("vi_l"),
                cell(big_str, F.col("text_set"), t_s).alias("vi_s"),
            ),
        )
        bound = lambda m, t: F.struct(m.alias("method"), t.alias("turn_idx"))  # noqa: E731
        log = flat.select(
            "segment_id",
            "position",
            "log_partition",
            "op",
            "conv_id",
            F.when(F.col("op").isin("i", "u", "d"), F.col("turn_idx")).alias("turn_idx"),
            "writetime",
            cells.alias("cells"),
            F.when(
                is_r,
                bound(
                    F.when(F.col("lo_incl"), F.lit("INCL_START_BOUND")).otherwise(F.lit("EXCL_START_BOUND")),
                    F.col("r_lo"),
                ),
            ).alias("range_start"),
            F.when(
                is_r,
                bound(
                    F.when(F.col("hi_incl"), F.lit("INCL_END_BOUND")).otherwise(F.lit("EXCL_END_BOUND")),
                    F.col("r_hi"),
                ),
            ).alias("range_end"),
            F.lit(1).alias("schema_version"),
            F.lit(False).alias("snapshot"),
        )
        st = _state_pipeline(log, ["vi_p", "vi_l", "vi_s"], ("i", "u", "d", "p", "r"))
        return st.select(
            "conv_id",
            "turn_idx",
            F.col("vi_p").cast("string").alias("vi_precise"),
            F.col("vi_l").cast("long").alias("vi_long"),
            F.col("vi_s").alias("vi_string"),
        )

    q["cdc_types_varint"] = cdc_types_varint

    # --- scalar type breadth through full state ---------------------------
    # uuid/timeuuid, date, time (int64 nanos-of-day), inet, duration
    # (months/days/nanos triple) and blob cells ride the LWW reduction +
    # tombstone interplay + finalize — mirroring the reference round-trip
    # suite's scalar coverage (cassandra-4/src/test/.../
    # CassandraTypeDeserializerTest.java:75-160: uuid/timeuuid/date/time/
    # inet/duration/blob deserializers) the way cdc_types_varint mirrors the
    # varint modes. Every cell carries its TypeMapper-mapped Spark type
    # (functions/types.py:59-105) and stringifies at the end for the DuckDB
    # hash match; blob stays BinaryType through the reduction and hex-renders
    # only in the final projection.
    def cdc_types_scalar(spark, sf_dir):
        from debezium_connector_cassandra_spark.functions.types import TypeMapper

        tm = TypeMapper()
        types = {n: tm.spark_type(n).simpleString() for n in (
            "uuid", "timeuuid", "date", "time", "inet", "duration", "blob")}

        # whole projection as ONE selectExpr (see derived_log: the Column-
        # object build of these 7 cells cost ~1s of py4j round trips per
        # query construction)
        H = "md5(CAST(event_id AS STRING))"
        TH = "md5(concat('t', CAST(event_id AS STRING)))"

        def uuid_fmt(src, version):
            return (
                f"concat(substr({src},1,8),'-',substr({src},9,4),'-{version}',"
                f"substr({src},14,3),'-',substr({src},17,4),'-',substr({src},21,12))"
            )

        vals = {
            "uid": (uuid_fmt(H, "4"), "text_set", types["uuid"]),
            "tuid": (uuid_fmt(TH, "1"), "text_set", types["timeuuid"]),
            "d": ("date_add(to_date('2020-01-01'), cast((event_id*3) % 3650 as int))",
                  "role_set", types["date"]),
            "tod": ("((event_id*48271+7) % 86400) * 1000000000 + (event_id*13) % 1000000000",
                    "tool_set", types["time"]),
            "addr": ("concat('10.', cast(cast((event_id - event_id % 65536)/65536 as bigint) % 256 as string),"
                     " '.', cast(cast((event_id - event_id % 256)/256 as bigint) % 256 as string),"
                     " '.', cast(event_id % 256 as string))", "text_set", types["inet"]),
            "dur": ("named_struct('months', cast((event_id*5) % 24 as int),"
                    " 'days', cast((event_id*7) % 31 as int),"
                    " 'nanos', (event_id*2654435761) % 86400000000000)",
                    "role_set", types["duration"]),
            "bin": ("unhex(md5(concat('b', CAST(event_id AS STRING))))",
                    "tool_set", types["blob"]),
        }
        cells = ", ".join(
            f"'{n}', named_struct('value', CASE WHEN {set_c} THEN CAST(({v}) AS {t}) "
            f"ELSE CAST(NULL AS {t}) END, 'deletion_ts', CAST(NULL AS BIGINT), "
            f"'set', {set_c})"
            for n, (v, set_c, t) in vals.items()
        )
        log = _flat_log(spark, sf_dir).selectExpr(
            "segment_id",
            "position",
            "log_partition",
            "op",
            "conv_id",
            "CASE WHEN op IN ('i','u','d') THEN turn_idx END AS turn_idx",
            "writetime",
            f"CASE WHEN op IN ('i','u') THEN named_struct({cells}) END AS cells",
            "CASE WHEN op = 'r' THEN named_struct('method', CASE WHEN lo_incl "
            "THEN 'INCL_START_BOUND' ELSE 'EXCL_START_BOUND' END, 'turn_idx', r_lo) "
            "END AS range_start",
            "CASE WHEN op = 'r' THEN named_struct('method', CASE WHEN hi_incl "
            "THEN 'INCL_END_BOUND' ELSE 'EXCL_END_BOUND' END, 'turn_idx', r_hi) "
            "END AS range_end",
            "CAST(1 AS INT) AS schema_version",
            "FALSE AS snapshot",
        )
        st = _state_pipeline(
            log, ["uid", "tuid", "d", "tod", "addr", "dur", "bin"], ("i", "u", "d", "p", "r")
        )
        return st.selectExpr(
            "conv_id",
            "turn_idx",
            "uid AS uuid_s",
            "tuid AS timeuuid_s",
            "CAST(d AS STRING) AS date_s",
            "tod AS time_ns",
            "addr AS inet_s",
            "CASE WHEN dur IS NOT NULL THEN concat('P', CAST(dur.months AS STRING), "
            "'M', CAST(dur.days AS STRING), 'DT', CAST(dur.nanos AS STRING), 'N') "
            "END AS duration_s",
            "hex(bin) AS blob_hex",
        )

    q["cdc_types_scalar"] = cdc_types_scalar

    # --- D7 expiring cells (TTL) through the streamed log path -------------
    # deletion_ts = writetime + ttl (populateRegularColumns:575-588 — the
    # streamed twin of the snapshot TTL math calculateDeletionTs:342-344);
    # state materialized AS OF the log's max writetime: cells past their
    # horizon hold neither value nor row visibility, so rows whose only
    # content expired VANISH exactly past the horizon.
    def cdc_ttl_expiry(spark, sf_dir):
        flat = _flat_log(spark, sf_dir)
        is_up = F.col("op").isin("i", "u")
        is_r = F.col("op") == "r"
        ttl_us = F.expr("((event_id*47) % 60) * 86400000000")  # 0..59 days
        has_ttl = F.expr("(event_id*43) % 3 = 0")
        text_del = F.when(
            has_ttl & F.col("text_set"), F.col("writetime") + ttl_us
        ).otherwise(F.lit(None).cast("long"))

        cells = F.when(
            is_up,
            F.struct(
                F.struct(
                    F.when(F.col("role_set"), F.col("role_val")).alias("value"),
                    F.lit(None).cast("long").alias("deletion_ts"),
                    F.col("role_set").alias("set"),
                ).alias("role"),
                F.struct(
                    # an expiring cell carries its LIVE value + future horizon
                    F.when(F.col("text_set"), F.col("text_val")).alias("value"),
                    text_del.alias("deletion_ts"),
                    F.col("text_set").alias("set"),
                ).alias("text"),
            ),
        )
        bound = lambda m, t: F.struct(m.alias("method"), t.alias("turn_idx"))  # noqa: E731
        log = flat.select(
            "segment_id",
            "position",
            "log_partition",
            "op",
            "conv_id",
            F.when(F.col("op").isin("i", "u", "d"), F.col("turn_idx")).alias("turn_idx"),
            "writetime",
            cells.alias("cells"),
            F.when(
                is_r,
                bound(
                    F.when(F.col("lo_incl"), F.lit("INCL_START_BOUND")).otherwise(F.lit("EXCL_START_BOUND")),
                    F.col("r_lo"),
                ),
            ).alias("range_start"),
            F.when(
                is_r,
                bound(
                    F.when(F.col("hi_incl"), F.lit("INCL_END_BOUND")).otherwise(F.lit("EXCL_END_BOUND")),
                    F.col("r_hi"),
                ),
            ).alias("range_end"),
            F.lit(1).alias("schema_version"),
            F.lit(False).alias("snapshot"),
        )
        as_of = flat.agg(F.max("writetime")).collect()[0][0]
        tombs = extract_tombstones(log)
        tombs.row = None  # 'd' folds into the key reduction
        reduced = tomb_wt_for_keys(reduce_events(log), tombs, keys_unique=True)
        state = drop_invisible(finalize_state(reduced, as_of_us=as_of))
        return state.select("conv_id", "turn_idx", "role", "text")

    q["cdc_ttl_expiry"] = cdc_ttl_expiry

    # ======================================================================
    # training-data pipeline operators (documents / embeddings tables)
    # ======================================================================
    def _docs(spark, sf_dir):
        # single-file parquet = one scan partition: cache a repartitioned
        # relation per (session, sf_dir) so the tokenization/shingling HOF
        # map sides parallelize (docs queries key on doc_id/shingle grain —
        # high cardinality, so unlike the CDC key space extra partitions
        # cost no partial-aggregation collapse; see _flat_log)
        key = (id(spark), sf_dir, "docs")
        cached = _FLAT_CACHE.get(key)
        if cached is None:
            cached = (
                spark.read.parquet(f"{sf_dir}/documents.parquet")
                .select("doc_id", "text")
                .repartition(_cache_partitions(spark, f"{sf_dir}/documents.parquet", dense_keys=False))
                .persist()
            )
            _FLAT_CACHE[key] = cached
        return cached

    def _corpus(spark, sf_dir):
        """documents + injected exact dups + near-dups (deterministic)."""
        docs = _docs(spark, sf_dir)
        dups = docs.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
        near = docs.where(F.col("doc_id") % 10 == 5).select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" near duplicate tail")).alias("text"),
        )
        return docs.unionByName(dups).unionByName(near)

    def _embs(spark, sf_dir):
        key = (id(spark), sf_dir, "embs")
        cached = _FLAT_CACHE.get(key)
        if cached is None:
            cached = (
                spark.read.parquet(f"{sf_dir}/embeddings.parquet")
                .repartition(_cache_partitions(spark, f"{sf_dir}/embeddings.parquet", dense_keys=False))
                .persist()
            )
            _FLAT_CACHE[key] = cached
        return cached

    def docs_dedup_exact(spark, sf_dir):
        from debezium_connector_cassandra_spark.operators.text_dedup import exact_dedup

        return exact_dedup(_corpus(spark, sf_dir))

    q["docs_dedup_exact"] = docs_dedup_exact

    def docs_dedup_jaccard(spark, sf_dir):
        from debezium_connector_cassandra_spark.operators.text_dedup import (
            ngram_jaccard_pairs,
        )

        return ngram_jaccard_pairs(_corpus(spark, sf_dir), threshold=0.5, max_df=10)

    q["docs_dedup_jaccard"] = docs_dedup_jaccard

    def docs_dedup_normalized(spark, sf_dir):
        # near-exact dedup under text normalization: the corpus plus
        # injected case/punctuation variants that exact md5 cannot group
        from debezium_connector_cassandra_spark.operators.text_dedup import (
            normalized_dedup,
        )

        docs = _docs(spark, sf_dir)
        variants = docs.where(F.col("doc_id") % 10 == 3).select(
            (F.col("doc_id") + 300000).alias("doc_id"),
            F.concat(F.upper(F.col("text")), F.lit(" !!")).alias("text"),
        )
        return normalized_dedup(_corpus(spark, sf_dir).unionByName(variants))

    q["docs_dedup_normalized"] = docs_dedup_normalized

    def docs_dup_clusters(spark, sf_dir):
        # near-dup CLUSTERS: connected components over the jaccard pair
        # graph, cluster_id = smallest member (canonical representative)
        from debezium_connector_cassandra_spark.operators.text_dedup import (
            dup_clusters,
            ngram_jaccard_pairs,
        )

        pairs = ngram_jaccard_pairs(_corpus(spark, sf_dir), threshold=0.5, max_df=10)
        return dup_clusters(pairs)

    q["docs_dup_clusters"] = docs_dup_clusters

    def docs_minhash_lsh(spark, sf_dir):
        from debezium_connector_cassandra_spark.operators.text_dedup import (
            minhash_lsh_candidates,
        )

        return minhash_lsh_candidates(_corpus(spark, sf_dir))

    q["docs_minhash_lsh"] = docs_minhash_lsh

    def docs_simhash(spark, sf_dir):
        from debezium_connector_cassandra_spark.operators.text_dedup import simhash

        return simhash(_docs(spark, sf_dir))

    q["docs_simhash"] = docs_simhash

    def docs_simhash_dups(spark, sf_dir):
        # the hamming retrieval that completes the SimHash family: banded
        # multi-index (4x16-bit chunks of a 64-bit fingerprint), equi-join on
        # (band, chunk) — exact recall for hamming <= 3 by pigeonhole — then
        # bit_count(xor) verification. Plan: bucket equi-join, no cartesian.
        from debezium_connector_cassandra_spark.operators.text_dedup import (
            simhash_near_dups,
        )

        out = simhash_near_dups(
            _corpus(spark, sf_dir), bits=64, bands=4, max_hamming=3
        )
        return out.select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))

    q["docs_simhash_dups"] = docs_simhash_dups

    def docs_contamination(spark, sf_dir):
        # benchmark decontamination: 13-gram word overlap against an eval
        # set (the published GPT-3/PaLM-style rule); benchmark side broadcast
        from debezium_connector_cassandra_spark.operators.text_dedup import (
            contamination_check,
        )

        bench = _docs(spark, sf_dir).where(F.col("doc_id") % 17 == 0).select(
            F.col("doc_id").alias("bench_id"), "text"
        )
        return contamination_check(_corpus(spark, sf_dir), bench, n=13)

    q["docs_contamination"] = docs_contamination

    def docs_sample_stratified(spark, sf_dir):
        # reproducible hash sampling with per-stratum rates (the training-
        # mixture primitive): same rows kept on any cluster/partitioning
        from debezium_connector_cassandra_spark.operators.text_dedup import (
            deterministic_sample,
        )

        docs = _docs(spark, sf_dir).withColumn(
            "stratum", F.pmod(F.col("doc_id"), F.lit(3)).cast("string")
        )
        out = deterministic_sample(
            docs, strata_rates={"0": 0.5, "1": 0.2}, strata_col="stratum"
        )
        return out.select("doc_id", "stratum")

    q["docs_sample_stratified"] = docs_sample_stratified

    # --- corpus assembly: sequence packing ---------------------------------
    def docs_pack_sequences(spark, sf_dir):
        # greedy-contiguous packing into ~256-token shards (docs never
        # split; bucketed windows — no global sort). Output = per-pack
        # manifest a training data loader reads shard-at-a-time.
        from debezium_connector_cassandra_spark.operators.corpus import (
            pack_sequences,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        packed = pack_sequences(docs, budget_tokens=256, n_buckets=16)
        return packed.groupBy("bucket", "pack_id").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )

    q["docs_pack_sequences"] = docs_pack_sequences

    # --- corpus assembly: data-mix rebalancing ------------------------------
    def docs_source_mix(spark, sf_dir):
        # downsample every language to the smallest language's size in a
        # deterministic hash order (exact-proportion seedless sample) —
        # the mix-rebalancing stage of a pretraining pipeline.
        from debezium_connector_cassandra_spark.operators.corpus import (
            rebalance_corpus,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return rebalance_corpus(docs, group_col="lang")

    q["docs_source_mix"] = docs_source_mix

    def docs_dup_gram_fraction(spark, sf_dir):
        # cross-document span duplication: fraction of a doc's 13-grams
        # that occur in other documents (the exact-substring-dedup signal);
        # injected exact/near duplicates surface as dup_frac ~1.0
        from debezium_connector_cassandra_spark.operators.text_dedup import (
            duplicated_gram_fraction,
        )

        return duplicated_gram_fraction(_corpus(spark, sf_dir), n=13)

    q["docs_dup_gram_fraction"] = docs_dup_gram_fraction

    def docs_repetition(spark, sf_dir):
        # Gopher-style intra-doc repetition signals over the corpus plus
        # injected triple-repeated docs
        from debezium_connector_cassandra_spark.functions.text import (
            repetition_features,
        )

        docs = _docs(spark, sf_dir)
        reps = docs.where(F.col("doc_id") % 10 == 7).select(
            (F.col("doc_id") + 400000).alias("doc_id"),
            F.concat_ws("\n", "text", "text", "text").alias("text"),
        )
        return repetition_features(docs.unionByName(reps))

    q["docs_repetition"] = docs_repetition

    def docs_quality(spark, sf_dir):
        from debezium_connector_cassandra_spark.functions.text import quality_features

        return quality_features(_docs(spark, sf_dir))

    q["docs_quality"] = docs_quality

    def docs_quality_filter(spark, sf_dir):
        # the composed Gopher/C4-style keep-drop stage: four in-row signals,
        # fixed-order auditable drop reasons, ONE map-only projection (no
        # feature-relation joins); corpus augmented with triple-repeated
        # docs so the repeated_lines rule actually fires
        from debezium_connector_cassandra_spark.functions.text import quality_filter

        docs = _docs(spark, sf_dir)
        reps = docs.where(F.col("doc_id") % 10 == 7).select(
            (F.col("doc_id") + 400000).alias("doc_id"),
            F.concat_ws("\n", "text", "text", "text").alias("text"),
        )
        return quality_filter(docs.unionByName(reps))

    q["docs_quality_filter"] = docs_quality_filter

    def docs_langid(spark, sf_dir):
        from debezium_connector_cassandra_spark.functions.text import langid

        return langid(_docs(spark, sf_dir))

    q["docs_langid"] = docs_langid

    def docs_token_stats(spark, sf_dir):
        # per-doc token accounting with the GPT-2 pretokenizer regex
        # (whitespace words vs BPE-ish pieces + fertility). The corpus is
        # augmented with a deterministic "versioned" variant carrying
        # digits, punctuation, and letter-digit boundaries so every piece
        # class (word/number/contraction/punct) actually fires.
        from debezium_connector_cassandra_spark.functions.text import token_stats

        docs = _docs(spark, sf_dir)
        did = F.col("doc_id").cast("string")
        versioned = docs.where(F.col("doc_id") % 10 == 3).select(
            (F.col("doc_id") + 500000).alias("doc_id"),
            F.concat(
                F.col("text"),
                F.lit(" it's v"),
                did,
                F.lit(".2 (rev-"),
                did,
                F.lit(")"),
            ).alias("text"),
        )
        return token_stats(docs.unionByName(versioned))

    q["docs_token_stats"] = docs_token_stats

    def docs_fingerprint(spark, sf_dir):
        from debezium_connector_cassandra_spark.functions.text import fingerprint

        return fingerprint(_docs(spark, sf_dir))

    q["docs_fingerprint"] = docs_fingerprint

    def emb_cosine_topk(spark, sf_dir):
        from debezium_connector_cassandra_spark.operators.similarity import cosine_topk

        embs = _embs(spark, sf_dir)
        return cosine_topk(embs, embs.where(F.col("vec_id") < 8), k=5)

    q["emb_cosine_topk"] = emb_cosine_topk

    def emb_lsh_buckets(spark, sf_dir):
        from debezium_connector_cassandra_spark.operators.similarity import (
            lsh_bucket_stats,
        )

        return lsh_bucket_stats(_embs(spark, sf_dir))

    q["emb_lsh_buckets"] = emb_lsh_buckets

    def emb_ivf_assign(spark, sf_dir):
        from debezium_connector_cassandra_spark.operators.similarity import ivf_assign

        return ivf_assign(_embs(spark, sf_dir), n_centroids=16)

    q["emb_ivf_assign"] = emb_ivf_assign

    def emb_ivf_topk(spark, sf_dir):
        from debezium_connector_cassandra_spark.operators.similarity import ivf_topk

        embs = _embs(spark, sf_dir)
        return ivf_topk(embs, embs.where(F.col("vec_id") < 8), k=5, n_centroids=16, n_probe=4)

    q["emb_ivf_topk"] = emb_ivf_topk

    def emb_ivf_kmeans_topk(spark, sf_dir):
        # IVF with REAL k-means centroids (2 deterministic Lloyd iterations
        # as DataFrame aggregates) instead of the smallest-id convention
        from debezium_connector_cassandra_spark.operators.similarity import (
            ivf_topk,
            kmeans_centroids,
        )

        embs = _embs(spark, sf_dir)
        cents = kmeans_centroids(embs, n_centroids=16, n_iters=2)
        return ivf_topk(
            embs, embs.where(F.col("vec_id") < 8), k=5, n_probe=4, centroids=cents
        )

    q["emb_ivf_kmeans_topk"] = emb_ivf_kmeans_topk

    def emb_pq_codes(spark, sf_dir):
        # product quantization encode: m=4 subvectors x 16 codewords — each
        # vector compresses to 4 codes (the billion-vector memory path);
        # argmin per subvector is the packed-long hash aggregate
        from debezium_connector_cassandra_spark.operators.similarity import (
            pq_codebooks,
            pq_encode,
        )

        embs = _embs(spark, sf_dir)
        codes = pq_encode(embs, pq_codebooks(embs))
        return codes.select(
            "vec_id", F.concat_ws("-", F.col("codes").cast("array<string>")).alias("codes_s")
        )

    q["emb_pq_codes"] = emb_pq_codes

    # --- SQ8 scalar quantization: the 4x middle memory tier ----------------
    # per-dimension affine uint8 codes (FAISS SQ8 shape): train = one
    # partial-combined min/max agg row; encode = map-only; topk = asymmetric
    # float-query x decoded-codes with the in-order dot fold
    def emb_sq8_codes(spark, sf_dir):
        from debezium_connector_cassandra_spark.operators.similarity import (
            sq_bounds,
            sq_encode,
        )

        embs = _embs(spark, sf_dir)
        b = sq_bounds(embs, dim=64)
        return sq_encode(embs, b).select(
            "vec_id",
            F.concat_ws("-", F.col("codes").cast("array<string>")).alias("codes_s"),
        )

    q["emb_sq8_codes"] = emb_sq8_codes

    def emb_sq8_topk(spark, sf_dir):
        from debezium_connector_cassandra_spark.operators.similarity import sq_topk

        embs = _embs(spark, sf_dir)
        return sq_topk(embs, embs.where(F.col("vec_id") < 8), k=5)

    q["emb_sq8_topk"] = emb_sq8_topk

    def emb_ivf_sq_topk(spark, sf_dir):
        # the FAISS IVFx,SQ8 composition: coarse probe -> inverted-list
        # equi-join -> uint8 decode vs broadcast bounds -> in-order dot fold
        from debezium_connector_cassandra_spark.operators.similarity import (
            ivf_sq_topk,
        )

        embs = _embs(spark, sf_dir)
        return ivf_sq_topk(embs, embs.where(F.col("vec_id") < 8), k=5, n_probe=4)

    q["emb_ivf_sq_topk"] = emb_ivf_sq_topk

    def emb_pq_topk(spark, sf_dir):
        # asymmetric-distance top-k: per-query m x 16 lookup table
        # (broadcast), database vectors scored by summing integer lookups
        from debezium_connector_cassandra_spark.operators.similarity import (
            pq_adc_topk,
        )

        embs = _embs(spark, sf_dir)
        return pq_adc_topk(embs, embs.where(F.col("vec_id") < 8), k=5)

    q["emb_pq_topk"] = emb_pq_topk

    def emb_ivf_pq_topk(spark, sf_dir):
        # the composed billion-vector shape (FAISS IVFx,PQy): coarse probe
        # via the inverted file, then asymmetric-distance scoring of CODES
        # inside the probed lists — no float corpus vector read at query time
        from debezium_connector_cassandra_spark.operators.similarity import (
            ivf_pq_topk,
        )

        embs = _embs(spark, sf_dir)
        return ivf_pq_topk(
            embs, embs.where(F.col("vec_id") < 8), k=5, n_probe=4
        )

    q["emb_ivf_pq_topk"] = emb_ivf_pq_topk

    def emb_pq_rerank_topk(spark, sf_dir):
        # exact refine after the lossy candidate stage (FAISS PQy,RFlat):
        # ADC proposes top-20 from integer codes, the float vectors are read
        # for exactly those 20 rows per query, final top-5 is exact
        from debezium_connector_cassandra_spark.operators.similarity import (
            pq_rerank_topk,
        )

        embs = _embs(spark, sf_dir)
        return pq_rerank_topk(embs, embs.where(F.col("vec_id") < 8), k=5, rerank=20)

    q["emb_pq_rerank_topk"] = emb_pq_rerank_topk

    def emb_ivf_pq_rerank_topk(spark, sf_dir):
        # the complete production stack: IVF coarse probe bounds the slice,
        # PQ codes bound the scan inside it, the refine bounds float reads
        # to rerank vectors per query — exact-rank results at quantized cost
        from debezium_connector_cassandra_spark.operators.similarity import (
            ivf_pq_rerank_topk,
        )

        embs = _embs(spark, sf_dir)
        return ivf_pq_rerank_topk(
            embs, embs.where(F.col("vec_id") < 8), k=5, rerank=20, n_probe=4
        )

    q["emb_ivf_pq_rerank_topk"] = emb_ivf_pq_rerank_topk

    def emb_near_dups(spark, sf_dir):
        from debezium_connector_cassandra_spark.operators.similarity import (
            embedding_near_dups,
        )

        return embedding_near_dups(_embs(spark, sf_dir), threshold=0.25)

    q["emb_near_dups"] = emb_near_dups

    def mm_binary_meta(spark, sf_dir):
        from debezium_connector_cassandra_spark.operators.multimodal import attach_payload

        m = attach_payload(_docs(spark, sf_dir))
        return m.select(
            "doc_id",
            F.col("meta.modality").alias("modality"),
            F.col("meta.codec").alias("codec"),
            F.col("meta.n_bytes").alias("n_bytes"),
            F.col("meta.content_md5").alias("content_md5"),
        )

    q["mm_binary_meta"] = mm_binary_meta

    def mm_features(spark, sf_dir):
        # Arrow mapInPandas feature extraction over binary payloads; the
        # synthetic corpus is ASCII so byte stats ARE SQL-expressible — the
        # oracle recomputes them from code points. Floats rounded to 4dp on
        # both sides (summation-order FP noise).
        from debezium_connector_cassandra_spark.operators.multimodal import (
            attach_payload,
            extract_features,
        )

        feats = extract_features(attach_payload(_docs(spark, sf_dir)))
        return feats.select(
            "doc_id",
            "n_bytes",
            F.round("mean_byte", 4).alias("mean_byte"),
            F.round("byte_entropy", 4).alias("byte_entropy"),
        )

    q["mm_features"] = mm_features

    def mm_frame_sample(spark, sf_dir):
        # synthetic raw-video frame sampling: every 4th 64-byte frame,
        # sliced JVM-side from the binary payload (sequence + explode +
        # substr — scan speed, no Python); frame_hex is the cross-engine
        # comparable projection of the frame bytes.
        from debezium_connector_cassandra_spark.operators.multimodal import (
            attach_payload,
            sample_frames,
        )

        m = attach_payload(_docs(spark, sf_dir))
        return sample_frames(m, frame_bytes=64, stride=4)

    q["mm_frame_sample"] = mm_frame_sample

    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["cdc_decode_envelope"] = _duck(
        """
SELECT segment_id, position, log_partition, op,
  CASE WHEN op = 'i' THEN 'c' WHEN op = 'u' THEN 'u'
       WHEN op IN ('d','p') THEN 'd' ELSE 't' END AS envelope_op,
  CASE WHEN op = 'p' THEN 'PARTITION_KEY_ROW_DELETION'
       WHEN op = 'r' THEN 'ROW_RANGE_DELETION'
       ELSE 'ROW_LEVEL_MODIFICATION' END AS partition_type,
  CASE WHEN op = 'i' THEN 'INSERT' WHEN op = 'u' THEN 'UPDATE'
       WHEN op = 'd' THEN 'DELETE' WHEN op = 'r' THEN 'RANGE_TOMBSTONE'
       ELSE 'PARTITION_DELETE' END AS row_type,
  conv_id,
  CASE WHEN op IN ('i','u','d') THEN turn_idx ELSE NULL END AS turn_idx,
  writetime,
  CAST((writetime - (writetime % 1000)) / 1000 AS bigint) AS ts_ms,
  concat('CommitLog-7-', CAST(segment_id AS varchar), '.log') AS source_file,
  position AS source_pos
FROM m
"""
    )

    o["cdc_classify_counts"] = _duck(
        """
SELECT
  CASE WHEN op = 'p' THEN 'PARTITION_KEY_ROW_DELETION'
       WHEN op = 'r' THEN 'ROW_RANGE_DELETION'
       ELSE 'ROW_LEVEL_MODIFICATION' END AS partition_type,
  CASE WHEN op = 'i' THEN 'INSERT' WHEN op = 'u' THEN 'UPDATE'
       WHEN op = 'd' THEN 'DELETE' WHEN op = 'r' THEN 'RANGE_TOMBSTONE'
       ELSE 'PARTITION_DELETE' END AS row_type,
  CASE WHEN op = 'i' THEN 'c' WHEN op = 'u' THEN 'u'
       WHEN op IN ('d','p') THEN 'd' ELSE 't' END AS envelope_op,
  count(*) AS n
FROM m GROUP BY 1, 2, 3
"""
    )

    o["cdc_dedup_events"] = _duck(
        """
SELECT segment_id, count(*) AS n
FROM (SELECT DISTINCT segment_id, position, conv_id, turn_idx FROM m
      WHERE op IN ('i','u','d'))
GROUP BY 1
"""
    )

    o["cdc_offsets_checkpoint"] = _duck(
        """
SELECT log_partition, segment_id, position FROM (
  SELECT log_partition, segment_id, position,
         row_number() OVER (PARTITION BY log_partition
                            ORDER BY segment_id DESC, position DESC) AS rn
  FROM m
) WHERE rn = 1
"""
    )

    o["cdc_lineage_segments"] = _duck(
        """
SELECT segment_id, log_partition, count(*) AS n_events,
       min(position) AS min_pos, max(position) AS max_pos
FROM m GROUP BY 1, 2
"""
    )

    o["cdc_routing_stats"] = _duck(
        """
SELECT log_partition, count(*) AS n_events,
       count(DISTINCT conv_id) AS n_convs
FROM m GROUP BY 1
"""
    )

    o["cdc_lww_upserts"] = _duck(_oracle_state_sql("iu"))
    o["cdc_row_deletes"] = _duck(_oracle_state_sql("iud"))
    o["cdc_partition_deletes"] = _duck(_oracle_state_sql("iudp"))
    o["cdc_range_tombstones"] = _duck(_oracle_state_sql("iur"))
    o["cdc_full_state"] = _duck(_oracle_state_sql("iudpr"))
    # batches explode to the flat change stream (writetimes drive LWW, so
    # the batch packing is invisible in final state) — the oracle IS the
    # flattened replay
    o["cdc_batch_mutations"] = _duck(_oracle_state_sql("iudpr"))
    # splitting + re-pairing bound markers must reconstruct the exact
    # paired-log semantics, so the oracle IS the full-state oracle
    o["cdc_unpaired_markers"] = _duck(_oracle_state_sql("iudpr"))

    # time-travel horizon: the 3/4 point of the writetime span via exact
    # 64-bit arithmetic (span*3 < 2^53, and (x - x%4)/4 is an exact double)
    _HZ = (
        ", hz AS (SELECT min(writetime) + CAST("
        "((max(writetime)-min(writetime))*3 - ((max(writetime)-min(writetime))*3) % 4)"
        " / 4 AS bigint) AS h FROM m)"
    )
    o["cdc_state_asof"] = _duck(
        _HZ + _oracle_state_sql("iudpr", wt_cap="SELECT h FROM hz")
    )

    # snapshot diff: two state fragments (as-of-T and final) full-outer
    # joined on the key; emit only c/u/d rows with the after-image
    o["cdc_snapshot_diff"] = _duck(
        _HZ
        + _oracle_state_sql(
            "iudpr", suffix="_a", wt_cap="SELECT h FROM hz", as_cte="st_a"
        )
        + _oracle_state_sql("iudpr", suffix="_b", as_cte="st_b")
        + """
SELECT coalesce(b.conv_id, a.conv_id) AS conv_id,
       coalesce(b.turn_idx, a.turn_idx) AS turn_idx,
       CASE WHEN a.conv_id IS NULL THEN 'c'
            WHEN b.conv_id IS NULL THEN 'd'
            ELSE 'u' END AS diff_op,
       b.role, b.text, b.tool, b.ts_us
FROM st_a a FULL OUTER JOIN st_b b
  ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
WHERE a.conv_id IS NULL OR b.conv_id IS NULL
   OR (a.role IS DISTINCT FROM b.role)
   OR (a.text IS DISTINCT FROM b.text)
   OR (a.tool IS DISTINCT FROM b.tool)
   OR (a.ts_us IS DISTINCT FROM b.ts_us)
"""
    )

    # transcript assembly over the final state (ordered string_agg twin of
    # the engine's array_sort(collect_list) fold)
    o["cdc_transcript_assembly"] = _duck(
        _oracle_state_sql("iudpr", as_cte="st")
        + """
SELECT conv_id, count(*) AS n_turns, max(turn_idx) AS last_turn,
  CAST(sum(length(coalesce(text, ''))) AS bigint) AS total_chars,
  string_agg(concat(coalesce(role, '?'), ': ', coalesce(text, '')),
             chr(10) ORDER BY turn_idx) AS transcript
FROM st GROUP BY 1
"""
    )

    # incremental == full maintenance is the contract: same oracle
    o["cdc_transcript_incremental"] = o["cdc_transcript_assembly"]

    # as-of join: same tagged-union + IGNORE NULLS forward-fill formulation
    # (window ordered (ts, side, event_id): right first at ties = inclusive)
    o["cdc_asof_join"] = """
WITH u AS (
  SELECT event_id, user_id, event_type, ts, 1 AS f,
         NULL::STRUCT(mts TIMESTAMP, pv DOUBLE) AS m
  FROM events WHERE event_type IN ('click', 'view')
  UNION ALL
  SELECT event_id, user_id, NULL, ts, 0 AS f,
         struct_pack(mts := ts, pv := value) AS m
  FROM events WHERE event_type = 'purchase'
),
filled AS (
  SELECT *, last_value(m IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts, f, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fm
  FROM u
)
SELECT event_id, user_id, event_type,
       epoch_us(ts) AS ts_us,
       epoch_us(fm.mts) AS purchase_ts_us,
       fm.pv AS purchase_value
FROM filled WHERE f = 1
"""

    # range join oracle: the direct containment theta-join (the oracle
    # needn't scale; the engine side is the bucketed equi-join)
    o["cdc_interval_join"] = """
WITH ev AS (SELECT event_id, event_type, epoch_us(ts) AS ts_us FROM events),
inc AS (
  SELECT event_id AS incident_id, ts_us AS start_us,
         ts_us + 60000000 AS end_us
  FROM ev WHERE event_type = 'error'
)
SELECT l.event_id, i.incident_id, l.event_type,
       l.ts_us - i.start_us AS lag_us
FROM ev l JOIN inc i
  ON l.ts_us >= i.start_us AND l.ts_us <= i.end_us
"""

    # collections: the oracle computes the stringified winners directly
    # (the engine carries real array/struct cells end-to-end)
    o["cdc_collections"] = _duck(
        """
, ups AS (
  SELECT *,
    'tA_' || CAST((event_id*37)%50 AS varchar) || ',tB_'
          || CAST((event_id*41)%50 AS varchar) AS tags_val,
    CAST((event_id*43)%100 AS varchar) || ':p_'
          || CAST((event_id*47)%30 AS varchar) AS pair_val
  FROM m WHERE op IN ('i','u')
),
keys AS (SELECT DISTINCT conv_id, turn_idx FROM ups),
tomb AS (
  SELECT k.conv_id, k.turn_idx, max(t.writetime) AS tomb_wt
  FROM keys k JOIN m t ON t.conv_id = k.conv_id
   AND ((t.op = 'd' AND t.turn_idx = k.turn_idx)
     OR (t.op = 'p')
     OR (t.op = 'r'
         AND (CASE WHEN t.lo_incl THEN k.turn_idx >= t.r_lo ELSE k.turn_idx > t.r_lo END)
         AND (CASE WHEN t.hi_incl THEN k.turn_idx <= t.r_hi ELSE k.turn_idx < t.r_hi END)))
  GROUP BY 1, 2
),
fin AS (
  SELECT u.conv_id, u.turn_idx,
    last(u.tags_val ORDER BY u.writetime, u.segment_id, u.position)
      FILTER (WHERE u.text_set AND u.writetime > coalesce(t.tomb_wt, -1)) AS tags_s,
    last(u.pair_val ORDER BY u.writetime, u.segment_id, u.position)
      FILTER (WHERE u.role_set AND u.writetime > coalesce(t.tomb_wt, -1)) AS pair_s,
    bool_or(u.op = 'i' AND u.writetime > coalesce(t.tomb_wt, -1)) AS live,
    (bool_or(u.text_set AND u.writetime > coalesce(t.tomb_wt, -1))
     OR bool_or(u.role_set AND u.writetime > coalesce(t.tomb_wt, -1))) AS anycell
  FROM ups u LEFT JOIN tomb t USING (conv_id, turn_idx)
  GROUP BY 1, 2
)
SELECT conv_id, turn_idx, tags_s, pair_s FROM fin WHERE live OR anycell
"""
    )

    # field exclude: same as full state but tool cells never set
    o["cdc_field_exclude"] = _duck(
        _oracle_state_sql("iudpr").replace("u.tool_set", "FALSE")
    )

    # R1 routing modes: md5-derived 60-bit hash of the mode's key, mod 8
    from debezium_connector_cassandra_spark.functions.text import HASH64_DUCK

    _pv_h = HASH64_DUCK.format(x="conv_id")
    _cf_h = HASH64_DUCK.format(
        x="concat('CommitLog-7-', CAST(segment_id AS varchar), '.log')"
    )
    o["cdc_routing_modes"] = _duck(
        f"""
SELECT 'partition_values' AS mode, CAST({_pv_h} % 8 AS int) AS queue,
       count(*) AS n_events, count(DISTINCT conv_id) AS n_keys,
       count(DISTINCT segment_id) AS n_segments
FROM m GROUP BY 1, 2
UNION ALL
SELECT 'commitlog_file' AS mode, CAST({_cf_h} % 8 AS int) AS queue,
       count(*) AS n_events, count(DISTINCT conv_id) AS n_keys,
       count(DISTINCT segment_id) AS n_segments
FROM m GROUP BY 1, 2
"""
    )

    # D3 classify-and-skip: slot arithmetic mirrors tag_table_kinds
    # (position/16 == event_id % 1000 in the derived log)
    _SLOT = "(CAST(event_id % 1000 AS bigint) + segment_id) % 11"
    o["cdc_unsupported_counts"] = _duck(
        f"""
SELECT CASE WHEN {_SLOT} = 0 THEN 'COUNTER'
            WHEN {_SLOT} = 1 THEN 'MATERIALIZED_VIEW'
            WHEN {_SLOT} = 2 THEN 'SECONDARY_INDEX'
            ELSE 'SUPPORTED' END AS partition_type,
       count(*) AS n
FROM m GROUP BY 1
"""
    )
    o["cdc_unsupported_state"] = _duck(
        f", msup AS (SELECT * FROM m WHERE {_SLOT} > 2)"
        + _oracle_state_sql("iudpr")
        .replace("FROM m WHERE", "FROM msup WHERE")
        .replace("JOIN m t", "JOIN msup t")
    )

    # deep types: the oracle computes the three decimal-handling-mode
    # renderings and the map string directly from the winning event
    _DSQ = "(event_id*7919) % 1000000"
    o["cdc_types_deep"] = _duck(
        f"""
, ups AS (
  SELECT *,
    concat(CAST(CAST((({_DSQ}) - ({_DSQ}) % 10000)/10000 AS bigint) AS varchar),
           '.', lpad(CAST(({_DSQ}) % 10000 AS varchar), 4, '0')) AS dec_val,
    concat('k1=', CAST((event_id*13)%1000 AS varchar),
           ',k2=', CAST((event_id*29)%1000 AS varchar)) AS attrs_val
  FROM m WHERE op IN ('i','u')
),
keys AS (SELECT DISTINCT conv_id, turn_idx FROM ups),
tomb AS (
  SELECT k.conv_id, k.turn_idx, max(t.writetime) AS tomb_wt
  FROM keys k JOIN m t ON t.conv_id = k.conv_id
   AND ((t.op = 'd' AND t.turn_idx = k.turn_idx)
     OR (t.op = 'p')
     OR (t.op = 'r'
         AND (CASE WHEN t.lo_incl THEN k.turn_idx >= t.r_lo ELSE k.turn_idx > t.r_lo END)
         AND (CASE WHEN t.hi_incl THEN k.turn_idx <= t.r_hi ELSE k.turn_idx < t.r_hi END)))
  GROUP BY 1, 2
),
fin AS (
  SELECT u.conv_id, u.turn_idx,
    last(u.dec_val ORDER BY u.writetime, u.segment_id, u.position)
      FILTER (WHERE u.text_set AND u.writetime > coalesce(t.tomb_wt, -1)) AS dec_s,
    last(u.attrs_val ORDER BY u.writetime, u.segment_id, u.position)
      FILTER (WHERE u.role_set AND u.writetime > coalesce(t.tomb_wt, -1)) AS attrs_s,
    bool_or(u.op = 'i' AND u.writetime > coalesce(t.tomb_wt, -1)) AS live,
    (bool_or(u.text_set AND u.writetime > coalesce(t.tomb_wt, -1))
     OR bool_or(u.role_set AND u.writetime > coalesce(t.tomb_wt, -1))) AS anycell
  FROM ups u LEFT JOIN tomb t USING (conv_id, turn_idx)
  GROUP BY 1, 2
)
SELECT conv_id, turn_idx,
       CAST(dec_s AS double) AS dec_double,
       dec_s AS dec_string,
       CAST(CAST(dec_s AS DECIMAL(18,4)) * 10000 AS bigint) AS dec_unscaled,
       attrs_s
FROM fin WHERE live OR anycell
"""
    )

    _VI_BIG = (
        "concat(CAST((event_id*31+7) % 900000000 + 100000000 AS varchar),"
        " lpad(CAST((event_id*17+3) % 1000000000 AS varchar), 9, '0'),"
        " lpad(CAST((event_id*13+5) % 1000000000 AS varchar), 9, '0'))"
    )
    o["cdc_types_varint"] = _duck(
        f"""
, ups AS (
  SELECT *, {_VI_BIG} AS vi_big,
         (event_id*7919+11) % 1000000000000 AS vi_small
  FROM m WHERE op IN ('i','u')
),
keys AS (SELECT DISTINCT conv_id, turn_idx FROM ups),
tomb AS (
  SELECT k.conv_id, k.turn_idx, max(t.writetime) AS tomb_wt
  FROM keys k JOIN m t ON t.conv_id = k.conv_id
   AND ((t.op = 'd' AND t.turn_idx = k.turn_idx)
     OR (t.op = 'p')
     OR (t.op = 'r'
         AND (CASE WHEN t.lo_incl THEN k.turn_idx >= t.r_lo ELSE k.turn_idx > t.r_lo END)
         AND (CASE WHEN t.hi_incl THEN k.turn_idx <= t.r_hi ELSE k.turn_idx < t.r_hi END)))
  GROUP BY 1, 2
),
fin AS (
  SELECT u.conv_id, u.turn_idx,
    last(u.vi_big ORDER BY u.writetime, u.segment_id, u.position)
      FILTER (WHERE u.text_set AND u.writetime > coalesce(t.tomb_wt, -1)) AS vi_big_s,
    last(u.vi_small ORDER BY u.writetime, u.segment_id, u.position)
      FILTER (WHERE u.role_set AND u.writetime > coalesce(t.tomb_wt, -1)) AS vi_small_s,
    bool_or(u.op = 'i' AND u.writetime > coalesce(t.tomb_wt, -1)) AS live,
    (bool_or(u.text_set AND u.writetime > coalesce(t.tomb_wt, -1))
     OR bool_or(u.role_set AND u.writetime > coalesce(t.tomb_wt, -1))) AS anycell
  FROM ups u LEFT JOIN tomb t USING (conv_id, turn_idx)
  GROUP BY 1, 2
)
SELECT conv_id, turn_idx,
       vi_big_s AS vi_precise,
       CAST(vi_small_s AS bigint) AS vi_long,
       vi_big_s AS vi_string
FROM fin WHERE live OR anycell
"""
    )

    _UUID_FMT = (
        "concat(substr({h},1,8),'-',substr({h},9,4),'-{v}',"
        "substr({h},14,3),'-',substr({h},17,4),'-',substr({h},21,12))"
    )
    o["cdc_types_scalar"] = _duck(
        f"""
, ups AS (
  SELECT *,
    {_UUID_FMT.format(h="md5(CAST(event_id AS varchar))", v="4")} AS uuid_val,
    {_UUID_FMT.format(h="md5(concat('t', CAST(event_id AS varchar)))", v="1")} AS tu_val,
    CAST(DATE '2020-01-01' + CAST((event_id*3) % 3650 AS int) AS varchar) AS date_val,
    ((event_id*48271+7) % 86400) * 1000000000 + (event_id*13) % 1000000000 AS time_val,
    concat('10.', CAST(CAST((event_id - event_id % 65536)/65536 AS bigint) % 256 AS varchar),
           '.', CAST(CAST((event_id - event_id % 256)/256 AS bigint) % 256 AS varchar),
           '.', CAST(event_id % 256 AS varchar)) AS inet_val,
    concat('P', CAST((event_id*5) % 24 AS varchar),
           'M', CAST((event_id*7) % 31 AS varchar),
           'DT', CAST((event_id*2654435761) % 86400000000000 AS varchar), 'N') AS dur_val,
    upper(md5(concat('b', CAST(event_id AS varchar)))) AS blob_val
  FROM m WHERE op IN ('i','u')
),
keys AS (SELECT DISTINCT conv_id, turn_idx FROM ups),
tomb AS (
  SELECT k.conv_id, k.turn_idx, max(t.writetime) AS tomb_wt
  FROM keys k JOIN m t ON t.conv_id = k.conv_id
   AND ((t.op = 'd' AND t.turn_idx = k.turn_idx)
     OR (t.op = 'p')
     OR (t.op = 'r'
         AND (CASE WHEN t.lo_incl THEN k.turn_idx >= t.r_lo ELSE k.turn_idx > t.r_lo END)
         AND (CASE WHEN t.hi_incl THEN k.turn_idx <= t.r_hi ELSE k.turn_idx < t.r_hi END)))
  GROUP BY 1, 2
),
fin AS (
  SELECT u.conv_id, u.turn_idx,
    last(u.uuid_val ORDER BY u.writetime, u.segment_id, u.position)
      FILTER (WHERE u.text_set AND u.writetime > coalesce(t.tomb_wt, -1)) AS uuid_s,
    last(u.tu_val ORDER BY u.writetime, u.segment_id, u.position)
      FILTER (WHERE u.text_set AND u.writetime > coalesce(t.tomb_wt, -1)) AS tu_s,
    last(u.date_val ORDER BY u.writetime, u.segment_id, u.position)
      FILTER (WHERE u.role_set AND u.writetime > coalesce(t.tomb_wt, -1)) AS date_s,
    last(u.time_val ORDER BY u.writetime, u.segment_id, u.position)
      FILTER (WHERE u.tool_set AND u.writetime > coalesce(t.tomb_wt, -1)) AS time_s,
    last(u.inet_val ORDER BY u.writetime, u.segment_id, u.position)
      FILTER (WHERE u.text_set AND u.writetime > coalesce(t.tomb_wt, -1)) AS inet_s,
    last(u.dur_val ORDER BY u.writetime, u.segment_id, u.position)
      FILTER (WHERE u.role_set AND u.writetime > coalesce(t.tomb_wt, -1)) AS dur_s,
    last(u.blob_val ORDER BY u.writetime, u.segment_id, u.position)
      FILTER (WHERE u.tool_set AND u.writetime > coalesce(t.tomb_wt, -1)) AS blob_s,
    bool_or(u.op = 'i' AND u.writetime > coalesce(t.tomb_wt, -1)) AS live,
    (bool_or(u.text_set AND u.writetime > coalesce(t.tomb_wt, -1))
     OR bool_or(u.role_set AND u.writetime > coalesce(t.tomb_wt, -1))
     OR bool_or(u.tool_set AND u.writetime > coalesce(t.tomb_wt, -1))) AS anycell
  FROM ups u LEFT JOIN tomb t USING (conv_id, turn_idx)
  GROUP BY 1, 2
)
SELECT conv_id, turn_idx,
       uuid_s, tu_s AS timeuuid_s, date_s, time_s AS time_ns,
       inet_s, dur_s AS duration_s, blob_s AS blob_hex
FROM fin WHERE live OR anycell
"""
    )

    o["cdc_ttl_expiry"] = _duck(
        """
, ups AS (
  SELECT *, CASE WHEN (event_id*43) % 3 = 0 AND text_set
             THEN writetime + ((event_id*47) % 60) * 86400000000 END AS text_del
  FROM m WHERE op IN ('i','u')
),
mw AS (SELECT max(writetime) AS as_of FROM m),
keys AS (SELECT DISTINCT conv_id, turn_idx FROM ups),
tomb AS (
  SELECT k.conv_id, k.turn_idx, max(t.writetime) AS tomb_wt
  FROM keys k JOIN m t ON t.conv_id = k.conv_id
   AND ((t.op = 'd' AND t.turn_idx = k.turn_idx)
     OR (t.op = 'p')
     OR (t.op = 'r'
         AND (CASE WHEN t.lo_incl THEN k.turn_idx >= t.r_lo ELSE k.turn_idx > t.r_lo END)
         AND (CASE WHEN t.hi_incl THEN k.turn_idx <= t.r_hi ELSE k.turn_idx < t.r_hi END)))
  GROUP BY 1, 2
),
fin AS (
  SELECT u.conv_id, u.turn_idx,
    last(u.role_val ORDER BY u.writetime, u.segment_id, u.position)
      FILTER (WHERE u.role_set AND u.writetime > coalesce(t.tomb_wt, -1)) AS role_v,
    bool_or(u.role_set AND u.writetime > coalesce(t.tomb_wt, -1)) AS role_c,
    last(u.text_val ORDER BY u.writetime, u.segment_id, u.position)
      FILTER (WHERE u.text_set AND u.writetime > coalesce(t.tomb_wt, -1)) AS text_v,
    last(u.text_del ORDER BY u.writetime, u.segment_id, u.position)
      FILTER (WHERE u.text_set AND u.writetime > coalesce(t.tomb_wt, -1)) AS text_d,
    bool_or(u.text_set AND u.writetime > coalesce(t.tomb_wt, -1)) AS text_c,
    bool_or(u.op = 'i' AND u.writetime > coalesce(t.tomb_wt, -1)) AS live
  FROM ups u LEFT JOIN tomb t USING (conv_id, turn_idx)
  GROUP BY 1, 2
)
SELECT conv_id, turn_idx,
  CASE WHEN role_c THEN role_v END AS role,
  CASE WHEN text_c AND (text_d IS NULL OR text_d > as_of) THEN text_v END AS text
FROM fin, mw
WHERE live OR role_c OR (text_c AND (text_d IS NULL OR text_d > as_of))
"""
    )

    o["cdc_snapshot_union"] = _duck(
        """
, seg0 AS (
  SELECT conv_id, turn_idx, role_val, text_val, tool_val, ts_us_val,
         row_number() OVER (PARTITION BY conv_id, turn_idx
                            ORDER BY writetime DESC, position DESC) AS rn
  FROM m WHERE segment_id = 0 AND op = 'i'
),
snap AS (
  SELECT CAST(-1 AS bigint) AS segment_id, CAST(-1 AS bigint) AS position,
         conv_id, turn_idx, CAST(0 AS bigint) AS writetime, 'i' AS op,
         role_val, text_val, tool_val, ts_us_val,
         TRUE AS role_set, TRUE AS text_set, TRUE AS tool_set, TRUE AS ts_us_set
  FROM seg0 WHERE rn = 1
),
ups AS (
  SELECT segment_id, position, conv_id, turn_idx, writetime, op,
         role_val, text_val, tool_val, ts_us_val,
         role_set, text_set, tool_set, ts_us_set
  FROM m WHERE segment_id >= 1 AND op IN ('i','u')
  UNION ALL SELECT * FROM snap
),
fin AS (
  SELECT conv_id, turn_idx,
    last(role_val ORDER BY writetime, segment_id, position) FILTER (WHERE role_set) AS role,
    last(text_val ORDER BY writetime, segment_id, position) FILTER (WHERE text_set) AS text,
    last(tool_val ORDER BY writetime, segment_id, position) FILTER (WHERE tool_set) AS tool,
    last(ts_us_val ORDER BY writetime, segment_id, position) FILTER (WHERE ts_us_set) AS ts_us,
    bool_or(op = 'i') AS live,
    bool_or(role_set OR text_set OR tool_set OR ts_us_set) AS anycell
  FROM ups GROUP BY 1, 2
)
SELECT conv_id, turn_idx, role, text, tool, ts_us FROM fin WHERE live OR anycell
"""
    )

    o["cdc_snapshot_selection"] = _duck(
        """
SELECT log_partition AS pending_partition FROM (
  SELECT DISTINCT log_partition FROM m
) EXCEPT SELECT DISTINCT log_partition FROM m WHERE segment_id < 2
"""
    )

    o["cdc_snapshot_metrics"] = _duck(
        """
, per AS (SELECT log_partition, count(*) AS n FROM m GROUP BY 1),
tot AS (SELECT CAST(count(*) AS int) AS total FROM per)
SELECT concat('ks.t', CAST(log_partition AS varchar)) AS table_name,
       CAST(n AS bigint) AS rows_scanned,
       total AS total_tables,
       CAST(0 AS int) AS remaining_tables,
       TRUE AS completed,
       FALSE AS running
FROM per, tot
"""
    )

    # cdc_conv_progress: cumulative update-mode emissions mean the final
    # per-conversation state equals one groupBy over the whole log.
    o["cdc_conv_progress"] = _duck(
        """
SELECT conv_id,
  count(*) AS n_events,
  CAST(sum(CASE WHEN op IN ('i','u') THEN 1 ELSE 0 END) AS bigint) AS n_upserts,
  CAST(sum(CASE WHEN op = 'd' THEN 1 ELSE 0 END) AS bigint) AS n_row_deletes,
  CAST(sum(CASE WHEN op = 'p' THEN 1 ELSE 0 END) AS bigint) AS n_part_deletes,
  CAST(sum(CASE WHEN op = 'r' THEN 1 ELSE 0 END) AS bigint) AS n_markers,
  max(writetime) AS max_writetime,
  max(CASE WHEN op IN ('i','u','d') THEN turn_idx END) AS max_turn,
  max(segment_id) AS last_segment
FROM m GROUP BY conv_id
"""
    )

    # cdc_change_rate: Spark's tumbling "1 day" windows align to the epoch,
    # so window_start_us is writetime floored to the day in microseconds.
    o["cdc_change_rate"] = _duck(
        """
SELECT (writetime - writetime % 86400000000) AS window_start_us,
       (writetime - writetime % 86400000000) + 86400000000 AS window_end_us,
       op,
       count(*) AS n
FROM m GROUP BY 1, 2, 3
"""
    )

    # cdc_conv_sessions: gaps-and-islands twin of F.session_window. Break
    # strictly-greater-than gap (a gap-exact successor merges — pinned).
    o["cdc_conv_sessions"] = _duck(
        """
, x AS (
  SELECT conv_id, writetime,
         CASE WHEN writetime - lag(writetime) OVER (PARTITION BY conv_id ORDER BY writetime)
              > 21600000000 THEN 1 ELSE 0 END AS brk
  FROM m
), y AS (
  SELECT conv_id, writetime,
         sum(brk) OVER (PARTITION BY conv_id ORDER BY writetime
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM x
)
SELECT conv_id,
       min(writetime) AS session_start_us,
       max(writetime) AS session_end_us,
       count(*) AS n_events
FROM y GROUP BY conv_id, sid
"""
    )

    # cdc_stream_dedup: the streaming drain removes every redelivered row
    # (identity state or late gate), so the oracle aggregates the plain
    # duplicate-free log per segment.
    o["cdc_stream_dedup"] = _duck(
        """
SELECT segment_id, count(*) AS n, count(DISTINCT conv_id) AS n_convs,
       CAST(sum(CASE WHEN op IN ('i','u','d') THEN turn_idx END) AS bigint)
         AS sum_turns,
       max(writetime) AS max_wt
FROM m GROUP BY 1
"""
    )

    o["cdc_streaming_metrics"] = _duck(
        """
, w AS (
  SELECT log_partition, segment_id, position,
         row_number() OVER (PARTITION BY log_partition
                            ORDER BY segment_id DESC, position DESC) AS rn
  FROM m
),
cnt AS (SELECT log_partition, count(*) AS n_processed FROM m GROUP BY 1)
SELECT c.log_partition,
       concat('CommitLog-7-', CAST(w.segment_id AS varchar), '.log') AS commit_log_filename,
       w.position AS commit_log_position,
       CAST(c.n_processed AS bigint) AS n_processed
FROM w JOIN cnt c USING (log_partition) WHERE w.rn = 1
"""
    )

    o["cdc_schema_evolution"] = _duck(
        """
, ups AS (SELECT *,
      concat('meta_', CAST(event_id AS varchar)) AS meta_val,
      (schema_version >= 2 AND text_set) AS meta_set
  FROM m WHERE op IN ('i','u')),
fin AS (
  SELECT conv_id, turn_idx,
    last(role_val ORDER BY writetime, segment_id, position) FILTER (WHERE role_set) AS role,
    last(text_val ORDER BY writetime, segment_id, position) FILTER (WHERE text_set) AS text,
    last(tool_val ORDER BY writetime, segment_id, position) FILTER (WHERE tool_set) AS tool,
    last(ts_us_val ORDER BY writetime, segment_id, position) FILTER (WHERE ts_us_set) AS ts_us,
    last(meta_val ORDER BY writetime, segment_id, position) FILTER (WHERE meta_set) AS meta,
    bool_or(op = 'i') AS live,
    bool_or(role_set OR text_set OR tool_set OR ts_us_set OR meta_set) AS anycell
  FROM ups GROUP BY 1, 2
)
SELECT conv_id, turn_idx, role, text, tool, ts_us, meta FROM fin WHERE live OR anycell
"""
    )

    # multi-table: per-table state with tbl routing in every grouping; table 0
    # payload (a,b) = (role, text), table 1 = (tool, CAST(ts_us AS varchar));
    # tombstones join within the same tbl only (isolation).
    o["cdc_multi_table"] = _duck(
        """
, mt AS (
  SELECT *,
    CAST((event_id*23) % 2 AS int) AS tbl,
    CASE WHEN (event_id*23) % 2 = 0 THEN 'ks1.transcripts' ELSE 'ks2.events' END AS fqtn,
    CASE WHEN (event_id*23) % 2 = 0 THEN role_val ELSE tool_val END AS a_val,
    CASE WHEN (event_id*23) % 2 = 0 THEN role_set ELSE tool_set END AS a_set,
    CASE WHEN (event_id*23) % 2 = 0 THEN text_val ELSE CAST(ts_us_val AS varchar) END AS b_val,
    CASE WHEN (event_id*23) % 2 = 0 THEN text_set ELSE ts_us_set END AS b_set
  FROM m
),
ups AS (SELECT * FROM mt WHERE op IN ('i','u')),
keys AS (SELECT DISTINCT tbl, conv_id, turn_idx FROM ups),
tomb AS (
  SELECT k.tbl, k.conv_id, k.turn_idx, max(t.writetime) AS tomb_wt
  FROM keys k JOIN mt t ON t.tbl = k.tbl AND t.conv_id = k.conv_id
   AND ((t.op = 'd' AND t.turn_idx = k.turn_idx)
     OR (t.op = 'p')
     OR (t.op = 'r'
         AND (CASE WHEN t.lo_incl THEN k.turn_idx >= t.r_lo ELSE k.turn_idx > t.r_lo END)
         AND (CASE WHEN t.hi_incl THEN k.turn_idx <= t.r_hi ELSE k.turn_idx < t.r_hi END)))
  GROUP BY 1, 2, 3
),
fin AS (
  SELECT u.fqtn, u.tbl, u.conv_id, u.turn_idx,
    last(u.a_val ORDER BY u.writetime, u.segment_id, u.position)
      FILTER (WHERE u.a_set AND u.writetime > coalesce(t.tomb_wt, -1)) AS a,
    last(u.b_val ORDER BY u.writetime, u.segment_id, u.position)
      FILTER (WHERE u.b_set AND u.writetime > coalesce(t.tomb_wt, -1)) AS b,
    bool_or(u.op = 'i' AND u.writetime > coalesce(t.tomb_wt, -1)) AS live,
    (bool_or(u.a_set AND u.writetime > coalesce(t.tomb_wt, -1))
     OR bool_or(u.b_set AND u.writetime > coalesce(t.tomb_wt, -1))) AS anycell
  FROM ups u LEFT JOIN tomb t
    ON t.tbl = u.tbl AND t.conv_id = u.conv_id AND t.turn_idx = u.turn_idx
  GROUP BY 1, 2, 3, 4
)
SELECT fqtn, conv_id, turn_idx, a, b FROM fin WHERE live OR anycell
"""
    )

    o["cdc_changes_export"] = _duck(
        """
SELECT segment_id, position, log_partition,
  CAST((writetime - (writetime % 1000)) / 1000 AS bigint) AS ts_ms,
  CASE WHEN op = 'i' THEN 'c' WHEN op = 'u' THEN 'u'
       WHEN op IN ('d','p') THEN 'd' ELSE 't' END AS envelope_op,
  conv_id,
  CASE WHEN op IN ('i','u','d') THEN turn_idx END AS turn_idx,
  CASE WHEN op IN ('i','u') THEN text_val END AS after_text,
  FALSE AS is_tombstone_record
FROM m
UNION ALL
SELECT segment_id, position + 1, log_partition,
  CAST((writetime - (writetime % 1000)) / 1000 AS bigint) AS ts_ms,
  'tombstone' AS envelope_op,
  conv_id,
  CASE WHEN op = 'd' THEN turn_idx END AS turn_idx,
  NULL AS after_text,
  TRUE AS is_tombstone_record
FROM m WHERE op IN ('d','p')
"""
    )

    _READ_TS = 1_700_000_000_000
    o["cdc_trace_spans"] = _duck(
        f"""
, env AS (
  SELECT segment_id, position, log_partition, conv_id,
         CASE WHEN op IN ('i','u','d') THEN turn_idx END AS turn_idx,
         CAST((writetime - (writetime % 1000)) / 1000 AS bigint) AS ts_ms,
         CASE WHEN op = 'i' THEN 'c' WHEN op = 'u' THEN 'u'
              WHEN op IN ('d','p') THEN 'd' ELSE 't' END AS envelope_op,
         FALSE AS is_tomb
  FROM m
  UNION ALL
  SELECT segment_id, position + 1, log_partition, conv_id,
         CASE WHEN op = 'd' THEN turn_idx END AS turn_idx,
         CAST((writetime - (writetime % 1000)) / 1000 AS bigint) AS ts_ms,
         'tombstone' AS envelope_op,
         TRUE AS is_tomb
  FROM m WHERE op IN ('d','p')
),
tr AS (
  SELECT *, concat('CommitLog-7-', CAST(segment_id AS varchar), '.log') AS file,
         md5(concat_ws(':',
             concat('CommitLog-7-', CAST(segment_id AS varchar), '.log'),
             CAST(position AS varchar), conv_id,
             coalesce(CAST(turn_idx AS varchar), ''),
             envelope_op,
             CASE WHEN is_tomb THEN 'true' ELSE 'false' END,
             CAST(ts_ms AS varchar))) AS trace_id
  FROM env
)
SELECT segment_id, position, log_partition, conv_id, turn_idx, trace_id,
  'db-log-write' AS name,
  substr(md5(concat(trace_id, 'w')), 1, 16) AS span_id,
  CAST(NULL AS varchar) AS parent_span_id,
  ts_ms AS start_ms, CAST(NULL AS bigint) AS lag_ms,
  'agents' AS db_instance, 'cassandra' AS db_type,
  'synthetic' AS db_cdc_name, 'transcripts' AS db_table,
  'false' AS db_snapshot, file AS db_file, CAST(position AS varchar) AS db_pos
FROM tr
UNION ALL
SELECT segment_id, position, log_partition, conv_id, turn_idx, trace_id,
  'debezium-read',
  substr(md5(concat(trace_id, 'r')), 1, 16),
  substr(md5(concat(trace_id, 'w')), 1, 16),
  {_READ_TS}, {_READ_TS} - ts_ms,
  'agents', 'cassandra', 'synthetic', 'transcripts',
  'false', file, CAST(position AS varchar)
FROM tr
"""
    )

    # ======================================================================
    # training-data pipeline oracles
    # ======================================================================
    H = "CAST(concat('0x', substr(md5({x}),1,15)) AS bigint)"
    CORPUS = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL SELECT doc_id + 200000, text || ' near duplicate tail'
    FROM documents WHERE doc_id % 10 = 5
)
"""
    SHINGLES = """
, sh AS (
  SELECT DISTINCT doc_id, substr(text, i, 5) AS shingle
  FROM corpus, generate_series(1, 700) t(i)
  WHERE i <= greatest(length(text) - 4, 1)
)
"""

    o["docs_dedup_exact"] = CORPUS + """
SELECT md5(text) AS content_md5, min(doc_id) AS representative,
       count(*) AS n_copies
FROM corpus GROUP BY 1 HAVING count(*) > 1
"""

    o["docs_dedup_jaccard"] = CORPUS + SHINGLES + """
, kept AS (
  SELECT doc_id, shingle FROM sh
  WHERE shingle IN (SELECT shingle FROM sh GROUP BY 1
                    HAVING count(DISTINCT doc_id) <= 10)
),
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(CAST(shared AS double) / (na.n + nb.n - shared), 4) AS jaccard
FROM pairs
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE round(CAST(shared AS double) / (na.n + nb.n - shared), 4) >= 0.5
"""

    o["docs_dedup_normalized"] = CORPUS.replace(
        ")\n", "  UNION ALL SELECT doc_id + 300000, upper(text) || ' !!'\n"
        "    FROM documents WHERE doc_id % 10 = 3\n)\n", 1
    ) + r"""
, norm AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                             '\s+', ' ', 'g')) AS nt
  FROM corpus
)
SELECT md5(nt) AS norm_md5, min(doc_id) AS representative,
       count(*) AS n_copies
FROM norm GROUP BY 1 HAVING count(*) > 1
"""

    # connected components via transitive closure (WITH RECURSIVE; UNION
    # dedups so it terminates — near-dup components are tiny families)
    o["docs_dup_clusters"] = (
        CORPUS.replace("WITH corpus", "WITH RECURSIVE corpus")
        + SHINGLES
        + """
, kept AS (
  SELECT doc_id, shingle FROM sh
  WHERE shingle IN (SELECT shingle FROM sh GROUP BY 1
                    HAVING count(DISTINCT doc_id) <= 10)
),
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY 1),
jp AS (
  SELECT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
    FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ) p
  JOIN sizes na ON na.doc_id = p.doc_a
  JOIN sizes nb ON nb.doc_id = p.doc_b
  WHERE round(CAST(shared AS double) / (na.n + nb.n - shared), 4) >= 0.5
),
sym AS (SELECT doc_a AS a, doc_b AS b FROM jp
        UNION ALL SELECT doc_b, doc_a FROM jp),
reach AS (
  SELECT a AS doc, a AS label FROM sym
  UNION
  SELECT s.a, r.label FROM reach r JOIN sym s ON s.b = r.doc
)
SELECT doc AS doc_id, min(label) AS cluster_id FROM reach GROUP BY 1
"""
    )

    o["docs_minhash_lsh"] = CORPUS + SHINGLES + f"""
, mh AS (
  SELECT doc_id, g.i,
         min({H.format(x="concat(CAST(g.i AS varchar), '#', shingle)")}) AS mh
  FROM sh, generate_series(0, 15) g(i)
  GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, CAST(i // 4 AS int) AS band,
         sum((mh % 1000000007) * ((i % 4) + 1)) AS band_sig
  FROM mh GROUP BY 1, 2
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""

    o["docs_simhash"] = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents
),
th AS (SELECT doc_id, {H.format(x="tok")} AS h FROM tok),
votes AS (
  SELECT doc_id, g.b,
         CASE WHEN (h >> g.b) & 1 = 1 THEN 1 ELSE -1 END AS v
  FROM th, generate_series(0, 31) g(b)
),
bits AS (
  SELECT doc_id, b,
         CASE WHEN sum(v) > 0 THEN (CAST(1 AS bigint) << b) ELSE 0 END AS bv
  FROM votes GROUP BY 1, 2
)
SELECT doc_id, CAST(sum(bv) AS bigint) AS simhash FROM bits GROUP BY 1
"""

    # all-pairs hamming oracle over the same 64-bit fingerprints — the banded
    # engine plan must equal it exactly (bands=4 > max_hamming=3 pigeonhole)
    o["docs_simhash_dups"] = CORPUS + f"""
, tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM corpus
),
th AS (SELECT doc_id, {H.format(x="tok")} AS h FROM tok),
votes AS (
  SELECT doc_id, g.b,
         CASE WHEN (h >> g.b) & 1 = 1 THEN 1 ELSE -1 END AS v
  FROM th, generate_series(0, 63) g(b)
),
bitvals AS (
  SELECT doc_id, b,
         CASE WHEN sum(v) > 0 THEN
           CASE WHEN b = 63 THEN CAST(-9223372036854775808 AS bigint)
                ELSE (CAST(1 AS bigint) << b) END
         ELSE 0 END AS bv
  FROM votes GROUP BY 1, 2
),
fp AS (SELECT doc_id, CAST(sum(bv) AS bigint) AS simhash FROM bitvals GROUP BY 1)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS int) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""

    o["docs_contamination"] = CORPUS + r"""
, bench AS (SELECT doc_id AS bench_id, text FROM documents WHERE doc_id % 17 = 0),
dt AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM corpus),
dg AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+12], ' ') AS gram
  FROM dt, generate_series(1, 2000) t(i) WHERE i + 12 <= len(toks)
),
bt AS (SELECT bench_id, string_split_regex(trim(text), '\s+') AS toks FROM bench),
bg AS (
  SELECT DISTINCT bench_id, array_to_string(toks[i:i+12], ' ') AS gram
  FROM bt, generate_series(1, 2000) t(i) WHERE i + 12 <= len(toks)
)
SELECT doc_id, count(DISTINCT gram) AS n_shared_grams,
       count(DISTINCT bench_id) AS n_bench_docs
FROM dg JOIN bg USING (gram) GROUP BY 1
"""

    o["docs_dup_gram_fraction"] = CORPUS + r"""
, dt AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM corpus),
dg AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+12], ' ') AS gram
  FROM dt, generate_series(1, 2000) t(i) WHERE i + 12 <= len(toks)
),
dup_grams AS (SELECT gram FROM dg GROUP BY gram HAVING count(*) >= 2),
tot AS (SELECT doc_id, count(*) AS n_grams FROM dg GROUP BY 1),
dup AS (
  SELECT doc_id, count(*) AS n_dup_grams
  FROM dg WHERE gram IN (SELECT gram FROM dup_grams) GROUP BY 1
)
SELECT t.doc_id, t.n_grams,
       COALESCE(d.n_dup_grams, 0) AS n_dup_grams,
       round(COALESCE(d.n_dup_grams, 0) * 1.0 / t.n_grams, 4) AS dup_frac
FROM tot t LEFT JOIN dup d USING (doc_id)
"""

    o["docs_sample_stratified"] = f"""
WITH s AS (
  SELECT doc_id, CAST(doc_id % 3 AS varchar) AS stratum,
         {H.format(x="concat('sample#', CAST(doc_id AS varchar))")} % 1000000 AS h
  FROM documents
)
SELECT doc_id, stratum FROM s
WHERE (stratum = '0' AND h < 500000) OR (stratum = '1' AND h < 200000)
"""

    o["docs_repetition"] = r"""
WITH rcorpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 400000, concat_ws(chr(10), text, text, text)
  FROM documents WHERE doc_id % 10 = 7
),
lns AS (
  SELECT doc_id, line FROM (
    SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM rcorpus
  ) WHERE len(line) > 0
),
lc AS (SELECT doc_id, line, count(*) AS c FROM lns GROUP BY 1, 2),
per_doc AS (
  SELECT doc_id,
    sum(c) AS n_lines,
    sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_cnt,
    sum(CASE WHEN c > 1 THEN c * len(line) ELSE 0 END) AS dup_chars,
    sum(c * len(line)) AS total_chars
  FROM lc GROUP BY 1
),
tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM rcorpus),
bi AS (
  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS g
  FROM tok, generate_series(1, 2000) t(i) WHERE i + 1 <= len(toks)
),
bc AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY 1, 2),
top AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_bi FROM bc GROUP BY 1)
SELECT r.doc_id,
  round(CAST(coalesce(dup_cnt, 0) AS double) / greatest(coalesce(n_lines, 1), 1), 4) AS dup_line_frac,
  round(CAST(coalesce(dup_chars, 0) AS double) / greatest(coalesce(total_chars, 1), 1), 4) AS dup_line_char_frac,
  round(CAST(coalesce(top_c, 0) AS double) / greatest(coalesce(n_bi, 1), 1), 4) AS top_bigram_frac
FROM rcorpus r
LEFT JOIN per_doc p ON p.doc_id = r.doc_id
LEFT JOIN top t ON t.doc_id = r.doc_id
"""

    o["docs_quality_filter"] = r"""
WITH rcorpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 400000, concat_ws(chr(10), text, text, text)
  FROM documents WHERE doc_id % 10 = 7
),
qt AS (
  SELECT doc_id,
         len(string_split_regex(trim(text), '\s+')) AS nt,
         round(CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS double)
               / greatest(len(string_split_regex(trim(text), '\s+')), 1), 4) AS ttr
  FROM rcorpus
),
lns AS (
  SELECT doc_id, line FROM (
    SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM rcorpus
  ) WHERE len(line) > 0
),
lc AS (SELECT doc_id, line, count(*) AS c FROM lns GROUP BY 1, 2),
per_doc AS (
  SELECT doc_id, sum(c) AS n_lines,
         sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_cnt
  FROM lc GROUP BY 1
),
tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM rcorpus),
bi AS (
  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS g
  FROM tok, generate_series(1, 2000) t(i) WHERE i + 1 <= len(toks)
),
bc AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY 1, 2),
top AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_bi FROM bc GROUP BY 1),
sig AS (
  SELECT q.doc_id,
    q.nt < 30 AS too_short,
    q.ttr < 0.35 AS low_div,
    round(CAST(coalesce(t.top_c, 0) AS double)
          / greatest(coalesce(t.n_bi, 1), 1), 4) > 0.08 AS rep_bi,
    round(CAST(coalesce(p.dup_cnt, 0) AS double)
          / greatest(coalesce(p.n_lines, 1), 1), 4) > 0.3 AS rep_lines
  FROM qt q
  LEFT JOIN per_doc p ON p.doc_id = q.doc_id
  LEFT JOIN top t ON t.doc_id = q.doc_id
)
SELECT doc_id,
  (NOT too_short AND NOT low_div AND NOT rep_bi AND NOT rep_lines) AS keep,
  concat_ws(',',
    CASE WHEN too_short THEN 'too_short' END,
    CASE WHEN low_div THEN 'low_diversity' END,
    CASE WHEN rep_bi THEN 'repetitive_bigram' END,
    CASE WHEN rep_lines THEN 'repeated_lines' END) AS drop_reasons
FROM sig
"""

    o["docs_quality"] = """
WITH t AS (
  SELECT doc_id, text,
         len(string_split_regex(trim(text), '\\s+')) AS nt,
         len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS nu
  FROM documents
)
SELECT doc_id,
  length(text) AS n_chars_calc,
  nt AS n_tokens,
  round(CAST(length(regexp_replace(text, '\\s', '', 'g')) AS double) / greatest(nt, 1), 4) AS mean_token_len,
  round(CAST(len(regexp_extract_all(text, ' (the|a|and|of|to) ')) AS double) / greatest(nt, 1), 4) AS stopword_ratio,
  nu AS n_unique_tokens,
  round(CAST(nu AS double) / greatest(nt, 1), 4) AS ttr
FROM t
"""

    # docs_token_stats: the same lookahead-free GPT-2 pretokenizer regex
    # runs under RE2; both engines use leftmost-first alternation so the
    # piece streams are identical (pinned piece-by-piece in
    # tests/test_token_stats.py). Quote in the contraction branch is SQL-
    # doubled ('').
    o["docs_token_stats"] = r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 500000,
         text || ' it''s v' || CAST(doc_id AS varchar) || '.2 (rev-'
              || CAST(doc_id AS varchar) || ')'
  FROM documents WHERE doc_id % 10 = 3
), p AS (
  SELECT doc_id,
         len(string_split_regex(trim(text), '\s+')) AS n_words,
         regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+') AS pieces
  FROM corpus
)
SELECT doc_id, n_words,
  len(pieces) AS n_pieces,
  len(list_filter(pieces, x -> regexp_matches(x, '^ ?\p{L}+$'))) AS n_word_pieces,
  len(list_filter(pieces, x -> regexp_matches(x, '^ ?\p{N}+$'))) AS n_num_pieces,
  len(list_filter(pieces, x -> regexp_matches(x, '^''(?:s|t|re|ve|m|ll|d)$'))) AS n_contraction_pieces,
  len(list_filter(pieces, x -> regexp_matches(x, '^ ?[^\s\p{L}\p{N}]+$'))) AS n_punct_pieces,
  round(CAST(len(pieces) AS double) / greatest(n_words, 1), 4) AS fertility
FROM p
"""

    # sequence packing: bucketed cumulative token mass, pack boundary at
    # every 256 tokens ((x - x%256)/256 is an exact double under 2^53)
    o["docs_pack_sequences"] = r"""
WITH t AS (
  SELECT doc_id, CAST(doc_id % 16 AS int) AS bucket,
         CAST(len(string_split_regex(trim(text), '\s+')) AS bigint) AS n_tok
  FROM documents
), c AS (
  SELECT doc_id, bucket, n_tok,
         coalesce(sum(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
  FROM t
)
SELECT bucket, CAST((cumb - cumb % 256) / 256 AS bigint) AS pack_id,
       count(*) AS n_docs, CAST(sum(n_tok) AS bigint) AS pack_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM c GROUP BY 1, 2
"""

    # mix rebalancing: rank within language by the shared md5-derived
    # 60-bit hash, keep the smallest language's count from every language
    _mix_h = HASH64_DUCK.format(x="concat('mix_', CAST(doc_id AS varchar))")
    o["docs_source_mix"] = f"""
WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
tgt AS (SELECT min(n) AS target FROM c),
r AS (
  SELECT doc_id, lang, source,
         row_number() OVER (PARTITION BY lang ORDER BY {_mix_h}, doc_id) AS rk
  FROM documents
)
SELECT doc_id, lang, source FROM r, tgt WHERE rk <= target
"""

    o["docs_langid"] = """
WITH s AS (
  SELECT doc_id,
    len(regexp_extract_all(text, ' (the|and|of) ')) AS s_en,
    len(regexp_extract_all(text, ' (el|la|de|y) ')) AS s_es,
    len(regexp_extract_all(text, ' (der|die|und) ')) AS s_de,
    len(regexp_extract_all(text, ' (le|la|et|des) ')) AS s_fr
  FROM documents
)
SELECT doc_id,
  CASE WHEN s_fr > 0 AND s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
       WHEN s_es > 0 AND s_es >= s_en AND s_es >= s_de THEN 'es'
       WHEN s_en > 0 AND s_en >= s_de THEN 'en'
       WHEN s_de > 0 THEN 'de'
       ELSE 'unknown' END AS pred_lang,
  greatest(CASE WHEN s_fr > 0 THEN s_fr ELSE 0 END,
           CASE WHEN s_es > 0 THEN s_es ELSE 0 END,
           CASE WHEN s_en > 0 THEN s_en ELSE 0 END,
           CASE WHEN s_de > 0 THEN s_de ELSE 0 END) AS marker_hits
FROM s
"""

    o["docs_fingerprint"] = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, substr(text, i, 5) AS shingle
  FROM documents, generate_series(1, 700) t(i)
  WHERE i <= greatest(length(text) - 4, 1)
)
SELECT doc_id, min({H.format(x="shingle")}) AS fp_min,
       max({H.format(x="shingle")}) AS fp_max,
       count(DISTINCT shingle) AS n_shingles
FROM sh GROUP BY 1
"""

    # mm_features: the corpus is ASCII (verified), so payload bytes == code
    # points; entropy/mean recomputed relationally from per-byte counts
    o["mm_features"] = """
WITH bytes AS (
  SELECT doc_id, ord(substr(text, i, 1)) AS b
  FROM documents, generate_series(1, 700) t(i)
  WHERE i <= length(text)
),
counts AS (SELECT doc_id, b, count(*) AS n FROM bytes GROUP BY 1, 2),
tot AS (SELECT doc_id, CAST(sum(n) AS bigint) AS n_bytes FROM counts GROUP BY 1)
SELECT t.doc_id, t.n_bytes,
       round(sum(c.b * c.n) / CAST(t.n_bytes AS double), 4) AS mean_byte,
       round(-sum((CAST(c.n AS double) / t.n_bytes)
                  * log2(CAST(c.n AS double) / t.n_bytes)), 4) AS byte_entropy
FROM counts c JOIN tot t USING (doc_id)
GROUP BY 1, 2
"""

    DOT = (
        "list_sum(list_transform(list_zip({a}, {b}), "
        "x -> CAST(x[1] AS double) * CAST(x[2] AS double)))"
    )
    o["emb_cosine_topk"] = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round({DOT.format(a="q.qv", b="c.embedding")}, 4) + 0.0 AS sim
  FROM embeddings c, q WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, sim FROM ranked WHERE rank <= 5
"""

    BUCKET = " + ".join(
        f"(CASE WHEN embedding[{j * 8 + 1}] >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(8)
    )
    o["emb_lsh_buckets"] = f"""
SELECT CAST({BUCKET} AS bigint) AS bucket, count(*) AS n_vectors
FROM embeddings GROUP BY 1
"""

    IVF_BASE = f"""
WITH cents AS (
  SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 16
),
ascored AS (
  SELECT e.vec_id, c.centroid_id,
         round(1.0 - {DOT.format(a="e.embedding", b="c.cv")}, 4) + 0.0 AS dist
  FROM embeddings e, cents c
),
assign AS (
  SELECT vec_id, centroid_id, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist ASC, centroid_id ASC) AS rn
    FROM ascored
  ) WHERE rn = 1
)
"""
    o["emb_ivf_assign"] = IVF_BASE + "SELECT vec_id, centroid_id, dist FROM assign"

    o["emb_ivf_topk"] = IVF_BASE + f"""
, q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
qs AS (
  SELECT q.query_id, q.qv, c.centroid_id,
         round(1.0 - {DOT.format(a="q.qv", b="c.cv")}, 4) + 0.0 AS dist
  FROM q, cents c
),
probes AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist ASC, centroid_id ASC) AS rn
    FROM qs
  ) WHERE rn <= 4
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round({DOT.format(a="p.qv", b="e.embedding")}, 4) + 0.0 AS sim
  FROM probes p
  JOIN assign a ON a.centroid_id = p.centroid_id
  JOIN embeddings e ON e.vec_id = a.vec_id
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, rank, sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""

    # IVF over k-means centroids: the oracle replays the engine's 2
    # deterministic Lloyd iterations exactly — integer-quantized vectors,
    # exact integer sums per cluster, one division per coordinate, rounded
    # argmin assignment with centroid_id tie-break.
    _KM_SCALE = 1_000_000
    km_parts = [
        f"""
qv AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS double) * {_KM_SCALE}) AS bigint)) AS qvec
  FROM embeddings
),
vv AS (SELECT vec_id, list_transform(qvec, x -> CAST(x AS double) / {_KM_SCALE}) AS vec FROM qv),
c0 AS (SELECT vec_id AS centroid_id, vec AS c_vec FROM vv WHERE vec_id < 16)"""
    ]
    for it in (1, 2):
        km_parts.append(
            f"""
s{it} AS (
  SELECT v.vec_id, c.centroid_id,
         round(1.0 - {DOT.format(a="v.vec", b="c.c_vec")}, 4) + 0.0 AS dist
  FROM vv v, c{it - 1} c
),
a{it} AS (
  SELECT vec_id, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist ASC, centroid_id ASC) AS rn
    FROM s{it}
  ) WHERE rn = 1
),
n{it} AS (SELECT centroid_id, count(*) AS n FROM a{it} GROUP BY 1),
m{it} AS (
  SELECT a.centroid_id, t.i, CAST(sum(q.qvec[t.i]) AS double) AS s
  FROM a{it} a JOIN qv q USING (vec_id), generate_series(1, 64) t(i)
  GROUP BY 1, 2
),
c{it} AS (
  SELECT m.centroid_id, list(m.s / (n.n * {_KM_SCALE}) ORDER BY m.i) AS c_vec
  FROM m{it} m JOIN n{it} n USING (centroid_id) GROUP BY 1
)"""
        )
    o["emb_ivf_kmeans_topk"] = (
        "WITH "
        + ",".join(km_parts)
        + f""",
fs AS (
  SELECT e.vec_id, c.centroid_id,
         round(1.0 - {DOT.format(a="e.embedding", b="c.c_vec")}, 4) + 0.0 AS dist
  FROM embeddings e, c2 c
),
fa AS (
  SELECT vec_id, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist ASC, centroid_id ASC) AS rn
    FROM fs
  ) WHERE rn = 1
),
kq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
kqs AS (
  SELECT q.query_id, q.qv, c.centroid_id,
         round(1.0 - {DOT.format(a="q.qv", b="c.c_vec")}, 4) + 0.0 AS dist
  FROM kq q, c2 c
),
kprobes AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist ASC, centroid_id ASC) AS rn
    FROM kqs
  ) WHERE rn <= 4
),
kscored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round({DOT.format(a="p.qv", b="e.embedding")}, 4) + 0.0 AS sim
  FROM kprobes p
  JOIN fa a ON a.centroid_id = p.centroid_id
  JOIN embeddings e ON e.vec_id = a.vec_id
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, rank, sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM kscored
) WHERE rank <= 5
"""
    )

    def _band_bucket_sql(band: int) -> str:
        return " + ".join(
            f"(CASE WHEN embedding[{j * 8 + band * 2 + 1}] >= 0 THEN {1 << j} ELSE 0 END)"
            for j in range(8)
        )

    BANDED = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, CAST({_band_bucket_sql(b)} AS bigint) AS bucket FROM embeddings"
        for b in range(4)
    )
    _PQ_BASE = """
WITH cb AS (
  SELECT j, vec_id AS code_id, embedding[j*16+1 : j*16+16] AS cw
  FROM embeddings, generate_series(0, 3) t(j) WHERE vec_id < 16
),
sv AS (
  SELECT vec_id, j, embedding[j*16+1 : j*16+16] AS sv
  FROM embeddings, generate_series(0, 3) t(j)
),
scored AS (
  SELECT sv.vec_id, sv.j, cb.code_id,
    round(list_sum(list_transform(list_zip(sv.sv, cb.cw),
      t -> (CAST(t[1] AS double) - CAST(t[2] AS double)) ** 2)), 4) AS dist
  FROM sv JOIN cb ON cb.j = sv.j
),
best AS (
  SELECT vec_id, j,
    min(CAST(round(dist * 10000, 0) AS bigint) * 1048576 + code_id) AS enc
  FROM scored GROUP BY 1, 2
),
codes AS (SELECT vec_id, j, enc % 1048576 AS code FROM best)
"""

    _SQ_BASE = """
WITH dims AS (SELECT CAST(i AS int) AS i FROM generate_series(1, 64) t(i)),
vals AS (
  SELECT vec_id, d.i, CAST(embedding[d.i] AS double) AS x
  FROM embeddings, dims d
),
b AS (SELECT i, min(x) AS mn, max(x) AS mx FROM vals GROUP BY 1),
codes AS (
  SELECT v.vec_id, v.i,
         CASE WHEN b.mx - b.mn > 0
              THEN CAST(floor((v.x - b.mn) / (b.mx - b.mn) * 255 + 0.5) AS int)
              ELSE 0 END AS c
  FROM vals v JOIN b USING (i)
)
"""

    o["emb_sq8_codes"] = _SQ_BASE + """
SELECT vec_id, string_agg(CAST(c AS varchar), '-' ORDER BY i) AS codes_s
FROM codes GROUP BY 1
"""

    o["emb_sq8_topk"] = _SQ_BASE + """
, dec AS (
  SELECT c.vec_id, list(b.mn + (c.c * (b.mx - b.mn)) / 255 ORDER BY c.i) AS dv
  FROM codes c JOIN b USING (i) GROUP BY 1
),
q AS (SELECT vec_id AS query_id,
             list_transform(embedding, v -> CAST(v AS double)) AS qv
      FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, d.vec_id AS neighbor_id,
         round(list_sum(list_transform(list_zip(q.qv, d.dv),
               t -> t[1] * t[2])), 4) + 0.0 AS score
  FROM dec d, q WHERE d.vec_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS int) AS rank, score
FROM ranked WHERE rank <= 5
"""

    o["emb_ivf_sq_topk"] = _SQ_BASE + f"""
, cents AS (
  SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 16
),
ascored AS (
  SELECT e.vec_id, c.centroid_id,
         round(1.0 - {DOT.format(a="e.embedding", b="c.cv")}, 4) + 0.0 AS dist
  FROM embeddings e, cents c
),
iassign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist ASC, centroid_id ASC) AS rn
    FROM ascored
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
qs AS (
  SELECT q.query_id, c.centroid_id,
         round(1.0 - {DOT.format(a="q.qv", b="c.cv")}, 4) + 0.0 AS dist
  FROM q, cents c
),
probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist ASC, centroid_id ASC) AS rn
    FROM qs
  ) WHERE rn <= 4
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN iassign a USING (centroid_id)
  WHERE a.vec_id <> p.query_id
),
dec AS (
  SELECT c.vec_id, list(b.mn + (c.c * (b.mx - b.mn)) / 255 ORDER BY c.i) AS dv
  FROM codes c JOIN b USING (i) GROUP BY 1
),
scored AS (
  SELECT cd.query_id, cd.neighbor_id,
         round(list_sum(list_transform(
             list_zip(list_transform(q.qv, v -> CAST(v AS double)), d.dv),
             t -> t[1] * t[2])), 4) + 0.0 AS score
  FROM cand cd
  JOIN dec d ON d.vec_id = cd.neighbor_id
  JOIN q ON q.query_id = cd.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS int) AS rank, score
FROM ranked WHERE rank <= 5
"""

    o["emb_pq_codes"] = _PQ_BASE + """
SELECT vec_id, string_agg(CAST(code AS varchar), '-' ORDER BY j) AS codes_s
FROM codes GROUP BY 1
"""

    o["emb_pq_topk"] = _PQ_BASE + """
, lut AS (
  SELECT q.vec_id AS query_id, cb.j, cb.code_id AS code,
    CAST(round(round(list_sum(list_transform(
        list_zip(q.embedding[cb.j*16+1 : cb.j*16+16], cb.cw),
        t -> (CAST(t[1] AS double) - CAST(t[2] AS double)) ** 2)), 4) * 10000, 0) AS bigint) AS d4
  FROM embeddings q, cb WHERE q.vec_id < 8
),
adc AS (
  SELECT l.query_id, c.vec_id AS neighbor_id, sum(d4) AS d4_sum
  FROM codes c JOIN lut l ON l.j = c.j AND l.code = c.code
  WHERE l.query_id <> c.vec_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY d4_sum, neighbor_id) AS rank
  FROM adc
)
SELECT query_id, neighbor_id, CAST(rank AS int) AS rank,
       CAST(d4_sum AS double) / 10000.0 AS adc_dist
FROM ranked WHERE rank <= 5
"""

    o["emb_pq_rerank_topk"] = _PQ_BASE + f"""
, lut AS (
  SELECT q.vec_id AS query_id, cb.j, cb.code_id AS code,
    CAST(round(round(list_sum(list_transform(
        list_zip(q.embedding[cb.j*16+1 : cb.j*16+16], cb.cw),
        t -> (CAST(t[1] AS double) - CAST(t[2] AS double)) ** 2)), 4) * 10000, 0) AS bigint) AS d4
  FROM embeddings q, cb WHERE q.vec_id < 8
),
adc AS (
  SELECT l.query_id, c.vec_id AS neighbor_id, sum(d4) AS d4_sum
  FROM codes c JOIN lut l ON l.j = c.j AND l.code = c.code
  WHERE l.query_id <> c.vec_id
  GROUP BY 1, 2
),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY d4_sum, neighbor_id) AS rn
    FROM adc
  ) WHERE rn <= 20
),
qv AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
exact AS (
  SELECT c.query_id, c.neighbor_id,
         round({DOT.format(a="q.qv", b="e.embedding")}, 4) + 0.0 AS sim
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.neighbor_id
  JOIN qv q ON q.query_id = c.query_id
),
rr AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id) AS rank
  FROM exact
)
SELECT query_id, neighbor_id, CAST(rank AS int) AS rank, sim
FROM rr WHERE rank <= 5
"""

    o["emb_ivf_pq_topk"] = _PQ_BASE + f"""
, cents AS (
  SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 16
),
ascored AS (
  SELECT e.vec_id, c.centroid_id,
         round(1.0 - {DOT.format(a="e.embedding", b="c.cv")}, 4) + 0.0 AS dist
  FROM embeddings e, cents c
),
iassign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist ASC, centroid_id ASC) AS rn
    FROM ascored
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
qs AS (
  SELECT q.query_id, c.centroid_id,
         round(1.0 - {DOT.format(a="q.qv", b="c.cv")}, 4) + 0.0 AS dist
  FROM q, cents c
),
probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY dist ASC, centroid_id ASC) AS rn
    FROM qs
  ) WHERE rn <= 4
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN iassign a USING (centroid_id)
  WHERE a.vec_id <> p.query_id
),
lut AS (
  SELECT q.query_id, cb.j, cb.code_id AS code,
    CAST(round(round(list_sum(list_transform(
        list_zip(q.qv[cb.j*16+1 : cb.j*16+16], cb.cw),
        t -> (CAST(t[1] AS double) - CAST(t[2] AS double)) ** 2)), 4) * 10000, 0) AS bigint) AS d4
  FROM q, cb
),
adc AS (
  SELECT c.query_id, c.neighbor_id, sum(l.d4) AS d4_sum
  FROM cand c
  JOIN codes cd ON cd.vec_id = c.neighbor_id
  JOIN lut l ON l.query_id = c.query_id AND l.j = cd.j AND l.code = cd.code
  GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY d4_sum, neighbor_id) AS rank
  FROM adc
)
SELECT query_id, neighbor_id, CAST(rank AS int) AS rank,
       CAST(d4_sum AS double) / 10000.0 AS adc_dist
FROM ranked WHERE rank <= 5
"""

    # the composed-stack refine oracle shares every CTE with emb_ivf_pq_topk
    # up to the ADC ranking; only the tail differs (top-20 candidates ->
    # exact re-rank), so derive it instead of duplicating 60 lines
    o["emb_ivf_pq_rerank_topk"] = o["emb_ivf_pq_topk"].replace(
        """SELECT query_id, neighbor_id, CAST(rank AS int) AS rank,
       CAST(d4_sum AS double) / 10000.0 AS adc_dist
FROM ranked WHERE rank <= 5""",
        f""", cand2 AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 20),
exact AS (
  SELECT c.query_id, c.neighbor_id,
         round({DOT.format(a="q.qv", b="e.embedding")}, 4) + 0.0 AS sim
  FROM cand2 c
  JOIN embeddings e ON e.vec_id = c.neighbor_id
  JOIN q ON q.query_id = c.query_id
),
rr AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id) AS rank
  FROM exact
)
SELECT query_id, neighbor_id, CAST(rank AS int) AS rank, sim
FROM rr WHERE rank <= 5""",
    )

    o["emb_near_dups"] = f"""
WITH banded AS ({BANDED}),
cand AS (
  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id
)
SELECT c.id_a, c.id_b,
       round({DOT.format(a="a.embedding", b="b.embedding")}, 4) AS sim
FROM cand c
JOIN embeddings a ON a.vec_id = c.id_a
JOIN embeddings b ON b.vec_id = c.id_b
WHERE round({DOT.format(a="a.embedding", b="b.embedding")}, 4) >= 0.25
"""

    o["mm_binary_meta"] = """
SELECT doc_id, 'text' AS modality, 'synthetic' AS codec,
       CAST(octet_length(encode(text)) AS bigint) AS n_bytes,
       md5(text) AS content_md5
FROM documents
"""

    # frame sampling: DuckDB cannot slice BLOBs, so the oracle slices the
    # hex projection at doubled offsets (1 byte = 2 hex chars) — exactly
    # the engine's hex(substr(payload, off+1, len)). generate_series is
    # inclusive of its stop in both engines; empty payloads yield no frames.
    o["mm_frame_sample"] = """
WITH t AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS bigint) AS nb
  FROM documents
), f AS (
  SELECT doc_id, hx, nb,
         unnest(generate_series(
           0, CAST((nb + 63 - (nb + 63) % 64) / 64 AS bigint) - 1, 4
         )) AS frame_idx
  FROM t WHERE nb > 0
)
SELECT doc_id, frame_idx, frame_idx * 64 AS frame_off,
       least(64, nb - frame_idx * 64) AS frame_len,
       substring(hx, frame_idx * 128 + 1,
                 CAST(least(64, nb - frame_idx * 64) * 2 AS int)) AS frame_hex
FROM f
"""

    return o
