"""Deterministic synthetic mutation-log generator (FIXTURES F2).

Replaces the reference's role of Cassandra itself: where the reference reads
real ``CommitLog-<v>-<id>.log`` segments written by a live cluster
(CommitLogIdxProcessor, reference core/.../CommitLogIdxProcessor.java:109-163),
our engine reads a Parquet ``mutation_log`` table partitioned by
``segment_id`` — one directory per commit-log segment analog.

Determinism at scale: every random choice is a pure function of
``xxhash64(tag, seed, id)`` — no global RNG state, no driver-side loops — so
the same (seed, n_events) produces byte-identical input at any partitioning
and both bench parallelism levels see the same stream (SURVEY §7 hard part 5).

Skew mode ("zipf conv_id", FIXTURES F3): a configurable fraction of events is
funneled into conv_0 to exercise salted reduction + AQE skew handling
(north_rule).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..model import MUTATION_LOG_SCHEMA

WT_BASE = 1_700_000_000_000_000  # epoch micros base


def _h(tag: str, seed: int, *cols) -> "F.Column":
    """Pure per-row hash — deterministic, partition-independent."""
    return F.xxhash64(F.lit(tag), F.lit(seed), *cols)


def _u(tag: str, seed: int, mod: int, *cols) -> "F.Column":
    return F.pmod(_h(tag, seed, *cols), F.lit(mod))


def gen_mutation_log(
    spark: SparkSession,
    n_events: int,
    n_convs: int = 200,
    max_turns: int = 40,
    events_per_segment: int = 1000,
    n_log_partitions: int = 4,
    seed: int = 42,
    hot_fraction: float = 0.0,
    dup_fraction: float = 0.0,
    op_weights: tuple[int, int, int, int, int] = (62, 18, 8, 4, 8),
    schema_v2_from_event: int | None = None,
    wt_jitter_events: int = 500,
    num_partitions: int | None = None,
    ttl_seconds: int | None = None,
) -> DataFrame:
    """Build the mutation-log DataFrame (schema = model.MUTATION_LOG_SCHEMA).

    ``op_weights`` = relative weights of (i, u, d, p, r).
    ``hot_fraction``>0 routes that fraction of events to conv_0 (skew mode).
    ``dup_fraction``>0 appends exact duplicate rows (same key+segment+position)
    to exercise the offset dedup filter (reference handleMutation:259-263).
    ``wt_jitter_events`` controls how far writetimes can invert relative to log
    order, creating genuine LWW conflicts across segments.
    ``ttl_seconds`` turns the deletion-bearing tool cells into EXPIRING cells
    (deletion_ts = writetime + ttl — the D7 TTL rule, reference
    populateRegularColumns:575-588) instead of immediate cell tombstones
    (deletion_ts = writetime, the default).
    """
    wi, wu, wd, wp, wr = op_weights
    total_w = wi + wu + wd + wp + wr

    df = spark.range(0, n_events, 1, num_partitions or spark.sparkContext.defaultParallelism)
    gid = F.col("id")

    opsel = _u("op", seed, total_w, gid)
    op = (
        F.when(opsel < wi, F.lit("i"))
        .when(opsel < wi + wu, F.lit("u"))
        .when(opsel < wi + wu + wd, F.lit("d"))
        .when(opsel < wi + wu + wd + wp, F.lit("p"))
        .otherwise(F.lit("r"))
    )

    # conversation pick, with optional hot-key funnel (zipf-ish skew)
    conv_u = _u("conv", seed, 1_000_000, gid)
    base_conv = F.pmod(conv_u, F.lit(n_convs))
    if hot_fraction > 0:
        hot_cut = int(hot_fraction * 1_000_000)
        conv_n = F.when(conv_u < hot_cut, F.lit(0)).otherwise(
            F.lit(1) + F.pmod(conv_u, F.lit(max(n_convs - 1, 1)))
        )
    else:
        conv_n = base_conv
    conv_id = F.concat(F.lit("conv_"), conv_n.cast("string"))

    turn = _u("turn", seed, max_turns, gid).cast("int")

    # writetime: increases with log order but with bounded inversions so that
    # replay order != writetime order (the reason LWW exists; reference event
    # ts rules Cassandra4CommitLogReadHandlerImpl.java:429).
    # Construction: wt = BASE + (id + jitter)*1024 + (id mod 1024) with
    # |jitter| <= 511. Globally UNIQUE (two ids collide only if id1 ≡ id2
    # mod 1024 AND jitter differs by a multiple of 1024 — impossible with
    # |jitter| < 512) yet inverted across up to ~2*jitter log positions, so
    # strict writetime comparisons are deterministic and order-insensitive.
    if wt_jitter_events > 511:
        raise ValueError("wt_jitter_events must be <= 511 to keep writetimes unique")
    jitter = _u("wt", seed, 2 * wt_jitter_events, gid) - F.lit(wt_jitter_events)
    writetime = F.lit(WT_BASE) + (gid + jitter) * F.lit(1024) + F.pmod(gid, F.lit(1024))

    segment_id = (gid / F.lit(events_per_segment)).cast("long")
    position = F.pmod(gid, F.lit(events_per_segment)) * F.lit(16)
    log_partition = F.pmod(segment_id, F.lit(n_log_partitions)).cast("int")

    # --- cells ------------------------------------------------------------
    is_upsert = op.isin("i", "u")
    roles = F.array(F.lit("user"), F.lit("assistant"), F.lit("tool"), F.lit("system"))
    role_val = F.element_at(roles, (_u("role", seed, 4, gid) + 1).cast("int"))
    text_val = F.concat(
        F.lit("msg "), conv_id, F.lit(" t"), turn.cast("string"), F.lit(" e"), gid.cast("string")
    )
    tool_present = _u("toolp", seed, 3, gid) == 0
    tool_val = F.when(tool_present, F.concat(F.lit("tool_"), _u("tool", seed, 8, gid).cast("string")))
    ts_val = F.timestamp_micros(writetime)

    # sparse set-flags for UPDATE (reference populateRegularColumns:548-574):
    # inserts set every column; updates set a hash-chosen non-empty subset.
    bits = _u("bits", seed, 8, gid)  # 3 bits: role, text, tool(+ts)
    is_insert = op == F.lit("i")
    role_set = is_insert | (F.pmod(bits, F.lit(2)) == 1)
    text_set = is_insert | (F.pmod((bits / 2).cast("long"), F.lit(2)) == 1) | (bits == 0)
    tool_set = is_insert | (F.pmod((bits / 4).cast("long"), F.lit(2)) == 1)
    ts_set = is_insert | text_set  # ts rides with text updates

    # occasional cell tombstone / TTL expiry on tool (reference TTL math
    # SnapshotProcessor.calculateDeletionTs:342-344): a set cell with
    # deletion_ts acts as a null assignment at the event writetime.
    tool_del = tool_set & (_u("ttl", seed, 20, gid) == 0)

    del_at = writetime + F.lit(int(ttl_seconds) * 1_000_000) if ttl_seconds else writetime

    def cell(set_col, value_col, del_col=None):
        del_ts = (
            F.when(del_col, del_at).otherwise(F.lit(None).cast("long"))
            if del_col is not None
            else F.lit(None).cast("long")
        )
        # an EXPIRING cell (ttl mode) carries its live value alongside the
        # future deletion_ts; an immediate cell tombstone carries none
        keep_value = (
            set_col
            if ttl_seconds
            else set_col & (del_ts.isNull() if del_col is not None else F.lit(True))
        )
        return F.struct(
            F.when(keep_value, value_col).otherwise(F.lit(None)).alias("value"),
            del_ts.alias("deletion_ts"),
            F.coalesce(set_col, F.lit(False)).alias("set"),
        )

    cells = F.when(
        is_upsert,
        F.struct(
            cell(role_set, role_val).alias("role"),
            cell(text_set, text_val).alias("text"),
            cell(tool_set, tool_val, tool_del).alias("tool"),
            cell(ts_set, ts_val).alias("ts"),
        ),
    )

    # --- range tombstone bounds (reference RangeData / bound markers,
    # Cassandra4CommitLogReadHandlerImpl.java:461-511) ---------------------
    is_range = op == F.lit("r")
    lo = _u("rlo", seed, max_turns, gid).cast("int")
    span = _u("rspan", seed, 8, gid).cast("int")
    hi = F.least(lo + span, F.lit(max_turns - 1)).cast("int")
    s_incl = _u("rsi", seed, 2, gid) == 0
    e_incl = _u("rei", seed, 2, gid) == 0
    range_start = F.when(
        is_range,
        F.struct(
            F.when(s_incl, F.lit("INCL_START_BOUND")).otherwise(F.lit("EXCL_START_BOUND")).alias("method"),
            lo.alias("turn_idx"),
        ),
    )
    range_end = F.when(
        is_range,
        F.struct(
            F.when(e_incl, F.lit("INCL_END_BOUND")).otherwise(F.lit("EXCL_END_BOUND")).alias("method"),
            hi.alias("turn_idx"),
        ),
    )

    if schema_v2_from_event is not None:
        schema_version = F.when(gid >= F.lit(schema_v2_from_event), F.lit(2)).otherwise(F.lit(1))
    else:
        schema_version = F.lit(1)

    out = df.select(
        segment_id.alias("segment_id"),
        position.alias("position"),
        log_partition.alias("log_partition"),
        op.alias("op"),
        conv_id.alias("conv_id"),
        F.when(op.isin("i", "u", "d"), turn).alias("turn_idx"),
        writetime.alias("writetime"),
        cells.alias("cells"),
        range_start.alias("range_start"),
        range_end.alias("range_end"),
        schema_version.cast("int").alias("schema_version"),
        F.lit(False).alias("snapshot"),
    )

    if dup_fraction > 0:
        dup_cut = int(dup_fraction * 1000)
        dups = out.where(_u("dup", seed, 1000, F.col("segment_id") * 100000 + F.col("position")) < dup_cut)
        out = out.unionByName(dups)

    return out


def gen_multi_table_log(
    spark: SparkSession,
    specs,
    n_events: int,
    n_convs: int = 100,
    max_turns: int = 30,
    events_per_segment: int = 1000,
    n_log_partitions: int = 2,
    seed: int = 7,
    op_weights: tuple[int, int, int, int, int] = (62, 18, 8, 4, 8),
    wt_jitter_events: int = 200,
) -> DataFrame:
    """Multi-table commit-log analog (model.MULTI_TABLE_LOG_SCHEMA).

    One totally-ordered (segment_id, position) stream interleaving mutations
    of every table in ``specs`` — exactly the reference's shape: a commit-log
    segment carries ALL cdc-enabled tables' mutations, each row decoded
    against its own table schema (CommitLogReadHandler + SchemaHolder pair;
    scenario MultipleTablesProcessingTest.java:27-106). Payload cells are
    serialized per-table (binary), keys are pre-normalized to the canonical
    (conv_id, turn_idx) names.

    Payload values are pure hash functions of (table, event id, column), so
    any replay oracle can recompute them independently.
    """
    from ..model import TableSpec  # noqa: F401 (type reference)
    from pyspark.sql import types as T

    wi, wu, wd, wp, wr = op_weights
    total_w = wi + wu + wd + wp + wr
    if wt_jitter_events > 511:
        raise ValueError("wt_jitter_events must be <= 511")

    df = spark.range(0, n_events, 1, spark.sparkContext.defaultParallelism)
    gid = F.col("id")

    opsel = _u("op", seed, total_w, gid)
    op = (
        F.when(opsel < wi, F.lit("i"))
        .when(opsel < wi + wu, F.lit("u"))
        .when(opsel < wi + wu + wd, F.lit("d"))
        .when(opsel < wi + wu + wd + wp, F.lit("p"))
        .otherwise(F.lit("r"))
    )
    conv_n = _u("conv", seed, n_convs, gid)
    turn = _u("turn", seed, max_turns, gid).cast("int")
    jitter = _u("wt", seed, 2 * wt_jitter_events, gid) - F.lit(wt_jitter_events)
    writetime = F.lit(WT_BASE) + (gid + jitter) * F.lit(1024) + F.pmod(gid, F.lit(1024))
    segment_id = (gid / F.lit(events_per_segment)).cast("long")
    position = F.pmod(gid, F.lit(events_per_segment)) * F.lit(16)
    log_partition = F.pmod(segment_id, F.lit(n_log_partitions)).cast("int")
    table_sel = _u("tbl", seed, len(specs), gid)

    is_upsert = op.isin("i", "u")
    is_insert = op == F.lit("i")
    is_range = op == F.lit("r")
    lo = _u("rlo", seed, max_turns, gid).cast("int")
    hi = F.least(lo + _u("rspan", seed, 6, gid).cast("int"), F.lit(max_turns - 1)).cast("int")
    range_start = F.when(
        is_range,
        F.struct(
            F.when(_u("rsi", seed, 2, gid) == 0, F.lit("INCL_START_BOUND"))
            .otherwise(F.lit("EXCL_START_BOUND")).alias("method"),
            lo.alias("turn_idx"),
        ),
    )
    range_end = F.when(
        is_range,
        F.struct(
            F.when(_u("rei", seed, 2, gid) == 0, F.lit("INCL_END_BOUND"))
            .otherwise(F.lit("EXCL_END_BOUND")).alias("method"),
            hi.alias("turn_idx"),
        ),
    )

    def value_for(spec, idx: int, name: str, dtype) -> "F.Column":
        tag = f"v:{spec.fqtn}:{name}"
        h = _u(tag, seed, 1_000_000, gid)
        if isinstance(dtype, T.StringType):
            return F.concat(F.lit(f"{name}_"), h.cast("string"))
        if isinstance(dtype, T.IntegerType):
            return h.cast("int")
        if isinstance(dtype, T.LongType):
            return h.cast("long")
        if isinstance(dtype, T.DoubleType):
            return (h / F.lit(1000.0)).cast("double")
        if isinstance(dtype, T.TimestampType):
            return F.timestamp_micros(F.lit(WT_BASE) + h * F.lit(1_000_000))
        if isinstance(dtype, T.BooleanType):
            return (F.pmod(h, F.lit(2)) == 0).cast("boolean")
        if isinstance(dtype, (T.ByteType, T.ShortType)):
            return F.pmod(h, F.lit(100)).cast(dtype.simpleString())
        if isinstance(dtype, T.FloatType):
            return (h / F.lit(100.0)).cast("float")
        if isinstance(dtype, T.DecimalType):
            return (h / F.lit(1000.0)).cast(dtype)
        if isinstance(dtype, T.DateType):
            return F.date_add(F.lit("2020-01-01").cast("date"), F.pmod(h, F.lit(3650)).cast("int"))
        if isinstance(dtype, T.BinaryType):
            return F.encode(F.concat(F.lit("b_"), h.cast("string")), "utf-8")
        if isinstance(dtype, T.ArrayType):
            n = F.pmod(h, F.lit(3)) + 1  # 1..3 elements
            elems = [
                F.when(
                    F.lit(k) < n,
                    value_for(spec, idx, f"{name}[{k}]", dtype.elementType),
                )
                for k in range(3)
            ]
            return F.filter(F.array(*elems), lambda x: x.isNotNull())
        if isinstance(dtype, T.MapType):
            # second key is from a disjoint space (fixed literal) so the two
            # entries can never collide (mapKeyDedupPolicy=EXCEPTION default)
            k0 = value_for(spec, idx, f"{name}.k0", dtype.keyType)
            v0 = value_for(spec, idx, f"{name}.v0", dtype.valueType)
            if isinstance(dtype.keyType, T.StringType):
                k1 = F.lit("fixed_key")
            elif isinstance(dtype.keyType, (T.IntegerType, T.LongType)):
                k1 = F.lit(2_000_000).cast(dtype.keyType.simpleString())
            else:
                return F.create_map(k0, v0)
            v1 = value_for(spec, idx, f"{name}.v1", dtype.valueType)
            return F.create_map(k0, v0, k1, v1)
        if isinstance(dtype, T.StructType):
            return F.struct(
                *[
                    value_for(spec, idx, f"{name}.{f.name}", f.dataType).alias(f.name)
                    for f in dtype.fields
                ]
            )
        raise TypeError(f"unsupported payload type for generator: {dtype}")

    parts = []
    for i, spec in enumerate(specs):
        rows = df.where(table_sel == i)
        cell_structs = []
        for idx, (name, dtype) in enumerate(spec.payload):
            set_col = is_insert | (
                _u(f"s:{spec.fqtn}:{name}", seed, 3, gid) > 0
            )
            val = value_for(spec, idx, name, dtype)
            cell_structs.append(
                F.struct(
                    F.when(set_col, val).otherwise(F.lit(None).cast(dtype)).alias("value"),
                    F.lit(None).cast("long").alias("deletion_ts"),
                    set_col.alias("set"),
                ).alias(name)
            )
        cells = F.when(is_upsert, F.struct(*cell_structs))
        parts.append(
            rows.select(
                segment_id.alias("segment_id"),
                position.alias("position"),
                log_partition.alias("log_partition"),
                F.lit(spec.keyspace).alias("keyspace"),
                F.lit(spec.table).alias("table"),
                op.alias("op"),
                F.concat(F.lit(f"{spec.table[:1]}k_"), conv_n.cast("string")).alias("conv_id"),
                F.when(op.isin("i", "u", "d"), turn).alias("turn_idx"),
                writetime.alias("writetime"),
                F.when(is_upsert, F.encode(F.to_json(cells), "utf-8")).alias("payload"),
                range_start.alias("range_start"),
                range_end.alias("range_end"),
                F.lit(1).cast("int").alias("schema_version"),
                F.lit(False).alias("snapshot"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def pack_batches(
    log: DataFrame, group_size: int = 4, position_stride: int | None = None
) -> DataFrame:
    """Producer-side analog of LOGGED batches: pack each run of
    ``group_size`` consecutive mutations within a segment into ONE atomic
    multi-change record (model.BATCH_LOG_SCHEMA) at the run's first
    (segment_id, position) — the commit-log shape the reference sees when a
    client writes a batch (one Mutation, several PartitionUpdates, one
    entryLocation: handleMutation:255-272, BatchTest.java:26-96).

    Members keep their explicit writetimes (per-statement USING TIMESTAMP);
    the batch default writetime is the members' min. Exploding the result
    therefore replays to exactly the same final state as the flat log
    (writetimes drive LWW; positions only break ties writetime uniqueness
    already settles).

    ``position_stride``: when the log's positions advance by a known fixed
    stride (both generators use 16), the batch key is pure arithmetic —
    floor(position / (stride * group_size)) — and the plan is ONE keyed
    shuffle. Without it, a row_number window assigns run indices (an extra
    sort+shuffle — fine for the producer-side cold path, not the benched
    one)."""
    if position_stride is not None:
        batched = log.withColumn(
            "_b",
            (F.col("position") / F.lit(int(position_stride) * group_size)).cast("long"),
        )
    else:
        from pyspark.sql.window import Window

        w = Window.partitionBy("segment_id", "log_partition").orderBy("position")
        batched = log.withColumn(
            "_b", ((F.row_number().over(w) - 1) / F.lit(group_size)).cast("long")
        )
    change = F.struct(
        F.col("op"),
        F.col("conv_id"),
        F.col("turn_idx"),
        F.col("writetime"),
        F.col("cells"),
        F.col("range_start"),
        F.col("range_end"),
    )
    return (
        batched.groupBy("segment_id", "log_partition", "_b")
        .agg(
            F.min("position").alias("position"),
            F.min("writetime").alias("writetime"),
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(F.col("position").alias("_pos"), change.alias("c"))
                    )
                ),
                lambda x: x["c"],
            ).alias("changes"),
            F.min("schema_version").alias("schema_version"),
            F.max("snapshot").alias("snapshot"),
        )
        .select(
            "segment_id",
            "position",
            "log_partition",
            "writetime",
            "changes",
            "schema_version",
            "snapshot",
        )
    )


def pack_mt_batches(
    log: DataFrame, group_size: int = 4, position_stride: int | None = 16
) -> DataFrame:
    """Multi-table twin of pack_batches: pack runs of mutations WITHIN A
    KEYSPACE into one atomic record (model.MT_BATCH_LOG_SCHEMA). A batch may
    span TABLES of that keyspace — exactly the reference Mutation shape
    (per-keyspace, PartitionUpdates each naming their own table,
    handleMutation:255-272)."""
    if position_stride is not None:
        batched = log.withColumn(
            "_b",
            (F.col("position") / F.lit(int(position_stride) * group_size)).cast("long"),
        )
    else:
        from pyspark.sql.window import Window

        w = Window.partitionBy("segment_id", "log_partition", "keyspace").orderBy("position")
        batched = log.withColumn(
            "_b", ((F.row_number().over(w) - 1) / F.lit(group_size)).cast("long")
        )
    change = F.struct(
        F.col("table"),
        F.col("op"),
        F.col("conv_id"),
        F.col("turn_idx"),
        F.col("writetime"),
        F.col("payload"),
        F.col("range_start"),
        F.col("range_end"),
    )
    return (
        batched.groupBy("segment_id", "log_partition", "keyspace", "_b")
        .agg(
            F.min("position").alias("position"),
            F.min("writetime").alias("writetime"),
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(F.col("position").alias("_pos"), change.alias("c"))
                    )
                ),
                lambda x: x["c"],
            ).alias("changes"),
            F.min("schema_version").alias("schema_version"),
            F.max("snapshot").alias("snapshot"),
        )
        .select(
            "segment_id",
            "position",
            "log_partition",
            "keyspace",
            "writetime",
            "changes",
            "schema_version",
            "snapshot",
        )
    )


def split_range_markers(log: DataFrame) -> DataFrame:
    """Rewrite paired op='r' rows into UNPAIRED bound-marker rows (the
    commit-log fidelity shape: Cassandra emits start and end markers as
    separate events; reference RangeTombstoneContext pairs them). The start
    marker keeps the row's position, the end marker lands at position+8
    (positions stride 16, so the slot is free and total order is preserved).
    """
    r = log.where(F.col("op") == "r")
    rest = log.where(F.col("op") != "r")
    null_bound = F.lit(None).cast("struct<method:string,turn_idx:int>")
    starts = r.withColumn("range_end", null_bound)
    ends = r.withColumn("range_start", null_bound).withColumn(
        "position", F.col("position") + F.lit(8)
    )
    return rest.unionByName(starts).unionByName(ends)


def tag_table_kinds(log: DataFrame, period: int = 11) -> DataFrame:
    """Deterministically tag a slice of the log as mutations against
    unsupported table kinds (D3 classify-and-skip scenario: COUNTER /
    MATERIALIZED_VIEW / SECONDARY_INDEX tables interleaved in the same
    commit log — PartitionType.getPartitionType:137-156). One row in
    ``period`` gets a rotating unsupported kind; the rest are 'cdc'."""
    slot = F.pmod(
        (F.col("position") / F.lit(16)).cast("long") + F.col("segment_id"),
        F.lit(period),
    )
    return log.withColumn(
        "table_kind",
        F.when(slot == 0, F.lit("counter"))
        .when(slot == 1, F.lit("materialized_view"))
        .when(slot == 2, F.lit("secondary_index"))
        .otherwise(F.lit("cdc")),
    )


def writetime_inversion_window_us(wt_jitter_events: int = 500) -> int:
    """Upper bound (micros) on how far BELOW the max applied writetime a
    future event's writetime can land, for logs written by this generator.

    From the wt construction above (wt = BASE + (gid + jitter)*1024 +
    gid%1024, |jitter| <= J): once an event with writetime W has been
    applied, any not-yet-seen gid' > gid has wt' > W - (2*J + 2)*1024.
    Tombstones older than ``max_applied_wt - this window`` can therefore
    never be out-raced by a late upsert — the safe ``gc_grace_us`` for
    CdcRunner/MultiTableRunner tombstone GC (Cassandra's gc_grace_seconds
    analog, sized from the producer's bounded clock skew instead of a
    fixed ten days)."""
    return (2 * int(wt_jitter_events) + 2) * 1024


def write_mutation_log(df: DataFrame, path: str) -> None:
    """Persist partitioned by segment_id — the commit-log directory analog.

    At cluster scale each segment directory is written by the producer side
    (the Cassandra-node analog); partition pruning on segment_id is what lets
    an incremental batch read only un-processed segments (reference idx
    watermark, CommitLogIdxParser.java:58-105).
    """
    df.write.mode("overwrite").partitionBy("segment_id").parquet(path)


def read_mutation_log(spark: SparkSession, path: str, schema=None, segments=None) -> DataFrame:
    """Read the log. ``schema=None`` uses the canonical schema; pass
    ``"infer"`` for evolved logs whose cells struct is wider (schema-change
    scenario), or an explicit StructType. ``segments`` restricts the read to
    those segment ids by reading their ``segment_id=N`` directories under
    ``basePath``, so Spark lists only their files; a read of the whole log
    lists every file of every segment before it prunes by ``segment_id``."""
    reader, paths = spark.read, [path]
    if segments is not None:
        dirs = [os.path.join(path, f"segment_id={int(s)}") for s in segments]
        dirs = [d for d in dirs if os.path.isdir(d) and os.listdir(d)]
        if dirs:  # else the filter below leaves the whole-log read empty
            reader, paths = reader.option("basePath", path), dirs
    if schema == "infer":
        df = reader.parquet(*paths)
        names = [f.name for f in MUTATION_LOG_SCHEMA.fields if f.name in df.columns]
        extra = [c for c in df.columns if c not in names]
        df = df.select(*names, *extra)
    else:
        schema = schema or MUTATION_LOG_SCHEMA
        # partition column comes back last; restore canonical order
        df = reader.schema(schema).parquet(*paths).select(*[f.name for f in schema.fields])
    if segments is not None:
        df = df.where(F.col("segment_id").isin(*[int(s) for s in segments]))
    return df
