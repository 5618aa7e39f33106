"""R6 — last-writer-wins reduction and state merge (the apply heart).

The reference never materializes state itself — it guarantees per-key ordered
delivery (hash-routed queues, ``getPartitionQueueIndex:672-685``) and lets
downstream consumers fold events. Final-state semantics are Cassandra's:
cell-level last-writer-wins on writetime, delete wins ties, sparse updates
touch only their cells, INSERT sets primary-key liveness
(RowType predicates ``:226-236``).

Spark formulation (order-insensitive, hence segment-parallel):

1. ``reduce_events``   — one hash aggregation per batch key:
   for each payload column take the cell from the upsert with max
   (writetime, segment_id, position) among those that SET the column
   (``max(when(set, struct(wt, seg, pos, value, deletion_ts)))`` — struct max
   ignores nulls and orders lexicographically, so this is an O(1)-state
   aggregate with map-side partial combine; a hot conv_id collapses on the
   map side before the shuffle, which is exactly the salted-partial /
   final-reduce two-phase shape the skew note in SURVEY §4 calls for,
   provided free by Spark's partial aggregation).
2. ``finalize_state`` — compare each winning cell / liveness against the
   batch's folded row-delete writetime ``_d_wt`` (strict >: delete wins
   ties) and null out the losers; drop rows with nothing left but keep
   row-delete carriers (``_kill_wt``) for the merge.
3. ``merge_states``   — full-outer merge of two state relations (target ⨝
   batch) picking, per column, the side with the higher cell writetime;
   the batch's ``_kill_wt`` kills target cells inside the join. The
   conversation-grain tombstones (partition/range, and every stored one)
   apply once, AFTER the merge: ``kill_state`` over
   ``tombstones.tomb_wt(merged, rel)`` (plans/apply.py ``_merge``).
   Single-pass readers join ``tomb_wt`` to the reduction instead and let
   ``finalize_state`` compare against it.

A cell whose winning write carries ``deletion_ts`` (TTL expiry / cell
tombstone, reference populateRegularColumns:575-588) survives as an explicit
null assignment: its writetime is kept so it still beats older values from
other batches.

Schema-driven (reference SchemaHolder analog, SchemaHolder.java:18-52):
payload columns are introspected from the batch's ``cells`` struct / the
state relation's ``_wt_*`` markers, never hard-coded, so a column added
mid-stream (SchemaChangeListener scenario) flows through untouched. State
relations carry one flat ``_wt_<col>`` long per payload column plus
``_live_wt`` — flat, so lake ADD COLUMN stays a metadata-only commit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.sql import ident

NEG_INF = -(1 << 62)


def _batch_payload_fields(batch: DataFrame) -> list[tuple[str, object]]:
    """(name, value dtype) pairs of the batch's cells struct."""
    return [
        (f.name, f.dataType["value"].dataType)
        for f in batch.schema["cells"].dataType.fields
    ]


def state_payload_columns(state: DataFrame) -> list[str]:
    """Payload columns of a STATE relation (flagged by their _wt_ twins)."""
    return [c[len("_wt_"):] for c in state.columns if c.startswith("_wt_")]


def _orderable(dtype) -> bool:
    """Spark can order any type except maps (and containers holding them)."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.MapType):
        return False
    if isinstance(dtype, T.ArrayType):
        return _orderable(dtype.elementType)
    if isinstance(dtype, T.StructType):
        return all(_orderable(f.dataType) for f in dtype.fields)
    return True


def _winner(col: str, dtype=None) -> F.Column:
    """Aggregate: the winning cell for one payload column.

    Orderable payload types use ``max(when(set, struct(...)))`` (struct max —
    proven hot path). Non-orderable payloads (map-typed cells, reference
    MapType transform) use ``max_by(value_struct, order_struct)``: identical
    skip-null / all-null semantics, only the ordering key must be orderable.
    Both are O(1)-state hash aggregates with map-side partial combine.

    The orderable path is ONE SQL-string expression: assembling it from
    Column objects cost ~15 py4j round trips per payload column per query
    construction (driver-side latency, guide §4's boundary cost in its
    plan-building form).
    """
    if dtype is None or _orderable(dtype):
        cell = f"cells.{ident(col)}"
        return F.expr(
            f"max(CASE WHEN {cell}.set THEN named_struct("
            f"'wt', writetime, 'seg', segment_id, 'pos', position, "
            f"'value', {cell}.value, 'deletion_ts', {cell}.deletion_ts"
            f") END) AS {ident('_w_' + col)}"
        )
    c = F.col("cells")[col]
    value_struct = F.struct(
        F.col("writetime").alias("wt"),
        F.col("segment_id").alias("seg"),
        F.col("position").alias("pos"),
        c["value"].alias("value"),
        c["deletion_ts"].alias("deletion_ts"),
    )
    order = F.when(
        c["set"], F.struct(F.col("writetime"), F.col("segment_id"), F.col("position"))
    )
    return F.max_by(value_struct, order).alias(f"_w_{col}")


def reduce_events(batch: DataFrame) -> DataFrame:
    """Per-key cell-LWW reduction of a decoded batch's keyed rows
    (INSERT/UPDATE **and row DELETE** — they share the grouping key, so the
    row-tombstone fold costs ZERO extra shuffle; this removes the only
    key-grain (hence large) tombstone join from the plan. Partition/range
    tombstones are conv-grain and stay as small broadcastable relations).

    Returns one row per (conv_id, turn_idx) with columns
    ``_w_<col>: struct<wt, seg, pos, value, deletion_ts>`` (NULL when no
    upsert in the batch set that column), ``_live_wt`` (max INSERT
    writetime) and ``_d_wt`` (max row-delete writetime — NULL when the batch
    has no 'd' for the key)."""
    keyed = batch.where(F.expr("op IN ('i','u','d')"))
    aggs = [_winner(c, t) for c, t in _batch_payload_fields(batch)]
    aggs.append(F.expr("max(CASE WHEN op = 'i' THEN writetime END) AS _live_wt"))
    aggs.append(F.expr("max(CASE WHEN op = 'd' THEN writetime END) AS _d_wt"))
    return keyed.groupBy("conv_id", "turn_idx").agg(*aggs)


def finalize_state(reduced_with_tomb: DataFrame, as_of_us: int | None = None) -> DataFrame:
    """Turn a reduced relation into STATE-shaped rows + kill metadata.

    The effective tombstone writetime per key is
    ``greatest(_d_wt, tomb_wt)`` where ``_d_wt`` is the folded row-delete
    aggregate and ``tomb_wt`` (optional column, ``tombstones.tomb_wt``)
    carries partition/range contributions from the one broadcast join of a
    single-pass reader.

    Survival rule: writetime strictly greater than the tombstone writetime
    (delete wins ties). A surviving cell with deletion_ts is a null
    assignment whose writetime is retained.

    ``as_of_us`` — the D7 expiring-cell rule (TTL: deletion_ts = writetime +
    ttl, reference populateRegularColumns:575-588 + the snapshot TTL math
    calculateDeletionTs:342-344) for ONE-PASS materialization as of a point
    in time: a cell with deletion_ts > as_of has not reached its TTL horizon
    and keeps its VALUE; a cell with deletion_ts <= as_of is expired — like
    Cassandra's purged expired cell it holds neither value nor row
    visibility, so a row whose only content expired vanishes exactly past
    its horizon (within-pass shadowing of older writes still holds because
    the reduction kept only the winning cell). The default ``None``
    preserves the incremental-merge semantics: any deletion_ts is an
    explicit null assignment at the event writetime whose writetime is
    retained for cross-batch LWW dominance — the right call for the lake
    path, whose persisted state carries flat ``_wt_*`` longs only.

    Output KEEPS invisible kill-carrier rows (keys whose batch content is
    only deletes) with ``_kill_wt`` set — merge_states uses them to kill
    matching target rows without a separate tombstone join. Call
    ``drop_invisible`` when merging into an empty target / running
    single-pass."""
    payload = [c[len("_w_"):] for c in reduced_with_tomb.columns if c.startswith("_w_")]
    has_join_tomb = "tomb_wt" in reduced_with_tomb.columns
    # one SQL-string projection (a Column-object build here cost ~10 py4j
    # round trips per payload column per query construction)
    neg = f"CAST({NEG_INF} AS BIGINT)"
    d_wt = f"coalesce(_d_wt, {neg})"
    tomb = f"greatest({d_wt}, coalesce(tomb_wt, {neg}))" if has_join_tomb else d_wt
    cols, wts = [], []
    alive_any = []
    for c in payload:
        w = ident(f"_w_{c}")
        alive = f"({w} IS NOT NULL AND {w}.wt > {tomb})"
        if as_of_us is None:
            value_live = f"{w}.deletion_ts IS NULL"
            counts = alive  # null assignment keeps the row visible (merge mode)
        else:
            value_live = (
                f"({w}.deletion_ts IS NULL OR {w}.deletion_ts > {int(as_of_us)})"
            )
            counts = f"({alive} AND {value_live})"  # expired cell holds nothing
        cols.append(f"CASE WHEN {alive} AND {value_live} THEN {w}.value END AS {ident(c)}")
        wts.append(
            f"CASE WHEN {alive if as_of_us is None else counts} THEN {w}.wt END "
            f"AS {ident('_wt_' + c)}"
        )
        alive_any.append(counts)
    if not alive_any:
        alive_any = ["FALSE"]
    live_wt = f"CASE WHEN _live_wt > {tomb} THEN _live_wt END"
    out = reduced_with_tomb.selectExpr(
        "conv_id",
        "turn_idx",
        *cols,
        f"{live_wt} AS _live_wt",
        *wts,
        f"CASE WHEN {tomb} > {neg} THEN {tomb} END AS _kill_wt",
        f"(({' OR '.join(alive_any)}) OR ({live_wt}) IS NOT NULL) AS _visible",
    )
    return out.where(F.col("_visible") | F.col("_kill_wt").isNotNull()).drop("_visible")


def drop_invisible(state: DataFrame) -> DataFrame:
    """Drop kill-carrier rows and the _kill_wt column — yields pure STATE."""
    return state.where(_visible(state_payload_columns(state))).drop("_kill_wt")


def _visible(payload: list[str]) -> str:
    """SQL predicate: a STATE row holds a live cell or row liveness."""
    return " OR ".join(
        ["_live_wt IS NOT NULL"] + [f"{ident('_wt_' + c)} IS NOT NULL" for c in payload]
    )


def kill_state(state: DataFrame) -> DataFrame:
    """Apply ``tomb_wt`` to an already-materialized STATE relation (the
    merged rows of a batch): null out cells/liveness with writetime <=
    tomb_wt, drop rows with nothing left. One SQL-string projection."""
    payload = state_payload_columns(state)
    tomb = f"coalesce(tomb_wt, CAST({NEG_INF} AS BIGINT))"
    cols, wts = [], []
    for c in payload:
        w = ident(f"_wt_{c}")
        alive = f"({w} IS NOT NULL AND {w} > {tomb})"
        cols.append(f"CASE WHEN {alive} THEN {ident(c)} END AS {ident(c)}")
        wts.append(f"CASE WHEN {alive} THEN {w} END AS {w}")
    return state.selectExpr(
        "conv_id",
        "turn_idx",
        *cols,
        f"CASE WHEN _live_wt > {tomb} THEN _live_wt END AS _live_wt",
        *wts,
    ).where(_visible(payload))


def validate_unique_writetimes(batch: DataFrame) -> None:
    """Assert the cross-batch tie-break precondition (see merge_states):
    no two upsert events of the same key share a writetime. One extra
    aggregation job — opt-in (CdcRunner(validate_writetimes=True) / tests),
    never on the default hot path."""
    dup = (
        batch.where(F.col("op").isin("i", "u"))
        .groupBy("conv_id", "turn_idx", "writetime")
        .count()
        .where(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        r = dup[0]
        raise ValueError(
            "duplicate writetime violates the cross-batch LWW tie-break "
            f"precondition: key=({r['conv_id']}, {r['turn_idx']}) "
            f"writetime={r['writetime']} (x{r['count']})"
        )


def merge_states(target: DataFrame, batch: DataFrame) -> DataFrame:
    """Full-outer cell-level merge of a STATE target with a finalized batch
    (which carries ``_kill_wt``) on the primary key.

    **Equal-writetime precondition**: within ONE batch, ties break on
    (writetime, segment, position) — order-insensitive and exact. ACROSS
    batches, the state persists only the flat ``_wt_<col>`` long (so schema
    evolution stays metadata-only), so an equal-writetime conflict between a
    new batch and already-merged state resolves batch-wins (>=) — exact for
    replays/duplicates (identical values), but order-sensitive if two
    DIFFERENT values of one cell share a writetime AND arrive in different
    batches. Cassandra itself breaks such ties by value comparison; real
    writetimes are microsecond-grain and per-key monotone per coordinator,
    making cross-batch collisions pathological. The engine therefore
    documents the precondition (unique writetimes per (key, column) across
    the stream — the synthetic generator guarantees it by construction) and
    offers ``validate_unique_writetimes`` as an opt-in check instead of
    widening every state row.

    Join strategy: deliberately left to the planner. Interleaved A/Bs on
    the apply pipeline tested (a) session-wide preferSortMergeJoin=false +
    AQE shuffled-hash rewrite and (b) a SHUFFLE_HASH hint on the target
    side; both measured NO robust win over the default here, and the
    session-wide preference measurably HURT the read-side state queries
    (their tombstone joins want the planner's broadcast choice), so the
    default stands.

    The batch's per-key kill writetime is applied to the target side INSIDE
    the merge join — no separate row-tombstone join against the target.
    Per column the side with the strictly higher surviving cell writetime
    wins; replays present identical values and the batch side is chosen on
    >=, so re-application stays deterministic and idempotent. The batch side
    may carry MORE payload columns than the target (schema evolution applied
    to the lake before the merge): missing target columns are treated as
    never-written. Rows with nothing left (fully deleted) drop out."""
    t_payload = set(state_payload_columns(target))
    b_payload = set(state_payload_columns(batch))
    payload = sorted(t_payload | b_payload)
    # one SQL-string projection (a Column-object build cost ~10 py4j round
    # trips per payload column per query construction)
    neg = f"CAST({NEG_INF} AS BIGINT)"
    kill = f"coalesce(b._kill_wt, {neg})"

    def side(alias: str, c: str, present: bool) -> str:
        return f"{alias}.{ident(c)}" if present else "NULL"

    cols, wts = [], []
    for c in payload:
        twt = f"CAST({side('t', '_wt_' + c, c in t_payload)} AS BIGINT)"
        bwt = f"CAST({side('b', '_wt_' + c, c in b_payload)} AS BIGINT)"
        t_alive = f"CASE WHEN {twt} > {kill} THEN {twt} END"  # batch tombstones kill target cells
        b_wins = f"coalesce({bwt}, {neg}) >= coalesce({t_alive}, {neg})"
        cols.append(
            f"CASE WHEN {b_wins} THEN {side('b', c, c in b_payload)} "
            f"WHEN ({t_alive}) IS NOT NULL THEN {side('t', c, c in t_payload)} END AS {ident(c)}"
        )
        wts.append(f"CASE WHEN {b_wins} THEN {bwt} ELSE {t_alive} END AS {ident('_wt_' + c)}")
    return (
        target.alias("t")
        .join(batch.alias("b"), ["conv_id", "turn_idx"], "full_outer")
        .selectExpr(
            "conv_id",
            "turn_idx",
            *cols,
            f"greatest(CASE WHEN t._live_wt > {kill} THEN t._live_wt END, b._live_wt) AS _live_wt",
            *wts,
        )
        .where(_visible(payload))
    )
