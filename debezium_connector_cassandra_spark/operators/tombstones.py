"""Tombstone relations and their application — D8/D9 + the delete half of R6.

Cassandra reconciliation rules the engine reproduces (reference encodes them
via deletion_ts cells ``populateRegularColumns:575-588``, partition deletes
``handlePartitionDeletion:363-393``, range markers
``handleRangeTombstoneBoundMarker:461-498``, and event-time rules
``handleRowModifications:429``):

- a tombstone at writetime W kills cells / row-liveness with writetime <= W
  (**delete wins ties**);
- a row delete (op 'd') targets one (conv_id, turn_idx);
- a partition delete (op 'p') targets every turn of a conv_id;
- a range tombstone (op 'r') targets turns within [start, end] with
  inclusive/exclusive bound methods.

Set-oriented formulation: instead of replaying deletes in order, compute for
every candidate key the **max applicable tombstone writetime** and compare
once. This is what makes replay order-insensitive and lets segments process
in parallel (SURVEY §4 "key semantic transform").

Every tombstone takes one form: rows of the persistent tombstone store
(``tombstone_rows``), folded by ``tombstone_relation`` into ONE relation at
conversation grain — the max partition-delete writetime plus the list of
row/range spans — which ``tomb_wt`` joins on conv_id alone.

Scale notes: tombstones are a small fraction of the stream and the relation
holds one row per conversation that has any, so ``tomb_wt`` broadcasts it by
hint, an equi-join on conv_id — never a cartesian product, never a key-grain
self-join. The hint keeps the join a broadcast whatever the static planner
estimates for the relation (an aggregate over cached and stored rows):
planned from an estimate, a 1M-event batch shuffled every merged row into a
sort-merge join instead (~8% more executor CPU). The span fold is a
higher-order ``aggregate`` that Spark interprets (CodegenFallback), so each
key costs O(spans of its conversation): cheap while a conversation holds few
row/range tombstones, which the GC sweep keeps true.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def pair_range_markers(log: DataFrame) -> DataFrame:
    """D9 full form — pair UNPAIRED range-tombstone bound markers.

    Cassandra emits range deletions as separate bound markers in commit-log
    order (start marker, then end marker for the same partition); the
    reference accumulates the start until its end arrives
    (RangeTombstoneContext.java:20-40, handleRangeTombstoneBoundMarker
    Cassandra4CommitLogReadHandlerImpl.java:461-511). Input op='r' rows carry
    exactly ONE of range_start / range_end; all other ops pass through.

    Spark formulation: markers of one partition key pair by log order —
    lag(range_start) over (conv_id ORDER BY segment_id, position) pulls each
    end marker's preceding start marker; the paired event keeps the END
    marker's (writetime, segment, position) identity. Only op='r' rows enter
    the window shuffle (a small fraction of the stream); scope is one batch,
    matching the reference's per-commit-log pairing context. Malformed
    streams (end with no preceding start, dangling start) drop, as the
    reference logs-and-skips.
    """
    from pyspark.sql import Window as W

    markers = log.where(F.col("op") == "r")
    rest = log.where(F.col("op") != "r")
    w = W.partitionBy("conv_id").orderBy("segment_id", "position")
    prev_start = F.lag(F.col("range_start")).over(w)
    prev_was_start = F.lag(F.col("range_start").isNotNull()).over(w)
    paired = (
        markers.withColumn("_prev_start", prev_start)
        .withColumn("_prev_is_start", prev_was_start)
        .where(
            F.col("range_end").isNotNull()
            & F.coalesce(F.col("_prev_is_start"), F.lit(False))
        )
        .withColumn("range_start", F.col("_prev_start"))
        .drop("_prev_start", "_prev_is_start")
    )
    return rest.unionByName(paired)


def tombstone_rows(batch: DataFrame, kinds: tuple[str, ...]) -> DataFrame:
    """The batch's tombstones of ``kinds`` as rows of the persistent
    tombstone store (Cassandra's analog of tombstones retained until
    gc_grace, needed so an out-of-order upsert arriving in a *later* batch
    still loses to an earlier-seen delete with a higher writetime):
    ``(kind, conv_id, lo, hi, lo_incl, hi_incl, wt)``, one row per distinct
    target with its max writetime, from ONE aggregate over every kind. A row
    delete targets ``[turn_idx, turn_idx]``, a partition delete has NULL
    bounds, a range keeps its bounds and their inclusivity methods (ranges
    pre-aggregate at bounds grain: a hot partition receiving thousands of
    range deletes over a bounded clustering space collapses to its distinct
    bounds)."""
    # a log without range deletes may lack the range bound columns
    rng = "r" in kinds

    def bound(col):
        r_turn = f" WHEN 'r' THEN {col}.turn_idx" if rng else ""
        return f"CASE op WHEN 'd' THEN turn_idx{r_turn} END"

    def incl(col, method):
        return f"op <> 'r' OR {col}.method = '{method}'" if rng else "true"

    return (
        batch.where(F.col("op").isin(*kinds))
        .selectExpr(
            "op AS kind",
            "conv_id",
            f"{bound('range_start')} AS lo",
            f"{bound('range_end')} AS hi",
            f"{incl('range_start', 'INCL_START_BOUND')} AS lo_incl",
            f"{incl('range_end', 'INCL_END_BOUND')} AS hi_incl",
            "writetime AS wt",
        )
        .groupBy("kind", "conv_id", "lo", "hi", "lo_incl", "hi_incl")
        .agg(F.expr("max(wt) AS wt"))
    )


def tombstone_relation(rows: DataFrame) -> DataFrame:
    """Tombstone-store rows (``tombstone_rows`` or a store read) as ONE
    relation at conversation grain, from one ``groupBy(conv_id)``: ``_p_wt``,
    the max partition-delete writetime (NULL when none), and ``_spans``, the
    conversation's row and range tombstones as ``(lo, hi, lo_incl, hi_incl,
    wt)`` structs (a row delete is the inclusive span ``[turn, turn]``)."""
    return rows.groupBy("conv_id").agg(
        F.expr("max(CASE WHEN kind = 'p' THEN wt END) AS _p_wt"),
        F.expr(
            "collect_list(CASE WHEN kind <> 'p' THEN named_struct("
            "'lo', lo, 'hi', hi, 'lo_incl', lo_incl, 'hi_incl', hi_incl, 'wt', wt"
            ") END) AS _spans"
        ),
    )


# the bound predicate carries the inclusivity methods (reference RangeData
# bound kinds, CassandraSchemaFactory.java:347-423)
_TOMB_WT = (
    "greatest(_p_wt, aggregate(_spans, CAST(NULL AS BIGINT), (acc, s) -> CASE WHEN"
    " (CASE WHEN s.lo_incl THEN turn_idx >= s.lo ELSE turn_idx > s.lo END)"
    " AND (CASE WHEN s.hi_incl THEN turn_idx <= s.hi ELSE turn_idx < s.hi END)"
    " THEN greatest(acc, s.wt) ELSE acc END))"
)


def tomb_wt(keys: DataFrame, rel: DataFrame) -> DataFrame:
    """``keys`` (any relation with ``conv_id``/``turn_idx``; extra columns
    are preserved) with column ``tomb_wt``: the max writetime of the
    tombstones in ``rel`` (a ``tombstone_relation``) that apply to the key,
    NULL when none does. One broadcast left join on conv_id; the spans are
    folded per row, so ``keys`` need not be unique."""
    return (
        keys.join(F.broadcast(rel), "conv_id", "left")
        .withColumn("tomb_wt", F.expr(_TOMB_WT))
        .drop("_p_wt", "_spans")
    )
