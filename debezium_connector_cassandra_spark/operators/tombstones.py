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

Scale notes: tombstones are a small fraction of the stream and are
pre-aggregated (per key / per conv) before joining, so these joins broadcast
(the static planner sees the cached tombstone rows' real size once the
driver flush has collected them); the range join is an equi-join on conv_id
with a residual bound predicate — never a cartesian product.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F


@dataclass
class TombstoneSet:
    """The three tombstone relations extracted from a decoded batch.

    A member may be None when it is statically known empty (metadata-level
    knowledge — lets the planner skip the join entirely)."""

    row: DataFrame | None        # (conv_id, turn_idx, wt)   op='d', pre-agg max wt
    partition: DataFrame | None  # (conv_id, wt)             op='p', pre-agg max wt
    range: DataFrame | None      # (conv_id, lo, hi, lo_incl, hi_incl, wt)  op='r'


def extract_tombstones(
    batch: DataFrame, kinds: tuple[str, ...] = ("d", "p", "r")
) -> TombstoneSet:
    # SQL-string predicates/projections: one py4j round trip each (these
    # three relations are built on every query construction — see lww.py);
    # ``kinds`` lets a caller that statically knows an op kind is absent
    # skip assembling that relation entirely
    _max_wt = F.expr("max(writetime) AS wt")
    row = (
        batch.where("op = 'd'").groupBy("conv_id", "turn_idx").agg(_max_wt)
        if "d" in kinds
        else None
    )
    partition = (
        batch.where("op = 'p'").groupBy("conv_id").agg(_max_wt)
        if "p" in kinds
        else None
    )
    # ranges pre-aggregate at BOUNDS grain (identical bounds keep max wt):
    # a hot partition receiving thousands of range deletes over a bounded
    # clustering space collapses to the distinct-bounds count before any
    # join — same reason row/partition tombstones pre-aggregate
    if "r" not in kinds:
        return TombstoneSet(row=row, partition=partition, range=None)
    rng = (
        batch.where("op = 'r'")
        .selectExpr(
            "conv_id",
            "range_start.turn_idx AS lo",
            "range_end.turn_idx AS hi",
            "range_start.method = 'INCL_START_BOUND' AS lo_incl",
            "range_end.method = 'INCL_END_BOUND' AS hi_incl",
            "writetime AS wt",
        )
        .groupBy("conv_id", "lo", "hi", "lo_incl", "hi_incl")
        .agg(F.expr("max(wt) AS wt"))
    )
    return TombstoneSet(row=row, partition=partition, range=rng)


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


def tomb_wt_for_keys(
    keys: DataFrame, tombs: TombstoneSet, keys_unique: bool = False
) -> DataFrame:
    """For a (conv_id, turn_idx) key relation, compute max applicable
    tombstone writetime as column ``tomb_wt`` (NULL when none applies).

    ``keys`` may carry arbitrary extra columns; they are preserved.
    Up to three left joins, each against a pre-aggregated (hence small,
    AQE-broadcastable) tombstone relation; the range join is equi on conv_id
    with a residual bound filter — never a cartesian. Relations known empty
    (None) cost nothing.

    ``keys_unique=True`` asserts the caller's relation already has at most
    one row per (conv_id, turn_idx) — true for a reduction output or a
    state table — skipping the defensive dropDuplicates aggregation in
    front of the range join (one fewer shuffle+agg on the hot apply path).
    """
    out = keys
    wt_cols = []
    if tombs.row is not None:
        out = out.join(tombs.row.withColumnRenamed("wt", "d_wt"), ["conv_id", "turn_idx"], "left")
        wt_cols.append("d_wt")
    if tombs.partition is not None:
        out = out.join(tombs.partition.withColumnRenamed("wt", "p_wt"), ["conv_id"], "left")
        wt_cols.append("p_wt")
    if tombs.range is not None:
        r_keys = keys.select("conv_id", "turn_idx")
        if not keys_unique:
            r_keys = r_keys.dropDuplicates()
        r_applicable = (
            r_keys
            .join(tombs.range, "conv_id")
            # bound predicate with inclusivity methods (reference RangeData
            # bound kinds, CassandraSchemaFactory.java:347-423)
            .where(
                "(CASE WHEN lo_incl THEN turn_idx >= lo ELSE turn_idx > lo END)"
                " AND (CASE WHEN hi_incl THEN turn_idx <= hi ELSE turn_idx < hi END)"
            )
            .groupBy("conv_id", "turn_idx")
            .agg(F.expr("max(wt) AS r_wt"))
        )
        out = out.join(r_applicable, ["conv_id", "turn_idx"], "left")
        wt_cols.append("r_wt")

    if not wt_cols:
        tomb = "CAST(NULL AS BIGINT)"
    elif len(wt_cols) == 1:
        tomb = wt_cols[0]
    else:
        tomb = f"greatest({', '.join(wt_cols)})"
    return out.withColumn("tomb_wt", F.expr(tomb)).drop(*wt_cols)


def tombstone_rows(batch: DataFrame, kinds: tuple[str, ...]) -> DataFrame:
    """The batch's tombstones of ``kinds`` as rows of the persistent
    tombstone store (Cassandra's analog of tombstones retained until
    gc_grace, needed so an out-of-order upsert arriving in a *later* batch
    still loses to an earlier-seen delete with a higher writetime):
    ``(kind, conv_id, lo, hi, lo_incl, hi_incl, wt)``, one row per distinct
    target with its max writetime, from ONE aggregate over every kind. A row
    delete targets ``[turn_idx, turn_idx]``, a partition delete has NULL
    bounds, a range keeps its bounds and their inclusivity methods (ranges
    pre-aggregate at bounds grain, as in ``extract_tombstones``)."""
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


def rows_to_tombstones(df: DataFrame, kinds: tuple[str, ...] = ("d", "p", "r")) -> TombstoneSet:
    """The join relations of tombstone-store rows (``tombstone_rows`` or a
    store read), each pre-aggregated to its join grain; kinds not in
    ``kinds`` are statically empty (None)."""

    def of(kind, *keys):
        if kind not in kinds:
            return None
        return df.where(F.col("kind") == kind).groupBy(*keys).agg(F.max("wt").alias("wt"))

    return TombstoneSet(
        row=of("d", "conv_id", F.col("lo").alias("turn_idx")),
        partition=of("p", "conv_id"),
        range=of("r", "conv_id", "lo", "hi", "lo_incl", "hi_incl"),
    )
