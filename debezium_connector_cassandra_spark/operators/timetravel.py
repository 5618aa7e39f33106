"""Point-in-time replay (state as-of) and snapshot differencing.

Reference analog: the connector's capture semantics define final state as a
pure fold of the mutation stream ordered by event time — writetime for
upserts (``RecordMaker.createRecord``,
``core/src/main/java/io/debezium/connector/cassandra/RecordMaker.java:58-96``)
and ``markedForDeleteAt`` for deletes
(``Cassandra4CommitLogReadHandlerImpl.java:429,488``).  Because the fold is
order-insensitive given those timestamps, *replaying only the prefix with
``writetime <= T`` reproduces exactly the table state a downstream consumer
of the reference connector would have materialized at instant T*.  That is
what :func:`state_asof` computes — time travel without any stored snapshot.

:func:`snapshot_diff` is the inverse of apply: given two materialized
states it derives the minimal change stream (create/update/delete rows)
that transforms one into the other — the lakehouse "changelog view" /
incremental-snapshot-window primitive (public DBLog / Iceberg CDF designs).

Scale notes (100 TB):
- ``state_asof`` is a pushed-down filter on ``writetime`` ahead of the
  standard reduction — with the log laid out by segment (time-correlated),
  the filter prunes whole files before any shuffle.
- ``snapshot_diff`` is ONE full-outer sort-merge join on the primary key;
  both sides shuffle once on the same key, so with bucketed state tables it
  degenerates to a zipped local merge.  No window, no cartesian, no
  driver-side state.
"""

from __future__ import annotations

from functools import reduce as _reduce

from pyspark.sql import Column, DataFrame, functions as F

from .lww import drop_invisible, finalize_state, reduce_events
from .tombstones import tomb_wt, tombstone_relation, tombstone_rows

DEFAULT_OPS = ("i", "u", "d", "p", "r")


def materialize_state(
    log: DataFrame,
    payload: list[str],
    ops: tuple[str, ...] = DEFAULT_OPS,
) -> DataFrame:
    """One in-memory pass of the apply heart: key reduction (row deletes
    folded into the aggregation), the conv-grain tombstone join, finalize.
    Mirrors ``plans.apply.apply_batch`` without the lake tables."""
    opset = set(ops)
    reduced = reduce_events(log)
    if opset & {"p", "r"}:
        # the conv-grain tombstone relation is only BUILT when the op set
        # can contain it (assembling-then-discarding it cost ~0.1 s of
        # driver plan-build time per query); 'd' folds into the reduction
        rows = tombstone_rows(log, tuple(k for k in ("p", "r") if k in opset))
        reduced = tomb_wt(reduced, tombstone_relation(rows))
    state = drop_invisible(finalize_state(reduced))
    return state.select("conv_id", "turn_idx", *payload)


def writetime_horizon(log: DataFrame, num: int = 3, den: int = 4) -> DataFrame:
    """One-row relation holding a replay horizon at the ``num/den`` point of
    the log's writetime span, via exact 64-bit integer arithmetic (identical
    in Spark and DuckDB: ``lo + ((hi-lo)*num - (hi-lo)*num % den) / den``).

    Production callers pass an absolute horizon instead; this helper exists
    so tests/benchmarks derive one deterministically from the data. The
    min/max is a single map-side-combined scan of one long column."""
    span = F.max("writetime") - F.min("writetime")
    scaled = span * F.lit(num)
    return log.agg(
        (
            F.min("writetime")
            + ((scaled - scaled % F.lit(den)) / F.lit(den)).cast("long")
        ).alias("horizon_wt")
    )


def writetime_horizon_value(log: DataFrame, num: int = 3, den: int = 4) -> int:
    """``writetime_horizon`` collapsed to its scalar value: one bounded
    1-row aggregate job (a map-side-combined min/max of one long column).

    Passing the scalar into :func:`state_asof` gives the plan a pushed-down
    literal ``writetime <= T`` filter instead of a broadcast 1-row join —
    and, when the caller derives several relations from the same horizon
    (as-of state, snapshot diff, incremental assembly), it stops the
    horizon's min/max scan from being REPLICATED into every branch of the
    plan (measured: 4 duplicated full scans in the round-5 demo plans).
    Production callers already pass an absolute horizon; this is the
    benchmark/demo equivalent."""
    return int(writetime_horizon(log, num, den).collect()[0][0])


def state_asof(
    log: DataFrame,
    horizon: DataFrame | int,
    payload: list[str],
    ops: tuple[str, ...] = DEFAULT_OPS,
) -> DataFrame:
    """Materialized state as of event-time ``horizon``: fold only mutations
    with ``writetime <= horizon``.  Upserts AND tombstones are capped by the
    same horizon, so a delete issued after T cannot erase a row that was
    live at T (and an upsert after T cannot resurrect one).

    ``horizon`` is either an absolute long or a one-row DataFrame with a
    ``horizon_wt`` column (broadcast-joined, never collected)."""
    if isinstance(horizon, DataFrame):
        capped = (
            log.join(F.broadcast(horizon))
            .where(F.col("writetime") <= F.col("horizon_wt"))
            .drop("horizon_wt")
        )
    else:
        capped = log.where(F.col("writetime") <= F.lit(int(horizon)))
    return materialize_state(capped, payload, ops)


def snapshot_diff(
    before: DataFrame,
    after: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
) -> DataFrame:
    """Minimal change stream transforming ``before`` into ``after``:
    one row per differing key with ``diff_op`` ∈ {'c','u','d'} (the
    envelope op codes, SURVEY §2 D13) and the after-image payload
    (all-null for 'd').  Unchanged keys are dropped.

    Null-safe per-column comparison (a cell going NULL→value or
    value→NULL is an update).  Plan: one full-outer SMJ on the key."""
    a = before.select(
        *key_cols, *payload_cols, F.lit(True).alias("_in_before")
    ).alias("a")
    b = after.select(
        *key_cols, *payload_cols, F.lit(True).alias("_in_after")
    ).alias("b")
    cond = _reduce(
        Column.__and__,
        [F.col(f"a.{k}").eqNullSafe(F.col(f"b.{k}")) for k in key_cols],
    )
    j = a.join(b, cond, "full_outer")
    changed = _reduce(
        Column.__or__,
        [~F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}")) for c in payload_cols],
    )
    diff_op = (
        F.when(F.col("a._in_before").isNull(), F.lit("c"))
        .when(F.col("b._in_after").isNull(), F.lit("d"))
        .when(changed, F.lit("u"))
    )
    return (
        j.withColumn("diff_op", diff_op)
        .where(F.col("diff_op").isNotNull())
        .select(
            *[
                F.coalesce(F.col(f"b.{k}"), F.col(f"a.{k}")).alias(k)
                for k in key_cols
            ],
            "diff_op",
            *[F.col(f"b.{c}").alias(c) for c in payload_cols],
        )
    )
