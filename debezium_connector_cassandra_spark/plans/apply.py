"""The per-batch apply plan — Spark lifecycle replacing SURVEY §3's three
Java entry points:

    read log slice -> decode/envelope -> dedup ->
    per-key cell-LWW reduce (row deletes folded) -> finalize ->
    merge target (touched buckets only) -> kill vs tombstones, once ->
    COW write -> append new tombstones from the driver ->
    refresh the maintained transcript view (touched buckets, if any)

Exactly-once contract (north_rule): the merge is idempotent (cell writetimes
are compared strictly, so re-applying an already-applied batch is a no-op),
therefore committing state BEFORE offsets is crash-safe: a failure between
the two replays the batch harmlessly (reference reaches the same property via
at-least-once + offset skip-check, handleMutation:259-263).

Scale shape of one batch (the plan .explain should show):
- parquet scan of only the new segments (partition pruning on segment_id) and
  positions (predicate pushdown on position)
- one shuffle for the per-key reduction (hash agg with map-side combine — hot
  conv_ids collapse before the exchange); row deletes fold into it
- target read restricted to touched buckets, scanned once by the merge
- ONE tombstone relation at conversation grain (the batch's partition/range
  rows plus the touched store buckets, one ``groupBy(conv_id)``), joined
  broadcast on conv_id to the merged rows, after the merge
- COW write of the touched buckets only

Every batch runs one static plan (``static_plan``): AQE off and
``defaultParallelism`` shuffle partitions, the pre-scan included. The batch's
tombstone rows are computed once and cached. They are collected to the
driver as Arrow before the merge, which then reads the cache, and after the
state commit the collected rows are appended to the store with pyarrow
(``LakeTable.append_small``, into their conv_id buckets), whatever the
batch size. AQE's runtime re-planning bought nothing measurable on
1M-event batches, uniform or with 40% of the events on one conversation,
and cost 20k-event batches ~28% more CPU per event
(``BENCH/batch_plan_r08.json``).
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..functions.decode import UNSUPPORTED_KINDS
from ..lake.table import LakeTable, bucket_expr
from ..model import STATE_SCHEMA, state_schema_for
from ..operators import transcript
from ..operators.lww import (
    drop_invisible,
    finalize_state,
    kill_state,
    merge_states,
    reduce_events,
)
from ..operators.tombstones import tomb_wt, tombstone_relation, tombstone_rows

TOMBSTONE_STORE_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("lo", T.IntegerType(), True),
        T.StructField("hi", T.IntegerType(), True),
        T.StructField("lo_incl", T.BooleanType(), False),
        T.StructField("hi_incl", T.BooleanType(), False),
        T.StructField("wt", T.LongType(), False),
    ]
)


@dataclass
class CdcTarget:
    """The materialized target: state table + persistent tombstone store
    (Cassandra keeps tombstones until gc_grace for exactly this reason: an
    out-of-order write arriving later must still lose to an earlier delete
    with a higher writetime), plus the optional maintained transcript view
    (``operators.transcript.open_assembly``) and its (role, text) columns."""

    state: LakeTable
    tombstones: LakeTable
    assembly: LakeTable | None = None
    assembly_cols: tuple[str | None, str] = ("role", "text")

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        n_buckets: int = 16,
        payload: dict | None = None,
    ) -> "CdcTarget":
        schema = state_schema_for(payload) if payload else STATE_SCHEMA
        state = LakeTable.create(spark, f"{path}/state", schema, "conv_id", n_buckets)
        tombs = LakeTable.create(spark, f"{path}/tombstones", TOMBSTONE_STORE_SCHEMA, "conv_id", max(n_buckets // 4, 1))
        return cls(state=state, tombstones=tombs)

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "CdcTarget":
        return cls(
            state=LakeTable(spark, f"{path}/state"),
            tombstones=LakeTable(spark, f"{path}/tombstones"),
        )

    def add_payload_column(self, name: str, dtype: T.DataType) -> int:
        """R9 schema evolution: replayed BEFORE applying batches carrying the
        new column (reference Cassandra4SchemaChangeListener.onTableUpdated:
        220-260 -> SchemaHolder update). Metadata-only lake commit: the
        payload column and its _wt_ twin are added; old files read NULLs."""
        self.state.add_column(name, dtype)
        return self.state.add_column(f"_wt_{name}", T.LongType())

    def alter_payload_column(self, name: str, dtype: T.DataType) -> int:
        """R9 ALTER TYPE (onTableUpdated with a type change): metadata-only
        widening of a payload column; the _wt_ twin is unaffected."""
        return self.state.alter_column_type(name, dtype)

    def read_transcripts(
        self, version: int | None = None, buckets: list[int] | None = None
    ) -> DataFrame:
        """User-facing view: payload columns only, reconciliation metadata
        dropped (per-row invariant surface: per-turn text equality under
        stable (conv_id, turn_idx) ordering). ``buckets`` prunes the read
        to the given state buckets (file-level pruning, no scan)."""
        cols = [
            f.name
            for f in self.state.schema(version).fields
            if not f.name.startswith("_")
        ]
        return self.state.read(buckets=buckets, version=version).select(*cols)


_PLAN_CONF = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")


@contextmanager
def static_plan(*sessions: SparkSession):
    """Plan the queries run inside with AQE off and
    ``spark.sql.shuffle.partitions`` = ``defaultParallelism``, on every
    session given; each session's own values come back on exit, also when
    the body raises."""
    saved = [(s, {k: s.conf.get(k) for k in _PLAN_CONF}) for s in sessions]
    try:
        for s, _ in saved:
            s.conf.set("spark.sql.adaptive.enabled", "false")
            s.conf.set("spark.sql.shuffle.partitions", str(s.sparkContext.defaultParallelism))
        yield
    finally:
        for s, conf in saved:
            for k, v in conf.items():
                s.conf.set(k, v)


_KINDS = ("d", "p", "r")


def prescan(log: DataFrame, targets: dict[str, CdcTarget]) -> list[dict]:
    """The batch's one narrow pre-scan: a single column-pruned job whose
    output feeds both ``apply_batch`` (via ``batch_stats``) and the
    offsets/lineage bookkeeping.

    Returns one dict per (table, segment, log_partition) group present in
    ``log``: ``fqtn`` ("" for a single-table log without keyspace/table
    columns), ``segment_id``, ``log_partition``, the row count ``n``,
    ``max_pos``, ``max_wt``, ``n_unsup`` (unsupported-kind rows, which still
    advance offsets but are skipped by the apply), per-kind tombstone counts
    ``n_d``/``n_p``/``n_r`` over supported rows, and ``bucket_pairs``: the
    touched (state bucket, tombstone-store bucket) pairs of ``targets[fqtn]``,
    computed with ``bucket_expr`` itself. The pair set is bounded by the
    bucket-count product, never by event count, so the pre-scan always runs
    static (``static_plan``): AQE has nothing to re-plan in it."""
    multi = "keyspace" in log.columns and "table" in log.columns
    keys = [c for c in ("keyspace", "table", "segment_id", "log_partition") if c in log.columns]
    unsup = F.lit(False)
    if "table_kind" in log.columns:
        unsup = F.coalesce(F.col("table_kind").isin(*UNSUPPORTED_KINDS), unsup)

    def pair(t: CdcTarget) -> F.Column:
        sm, tm = t.state.manifest(), t.tombstones.manifest()
        return F.struct(
            bucket_expr(sm["key_col"], sm["n_buckets"]).alias("sb"),
            bucket_expr(tm["key_col"], tm["n_buckets"]).alias("tb"),
        )

    if multi:  # each table's rows get the pair of its own target
        pairs = F
        for fqtn, t in targets.items():
            ks, table = fqtn.split(".", 1)
            pairs = pairs.when((F.col("keyspace") == ks) & (F.col("table") == table), pair(t))
    else:
        pairs = pair(targets[""])
    with static_plan(log.sparkSession):
        rows = (
            log.groupBy(*keys)
            .agg(
                F.count("*").alias("n"),
                F.max("position").alias("max_pos"),
                F.max("writetime").alias("max_wt"),
                F.sum(unsup.cast("long")).alias("n_unsup"),
                *[F.sum(((F.col("op") == k) & ~unsup).cast("long")).alias(f"n_{k}") for k in _KINDS],
                F.collect_set(pairs).alias("bucket_pairs"),
            )
            .collect()
        )
    return [
        {
            **r.asDict(),
            "fqtn": f"{r['keyspace']}.{r['table']}" if multi else "",
            "bucket_pairs": [(p["sb"], p["tb"]) for p in r["bucket_pairs"]],
        }
        for r in rows
    ]


def batch_stats(rows: list[dict]) -> dict:
    """``apply_batch``'s ``stats`` for the pre-scan rows of one table's
    slice: applied-event and per-kind counts plus the touched bucket pairs
    (a superset when skipped rows are included — an extra bucket only costs
    an idempotent rewrite)."""
    stats = {"n": sum(r["n"] - r["n_unsup"] for r in rows)}
    stats.update({k: sum(r[f"n_{k}"] for r in rows) for k in _KINDS})
    stats["bucket_pairs"] = sorted({p for r in rows for p in r["bucket_pairs"]})
    return stats


def state_buckets(stats: dict) -> list[int]:
    """The state bucket ids a batch touches, from its ``batch_stats``."""
    return sorted({sb for sb, _ in stats["bucket_pairs"]})


def apply_batch(
    target: CdcTarget,
    batch: DataFrame,
    stats: dict | None = None,
) -> dict:
    """Apply one decoded mutation batch to the target. Returns metrics.

    ``stats`` — the batch's ``batch_stats`` (event counts per op kind and
    the touched bucket pairs). The front-ends take it from the pre-scan they
    already run for offsets and lineage, so the batch is scanned exactly
    once at full width, by the reduction. When absent, ``prescan`` computes
    it here in one narrow job.

    The batch runs under ``static_plan`` (module docstring). A maintained
    view (``target.assembly``) is refreshed last, before the caller's offsets.

    Steps map to SURVEY operators: D3-D12 are upstream in decode ->
    R6 (reduce+merge) -> tombstone persistence (Cassandra gc_grace analog).

    **Duplicate delivery needs no dedup pass here** (reference D2, offset
    skip-check handleMutation:259-263): every aggregate in this plan —
    per-cell max(wt,seg,pos), liveness max, tombstone max — is idempotent
    under exact duplicates, so at-least-once delivery already yields
    exactly-once table state. The reference needs the skip-check because its
    downstream (ordered Kafka emission) is duplication-sensitive; a
    set-oriented semilattice apply is not. This deletes a full-width shuffle
    per batch.
    """
    if stats is None:
        stats = batch_stats(prescan(batch, {"": target}))
    kinds = tuple(k for k in _KINDS if stats[k])
    n_tombs = sum(stats[k] for k in kinds)

    # the batch's tombstones of every kind it carries, as store rows, for
    # the flush and the tombstone relation, computed once. The row-delete
    # ('d') kind is FOLDED into the key reduction (same grouping key, zero
    # extra shuffle) and applied to the target inside the merge join via
    # _kill_wt, so only its conv-grain kinds enter the relation
    with static_plan(batch.sparkSession, target.state.spark):
        new_rows = tombstone_rows(batch, kinds).cache() if kinds else None
        try:
            # collected as Arrow before the merge, which then reads the
            # cache; rows in (kind, conv_id, lo) order compress better than
            # in hash order
            if kinds:
                flushed = new_rows.toArrow().sort_by([(c, "ascending") for c in ("kind", "conv_id", "lo")])
            new_version = _merge(target, batch, stats, new_rows)
            # --- persist new tombstones for future out-of-order batches --
            # driver-side append, no Spark job (offset-flush analog)
            if kinds:
                target.tombstones.append_small(flushed)
        finally:
            if new_rows is not None:
                new_rows.unpersist()
    if target.assembly is not None:
        transcript.refresh_assembly(target, state_buckets(stats))
    return {
        "n_events": stats["n"],
        "n_buckets_rewritten": len(state_buckets(stats)),
        "n_new_tombstones": n_tombs,
        "state_version": new_version,
    }


def _merge(target: CdcTarget, batch: DataFrame, stats: dict, new_rows: DataFrame | None) -> int:
    """Reduce the batch, merge it into the touched state buckets, apply the
    conv-grain tombstones once to the merged rows, write copy-on-write;
    returns the new state version.

    Applying them after the merge is exact: "keep a cell iff its writetime
    > W" is monotone, so it commutes with ``merge_states``' per-column max,
    and every stored tombstone already killed the target cells it covers
    when it arrived, so applying it again changes nothing."""
    # the pre-scan's touched (state bucket, tombstone-store bucket) pairs:
    # the batch's conv_ids, upsert/delete keys and partition/range targets
    # alike, so no discovery job re-reads the batch
    pairs = stats["bucket_pairs"]
    bucket_ids = state_buckets(stats)

    # --- per-key reduction (i/u/d in ONE hash agg), row deletes folded --
    # NOT cached: its one consumer is the merge, which reads it once
    batch_state = finalize_state(reduce_events(batch))

    # --- merge target (only touched buckets are read/rewritten) --------
    if target.state.is_empty():
        merged = drop_invisible(batch_state)
    else:
        merged = merge_states(target.state.read(buckets=bucket_ids), batch_state)

    # --- the batch's partition/range tombstones and the stored ones -----
    # the tombstone store is bucketed by conv_id too — read only the
    # buckets the batch's conversations hash into
    conv_kinds = tuple(k for k in ("p", "r") if stats[k])
    tombs = new_rows.where(F.col("kind").isin(*conv_kinds)) if conv_kinds else None
    if not target.tombstones.is_empty():
        stored = target.tombstones.read(buckets=sorted({tb for _, tb in pairs}))
        tombs = stored if tombs is None else tombs.unionByName(stored)
    if tombs is not None:
        merged = kill_state(tomb_wt(merged, tombstone_relation(tombs)))

    if bucket_ids:
        return target.state.overwrite_buckets(merged, bucket_ids)
    return target.state.current_version()


def gc_tombstones(target: CdcTarget, writetime_horizon: int) -> dict:
    """Drop stored tombstones older than the horizon (gc_grace analog): once
    no in-flight segment can carry a writetime <= horizon — the producer
    bounds writetime inversion to a fixed window (generator:
    writetime_inversion_window_us) — tombstones below it can never affect
    future batches. Without this the store is the design's one
    unbounded-growth relation: every batch's conv-grain tombstones would
    accumulate forever into the tombstone relation ``_merge`` builds.

    The purge is planned from each store file's Parquet-footer ``wt``
    min/max (``LakeTable.purge_at_or_below``): files wholly at or below the
    horizon drop, files wholly above it stay, and only straddlers are
    rewritten, each bucket's survivors into that same bucket. No Spark job
    runs. Returns ``{"n_purged", "n_kept", "version"}``; a sweep that purges
    nothing commits nothing."""
    n_purged, n_kept, version = target.tombstones.purge_at_or_below("wt", writetime_horizon)
    return {"n_purged": n_purged, "n_kept": n_kept, "version": version}
