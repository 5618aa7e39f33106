"""Transcript assembly: fold the materialized CDC state back into ordered
per-conversation transcripts.

This is the payload-specific export a transcript lakehouse serves to
consumers (fine-tuning data loaders, eval harnesses): the reference
connector materializes per-(conv, turn) rows with stable ordering keys
(partition key + clustering key, SURVEY §1.1 RowData); assembly is the
inverse projection — group by conversation, order by the clustering key,
emit one document per conversation.

Scale notes: one hash-aggregate keyed by ``conv_id``; the per-group
``collect_list`` is bounded by the turns-per-conversation cardinality
(transcripts are short relative to partitions — thousands of turns at
most), so no group outgrows an executor.  ``array_sort`` on the collected
(turn_idx, line) structs restores clustering order without a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from ..functions.sql import ident, string_lit

# the maintained downstream-view relation (CdcRunner(maintain_assembly=True))
ASSEMBLY_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("n_turns", T.LongType(), False),
        T.StructField("last_turn", T.IntegerType(), True),
        T.StructField("total_chars", T.LongType(), True),
        T.StructField("transcript", T.StringType(), True),
    ]
)


def open_assembly(
    spark, path: str, target, role_col: str | None = "role", text_col: str = "text"
) -> None:
    """Open (or create) a maintained transcript view at ``path`` and make it
    part of ``target``, whose ``apply_batch`` then refreshes it. The view
    MUST share the state's bucket function: ``refresh_assembly`` rewrites
    the state bucket ids a batch's pre-scan reports as assembly buckets."""
    from ..lake.table import LakeTable

    n_buckets = target.state.manifest()["n_buckets"]
    target.assembly = LakeTable.open_or_create(spark, path, ASSEMBLY_SCHEMA, "conv_id", n_buckets)
    target.assembly_cols = (role_col, text_col)


def refresh_assembly(target, buckets: list[int]) -> None:
    """The maintained-view refresh, run by ``plans.apply.apply_batch`` after
    every state commit of a target that holds a view, whichever front-end
    or snapshot applied the batch: re-assemble the given state buckets —
    the batch's touched buckets from its pre-scan — and COW-swap them.
    Whole-bucket recompute-from-state is idempotent under replay and drops
    fully-deleted conversations; the assembly table shares the state's
    bucket function, so state bucket ids are assembly bucket ids and the
    state read is file-pruned to them."""
    if not buckets:
        return
    role_col, text_col = target.assembly_cols
    touched = target.read_transcripts(buckets=buckets)
    new_rows = assemble_transcripts(
        touched, role_col=role_col, text_col=text_col
    ).select(*[f.name for f in ASSEMBLY_SCHEMA.fields])
    target.assembly.overwrite_buckets(new_rows, buckets)


def incremental_transcripts(
    prev_assembly: DataFrame,
    new_state: DataFrame,
    diff: DataFrame,
    conv_col: str = "conv_id",
    **assemble_kwargs,
) -> DataFrame:
    """Incremental view maintenance of the transcript export: given the
    previous assembly, the new state, and the ``snapshot_diff`` change
    stream between the two states, recompute ONLY the touched
    conversations and carry every untouched one forward unchanged.

    Equals ``assemble_transcripts(new_state)`` exactly (pinned), at the
    cost of |touched| conversations instead of the full corpus — the
    incremental principle: a CDC batch touches a vanishing fraction of a
    100 TB table, so the semi/anti joins on the touched-conv set broadcast
    and the recompute aggregate runs over the touched slice only.  A
    conversation deleted entirely simply vanishes (its recompute is empty
    and the anti-join drops its old row); a new conversation appears via
    the recompute side."""
    touched = diff.select(F.col(conv_col).alias("conv_id")).distinct()
    recomputed = assemble_transcripts(
        new_state.join(touched, new_state[conv_col] == touched["conv_id"], "left_semi"),
        conv_col=conv_col,
        **assemble_kwargs,
    )
    carried = prev_assembly.join(
        touched, prev_assembly["conv_id"] == touched["conv_id"], "left_anti"
    )
    return carried.unionByName(recomputed)


def assemble_transcripts(
    state: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str | None = "role",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """One row per conversation: ``n_turns``, ``last_turn``,
    ``total_chars`` and the ordered ``transcript`` string
    (``role: text`` lines joined by ``sep``; NULL role prints ``?``,
    NULL text prints empty — a turn whose cells were tombstoned away
    still occupies its slot, matching the reference's sparse-cell
    semantics, SURVEY §2 D7/D8).  ``role_col=None`` emits bare text
    lines (tables without a role column)."""
    text = f"coalesce({ident(text_col)}, '')"
    if role_col is None:
        line = text
    else:
        line = f"concat(coalesce({ident(role_col)}, '?'), ': ', {text})"
    # SQL-string projection/aggregation (single py4j round trips — see
    # operators/lww.py)
    return (
        state.selectExpr(
            f"{ident(conv_col)} AS conv_id",
            f"{ident(turn_col)} AS turn_idx",
            f"length({text}) AS _tc",
            f"named_struct('t', {ident(turn_col)}, 'line', {line}) AS _e",
        )
        .groupBy("conv_id")
        .agg(
            F.expr("count(*) AS n_turns"),
            F.expr("max(turn_idx) AS last_turn"),
            F.expr("sum(_tc) AS total_chars"),
            F.expr(
                "array_join(transform(array_sort(collect_list(_e)), "
                f"x -> x.line), {string_lit(sep)}) AS transcript"
            ),
        )
    )
