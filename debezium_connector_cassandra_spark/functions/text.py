"""Text-analysis functions for large-scale training-data pipelines.

All pure Catalyst column expressions (JVM, whole-stage codegen — no Python in
the hot path), built on a deterministic md5-derived 60-bit hash so every
operator has a bit-identical DuckDB oracle.

Scale notes: everything here is map-only (no shuffle), so it runs at scan
speed and composes with partition pruning; the shingle explode multiplies
rows by ~doc length — at 100 TB, cap shingles per doc (sampling stride) and
push the explode AFTER any selective filters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# deterministic 60-bit hash both engines compute identically:
# spark: conv(substr(md5(x),1,15),16,10)  duck: ('0x'||substr(md5(x),1,15))::bigint
def hash64(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


HASH64_DUCK = "CAST(concat('0x', substr(md5({x}),1,15)) AS bigint)"


def tokens(text: Column) -> Column:
    """Whitespace tokenization (the BPE-ish regex variant is token_pieces)."""
    return F.split(F.trim(text), r"\s+")


# GPT-2 pretokenizer regex (Radford et al. 2019; tiktoken's r50k_base
# pattern), in a lookahead-free portable variant so Spark (Java regex) and
# DuckDB (RE2) extract identical pieces: contractions first, then
# optional-leading-space letter / digit / punctuation runs. Pure-whitespace
# runs beyond the single attached leading space are skipped (we count
# tokens; whitespace carries no token mass). Alternation order is load-
# bearing — both engines use leftmost-first alternation, so 't in "don't"
# binds as a contraction before the punctuation branch can claim the quote.
BPE_PIECE_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def token_pieces(text: Column) -> Column:
    """BPE-ish sub-word pieces: the GPT-2 pretokenization pass. ``"msg c123
    t4"`` -> ``["msg", " c", "123", " t", "4"]`` — letter/digit boundaries
    split, contractions split, punctuation runs kept whole, leading space
    attached to the piece (the signature GPT-2 behavior). Map-only Catalyst
    expression: runs at scan speed, no Python."""
    return F.regexp_extract_all(text, F.lit(BPE_PIECE_RE), F.lit(0))


def n_tokens(text: Column) -> Column:
    return F.size(tokens(text))


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token accounting: whitespace words, BPE-ish pieces, the
    piece class mix, and fertility (pieces per word — the subword blow-up
    factor a token-budget estimate needs). One map-only projection; the
    piece classification is in-row array filtering over the single
    extracted array (no second regex scan of the text, no shuffle)."""
    t = F.col(text_col)
    pieces = token_pieces(t)
    n_words = n_tokens(t)

    def n_class(pat: str) -> Column:
        return F.size(F.filter(pieces, lambda p: p.rlike(pat)))

    return df.select(
        "doc_id",
        n_words.alias("n_words"),
        F.size(pieces).alias("n_pieces"),
        n_class(r"^ ?\p{L}+$").alias("n_word_pieces"),
        n_class(r"^ ?\p{N}+$").alias("n_num_pieces"),
        n_class(r"^'(?:s|t|re|ve|m|ll|d)$").alias("n_contraction_pieces"),
        n_class(r"^ ?[^\s\p{L}\p{N}]+$").alias("n_punct_pieces"),
        F.round(F.size(pieces) / F.greatest(n_words, F.lit(1)), 4).alias("fertility"),
    )


def stopword_hits(text: Column) -> Column:
    """Count of common-English stopword occurrences (language-ID signal)."""
    return F.regexp_count(text, F.lit(r" (the|a|and|of|to) "))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / token / stopword-ratio quality features (filtering signals a
    pretraining pipeline thresholds on)."""
    t = F.col(text_col)
    nt = n_tokens(t)
    return df.select(
        "doc_id",
        F.length(t).alias("n_chars_calc"),
        nt.alias("n_tokens"),
        F.round(F.length(F.regexp_replace(t, r"\s", "")) / F.greatest(nt, F.lit(1)), 4).alias("mean_token_len"),
        F.round(stopword_hits(t) / F.greatest(nt, F.lit(1)), 4).alias("stopword_ratio"),
        F.size(F.array_distinct(tokens(t))).alias("n_unique_tokens"),
        F.round(F.size(F.array_distinct(tokens(t))) / F.greatest(nt, F.lit(1)), 4).alias("ttr"),
    )


def repetition_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Intra-document repetition signals (the Gopher-style repetition
    filters a pretraining pipeline thresholds on):

    - ``dup_line_frac``      — fraction of lines occurring more than once
    - ``dup_line_char_frac`` — fraction of characters in duplicated lines
    - ``top_bigram_frac``    — occurrences of the most frequent word bigram
                               over total bigrams

    All computed with array higher-order functions INSIDE the row (no
    per-line/per-bigram explode): aggregate over array_distinct keeps the
    whole computation map-only — scan-speed at corpus scale."""
    t = F.col(text_col)
    lines, dup_cnt, dup_chars, total_chars = _line_stats(t)
    top_bi, n_bi = _top_bigram(t)
    return df.select(
        "doc_id",
        F.round(dup_cnt / F.greatest(F.size(lines), F.lit(1)), 4).alias("dup_line_frac"),
        F.round(dup_chars / F.greatest(total_chars, F.lit(1)), 4).alias("dup_line_char_frac"),
        F.round(F.coalesce(top_bi, F.lit(0)) / F.greatest(n_bi, F.lit(1)), 4).alias("top_bigram_frac"),
    )


def _occ(arr, x):
    return F.size(F.filter(arr, lambda y: y == x))


def _line_stats(t: Column):
    """(lines, dup_cnt, dup_chars, total_chars) column bundle — shared by
    repetition_features and quality_filter, all in-row HOFs."""
    lines = F.filter(F.split(t, "\n"), lambda x: F.length(x) > 0)
    uniq = F.array_distinct(lines)
    dup_lines = F.filter(uniq, lambda x: _occ(lines, x) > 1)
    dup_cnt = F.aggregate(dup_lines, F.lit(0), lambda acc, x: acc + _occ(lines, x))
    dup_chars = F.aggregate(
        dup_lines, F.lit(0), lambda acc, x: acc + _occ(lines, x) * F.length(x)
    )
    total_chars = F.aggregate(lines, F.lit(0), lambda acc, x: acc + F.length(x))
    return lines, dup_cnt, dup_chars, total_chars


def _top_bigram(t: Column):
    """(top-bigram count, capped bigram denominator) — the cap mirrors the
    DuckDB oracle's generate_series(1, 2000); denominator = bigrams actually
    generated so the fraction stays consistent on very long docs."""
    toks = tokens(t)
    n_bi = F.least(F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(2000))
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.least(F.size(toks) - 2, F.lit(1999))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # max occurrence count = longest run in the SORTED array: O(B log B + B)
    # instead of the count-each-distinct-against-all formulation, which is
    # O(B^2) interpreted-lambda comparisons per row — at the 2000-bigram cap
    # that was 4M comparisons per document (measured 170s for the corpus
    # pass; this form takes ~2s). NULL on no bigrams, as array_max was.
    run_scan = F.aggregate(
        F.array_sort(bigrams),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    top_bi = F.when(F.size(bigrams) > 0, run_scan)
    return top_bi, n_bi


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 30,
    min_ttr: float = 0.35,
    max_top_bigram_frac: float = 0.08,
    max_dup_line_frac: float = 0.3,
) -> DataFrame:
    """Composed Gopher/C4-style keep-drop decision — the filter stage a
    pretraining pipeline actually runs, as ONE map-only projection (all four
    signals are in-row HOFs over the same scan; no joins between feature
    relations, no shuffle):

    - ``too_short``          n_tokens below the floor
    - ``low_diversity``      type-token ratio below the floor
    - ``repetitive_bigram``  top word-bigram fraction above the ceiling
    - ``repeated_lines``     duplicated-line fraction above the ceiling

    Thresholds compare the 4-dp ROUNDED signals (the same values the
    feature relations emit), so decisions are reproducible cross-engine.
    Returns (doc_id, keep, drop_reasons) with reasons in a fixed order —
    auditable filtering, not just a boolean."""
    t = F.col(text_col)
    nt = n_tokens(t)
    ttr = F.round(
        F.size(F.array_distinct(tokens(t))) / F.greatest(nt, F.lit(1)), 4
    )
    lines, dup_cnt, _, _ = _line_stats(t)
    dlf = F.round(dup_cnt / F.greatest(F.size(lines), F.lit(1)), 4)
    top_bi, n_bi = _top_bigram(t)
    tbf = F.round(F.coalesce(top_bi, F.lit(0)) / F.greatest(n_bi, F.lit(1)), 4)
    reasons = F.filter(
        F.array(
            F.when(nt < min_tokens, F.lit("too_short")),
            F.when(ttr < min_ttr, F.lit("low_diversity")),
            F.when(tbf > max_top_bigram_frac, F.lit("repetitive_bigram")),
            F.when(dlf > max_dup_line_frac, F.lit("repeated_lines")),
        ),
        lambda x: x.isNotNull(),
    )
    return df.select(
        "doc_id",
        (F.size(reasons) == 0).alias("keep"),
        F.concat_ws(",", reasons).alias("drop_reasons"),
    )


LANG_MARKERS = {
    "en": r" (the|and|of) ",
    "es": r" (el|la|de|y) ",
    "de": r" (der|die|und) ",
    "fr": r" (le|la|et|des) ",
}


def langid(df: DataFrame, text_col: str = "text") -> DataFrame:
    """N-gram/marker-word language-ID heuristic: score marker hits per
    language, argmax with deterministic tie-break on language code."""
    t = F.col(text_col)
    scores = F.array(
        *[
            F.struct(
                F.regexp_count(t, F.lit(pat)).alias("score"),
                F.lit(code).alias("lang"),
            )
            for code, pat in sorted(LANG_MARKERS.items())
        ]
    )
    best = F.array_max(F.filter(scores, lambda s: s["score"] > 0))
    return df.select(
        "doc_id",
        F.coalesce(best["lang"], F.lit("unknown")).alias("pred_lang"),
        F.coalesce(best["score"], F.lit(0)).alias("marker_hits"),
    )


# Shingle-position cap shared by the engine AND the DuckDB oracles
# (__spark_entry__.py uses generate_series(1, MAX_SHINGLE_POS)). Bounds the
# explode fan-out per document — a deliberate sampling stride for very long
# docs; both sides MUST use the same bound or similarity oracles diverge.
MAX_SHINGLE_POS = 700


def shingles_df(df: DataFrame, text_col: str = "text", k: int = 5) -> DataFrame:
    """(doc_id, shingle) exploded relation — the join key for n-gram
    similarity. At scale: filter high-document-frequency shingles first
    (stop-shingles) to kill the quadratic hot keys. Positions are capped at
    MAX_SHINGLE_POS (prefix sampling) to bound fan-out and match the oracle."""
    t = F.col(text_col)
    idx = F.sequence(
        F.lit(1),
        F.least(F.greatest(F.length(t) - (k - 1), F.lit(1)), F.lit(MAX_SHINGLE_POS)),
    )
    sh = F.array_distinct(F.transform(idx, lambda i: t.substr(i, F.lit(k))))
    return df.select("doc_id", F.explode(sh).alias("shingle"))


def fingerprint(df: DataFrame, text_col: str = "text", k: int = 5) -> DataFrame:
    """Document fingerprint: min/max shingle hash + distinct-shingle count
    (winnowing-lite rolling-hash fingerprint)."""
    sh = shingles_df(df, text_col, k)
    h = hash64(F.col("shingle"))
    return sh.groupBy("doc_id").agg(
        F.min(h).alias("fp_min"),
        F.max(h).alias("fp_max"),
        F.count_distinct(F.col("shingle")).alias("n_shingles"),
    )
