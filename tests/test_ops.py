"""Unit tests: decode paths, training-data operators, multimodal stub
contract."""

import pytest
from pyspark.sql import Row, functions as F

from debezium_connector_cassandra_spark.functions.decode import with_envelope
from debezium_connector_cassandra_spark.operators.multimodal import (
    attach_payload,
    decode_media,
    extract_features,
    resize_stub,
)
from debezium_connector_cassandra_spark.operators.similarity import cosine_topk
from debezium_connector_cassandra_spark.operators.text_dedup import (
    dup_clusters,
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_dups,
)
from debezium_connector_cassandra_spark.sources.generator import gen_mutation_log


def test_field_exclude_only_strips_upserts(spark):
    log = gen_mutation_log(spark, 200, n_convs=10, seed=12)
    env = with_envelope(log, excluded_fields=("tool",))
    ups = env.where(F.col("op").isin("i", "u")).select("cells.tool").collect()
    assert all(r["tool"] is None for r in ups)


DOCS = [
    Row(doc_id=0, text="the quick brown fox jumps over the lazy dog again and again"),
    Row(doc_id=1, text="the quick brown fox jumps over the lazy dog again and again"),  # exact dup
    Row(doc_id=2, text="the quick brown fox jumps over the lazy dog again and again plus tail"),  # near dup
    Row(doc_id=3, text="completely different content about spark query engines at scale"),
]


def test_exact_dedup(spark):
    docs = spark.createDataFrame(DOCS)
    groups = exact_dedup(docs).collect()
    assert len(groups) == 1
    assert groups[0]["representative"] == 0 and groups[0]["n_copies"] == 2


def test_ngram_jaccard_finds_near_dup(spark):
    docs = spark.createDataFrame(DOCS)
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0  # exact dup
    assert (0, 2) in pairs and pairs[(0, 2)] >= 0.7  # near dup
    assert not any(3 in p for p in pairs)  # unrelated doc untouched


def test_duplicated_gram_fraction(spark):
    """DOCS: docs 0/1 are exact dups (every 4-gram shared -> frac 1.0), doc 2
    shares 0/1's grams until its extra tail, doc 3 shares nothing (0.0);
    min_df counts DOCUMENTS, so intra-doc repetition alone never fires."""
    from debezium_connector_cassandra_spark.operators.text_dedup import (
        duplicated_gram_fraction,
    )

    docs = spark.createDataFrame(DOCS)
    out = {r["doc_id"]: r for r in duplicated_gram_fraction(docs, n=4).collect()}
    assert out[0]["dup_frac"] == 1.0 and out[1]["dup_frac"] == 1.0
    assert 0.0 < out[2]["dup_frac"] < 1.0
    assert out[3]["dup_frac"] == 0.0
    assert out[0]["n_grams"] == out[0]["n_dup_grams"]


def test_minhash_lsh_candidates(spark):
    docs = spark.createDataFrame(DOCS)
    cands = {(r["doc_a"], r["doc_b"]): r["n_shared_bands"] for r in minhash_lsh_candidates(docs).collect()}
    assert cands[(0, 1)] == 4  # identical docs share every band
    assert (0, 2) in cands  # near dup shares >= 1 band
    assert (0, 3) not in cands and (1, 3) not in cands


def test_simhash_near_dup_distance(spark):
    docs = spark.createDataFrame(DOCS)
    sh = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert sh[0] == sh[1]
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(sh[0], sh[2]) < ham(sh[0], sh[3])


def test_simhash_near_dups_banded_join(spark):
    """The hamming retrieval finds exactly the all-pairs-within-k set (the
    banded index is exact by pigeonhole when bands > max_hamming)."""
    docs = spark.createDataFrame(DOCS)
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_dups(docs, bits=64, bands=8, max_hamming=6).collect()
    }
    # brute-force oracle over the same fingerprints
    fps = {r["doc_id"]: r["simhash"] for r in simhash(docs, bits=64).collect()}
    ids = sorted(fps)
    want = {
        (a, b): bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1") <= 6
    }
    assert got == want
    assert (0, 1) in got and got[(0, 1)] == 0  # exact dup pair always caught
    with pytest.raises(ValueError, match="bands"):
        simhash_near_dups(docs, bands=3, max_hamming=3)


def test_dup_clusters_min_label_and_convergence_guard(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    # a chain whose diameter exceeds max_iters must refuse, not return
    # wrong labels silently
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters(chain, max_iters=2)


def test_contamination_check_13gram(spark):
    from debezium_connector_cassandra_spark.operators.text_dedup import (
        contamination_check,
    )

    base = "one two three four five six seven eight nine ten eleven twelve thirteen"
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text=base + " and a tail of extra words"),
            Row(doc_id=1, text="totally different words that never overlap the benchmark at all here"),
        ]
    )
    bench = spark.createDataFrame([Row(bench_id=100, text=base)])
    got = {r["doc_id"]: r for r in contamination_check(docs, bench, n=13).collect()}
    assert 0 in got and got[0]["n_bench_docs"] == 1
    assert 1 not in got  # clean doc is absent from the contamination relation


def test_deterministic_sample_reproducible_and_monotone(spark):
    from debezium_connector_cassandra_spark.operators.text_dedup import (
        deterministic_sample,
    )

    docs = spark.createDataFrame([Row(doc_id=i, text="x") for i in range(500)])
    s1 = {r["doc_id"] for r in deterministic_sample(docs, rate=0.3).collect()}
    s2 = {r["doc_id"] for r in deterministic_sample(docs.repartition(7), rate=0.3).collect()}
    assert s1 == s2  # partitioning-independent
    bigger = {r["doc_id"] for r in deterministic_sample(docs, rate=0.6).collect()}
    assert s1 <= bigger  # raising the rate strictly grows the sample
    assert 0.2 < len(s1) / 500 < 0.4


def test_repetition_features_gopher_signals(spark):
    from debezium_connector_cassandra_spark.functions.text import (
        repetition_features,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="unique line a\nunique line b\nunique line c"),
            Row(doc_id=1, text="same line\nsame line\nsame line"),
            Row(doc_id=2, text="spam spam spam spam spam spam"),
        ]
    )
    got = {r["doc_id"]: r for r in repetition_features(docs).collect()}
    assert got[0]["dup_line_frac"] == 0.0
    assert got[1]["dup_line_frac"] == 1.0 and got[1]["dup_line_char_frac"] == 1.0
    assert got[2]["top_bigram_frac"] == 1.0  # every bigram is "spam spam"


def test_cosine_topk_exact(spark):
    embs = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0]),
            Row(vec_id=1, embedding=[0.9, 0.1]),
            Row(vec_id=2, embedding=[0.0, 1.0]),
            Row(vec_id=3, embedding=[-1.0, 0.0]),
        ]
    )
    top = cosine_topk(embs, embs.where(F.col("vec_id") == 0), k=2).collect()
    order = [r["neighbor_id"] for r in sorted(top, key=lambda r: r["rank"])]
    assert order == [1, 2]


def test_pq_codes_and_adc_recall(spark):
    """PQ contract: a codebook-source vector encodes to its own id in every
    subvector (distance 0, ties break code_id ASC); ADC top-k over the real
    embeddings overlaps decently with exact cosine top-k (normalized
    vectors: L2 rank == cosine rank, PQ only adds quantization error)."""
    from debezium_connector_cassandra_spark.operators.similarity import (
        cosine_topk,
        pq_adc_topk,
        pq_codebooks,
        pq_codebooks_kmeans,
        pq_encode,
    )

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = pq_codebooks(embs)
    codes = {r["vec_id"]: r["codes"] for r in pq_encode(embs, cb).collect()}
    assert len(codes[0]) == 4
    for vid in range(16):
        assert codes[vid] == [vid] * 4  # own codeword at distance 0

    # recall sanity uses TRAINED (per-subvector L2 k-means) codebooks — the
    # smallest-id convention is the oracle hook, not a usable quantizer.
    # The synthetic embeddings are near-random, so neighbor structure is
    # weak: measured recall@5 ~0.25 with m=8 (BENCH/pq_recall.json) — far
    # above the 0.01 chance floor of picking 5 of 499, which is what this
    # bound pins.
    cb_t = pq_codebooks_kmeans(embs, m=8, n_iters=2)
    codes_t = pq_encode(embs, cb_t, m=8)
    queries = embs.where(F.col("vec_id").between(20, 31))
    exact = {}
    for r in cosine_topk(embs, queries, k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx = {}
    for r in pq_adc_topk(embs, queries, k=5, m=8, codebooks=cb_t, codes=codes_t).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(exact[q] & approx[q]) / 5 for q in exact]
    assert sum(recalls) / len(recalls) >= 0.15


def test_pq_rerank_refine(spark):
    """Refine contract (FAISS IndexRefineFlat): (a) with rerank >= corpus the
    candidate stage proposes everything, so the refined top-k EQUALS exact
    cosine top-k row-for-row; (b) at practical rerank the refined recall is
    at least the raw ADC recall — the exact re-score can only fix orderings,
    never lose a candidate ADC found."""
    from debezium_connector_cassandra_spark.operators.similarity import (
        cosine_topk,
        pq_adc_topk,
        pq_codebooks_kmeans,
        pq_encode,
        pq_rerank_topk,
    )

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = embs.where(F.col("vec_id").between(20, 31))
    cb_t = pq_codebooks_kmeans(embs, m=8, n_iters=2)
    codes_t = pq_encode(embs, cb_t, m=8)

    n = embs.count()
    refined_all = pq_rerank_topk(
        embs, queries, k=5, rerank=n, m=8, codebooks=cb_t, codes=codes_t
    ).collect()
    exact_rows = cosine_topk(embs, queries, k=5).collect()
    assert sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in refined_all) == sorted(
        (r["query_id"], r["rank"], r["neighbor_id"]) for r in exact_rows
    )

    exact = {}
    for r in exact_rows:
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    adc, refined = {}, {}
    for r in pq_adc_topk(embs, queries, k=5, m=8, codebooks=cb_t, codes=codes_t).collect():
        adc.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in pq_rerank_topk(
        embs, queries, k=5, rerank=50, m=8, codebooks=cb_t, codes=codes_t
    ).collect():
        refined.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    r_adc = sum(len(exact[q] & adc[q]) for q in exact) / (5 * len(exact))
    r_ref = sum(len(exact[q] & refined[q]) for q in exact) / (5 * len(exact))
    assert r_ref >= r_adc


def test_sq8_near_exact_recall(spark):
    """SQ8 contract: uint8 per-dimension codes are the near-exact tier —
    top-5 from decoded codes must equal exact cosine top-5 almost
    everywhere, even on the unstructured synthetic corpus where PQ's lossy
    subvector codes plateau at ~0.25 (BENCH/pq_recall.json). Also pins the
    code range and the degenerate-dimension rule."""
    from debezium_connector_cassandra_spark.operators.similarity import (
        cosine_topk,
        ivf_sq_topk,
        sq_bounds,
        sq_encode,
        sq_topk,
    )

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    b = sq_bounds(embs, dim=64)
    assert len(b) == 64 and all(mn <= mx for mn, mx in b)
    codes = sq_encode(embs, b)
    row = codes.where(F.col("vec_id") == 0).collect()[0]["codes"]
    assert len(row) == 64 and all(0 <= c <= 255 for c in row)

    queries = embs.where(F.col("vec_id").between(20, 31))
    exact, approx = {}, {}
    for r in cosine_topk(embs, queries, k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in sq_topk(embs, queries, k=5, bounds=b, codes=codes).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(exact[q] & approx[q]) / 5 for q in exact]
    assert sum(recalls) / len(recalls) >= 0.9  # near-exact, not ~0.25

    # the composed IVF-SQ8 path can only lose candidates to probe selection
    # (same ceiling as IVF-Flat), never to scoring
    ivf = {}
    for r in ivf_sq_topk(embs, queries, k=5, n_probe=16, bounds=b, codes=codes).collect():
        ivf.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls_ivf = [len(exact[q] & ivf[q]) / 5 for q in exact]
    assert sum(recalls_ivf) / len(recalls_ivf) >= 0.9  # n_probe=all => exact


def test_multimodal_stub_contract(spark):
    docs = spark.createDataFrame(DOCS)
    media = attach_payload(docs)
    feats = {r["doc_id"]: r for r in extract_features(media).collect()}
    assert feats[0]["n_bytes"] == len(DOCS[0].text.encode())
    assert feats[0]["mean_byte"] == pytest.approx(
        sum(DOCS[0].text.encode()) / len(DOCS[0].text.encode())
    )
    resized = resize_stub(media).collect()
    assert all(r["width"] == 224 for r in resized)
    # unknown codecs must fail loudly, not silently fake
    with pytest.raises(NotImplementedError):
        decode_media(b"\xff\xd8", "jpeg")


def test_validate_unique_writetimes(spark):
    from debezium_connector_cassandra_spark.operators.lww import (
        validate_unique_writetimes,
    )

    ok = spark.createDataFrame(
        [("i", "c1", 1, 100), ("u", "c1", 1, 101), ("u", "c2", 1, 100)],
        "op string, conv_id string, turn_idx int, writetime long",
    )
    validate_unique_writetimes(ok)  # no raise
    bad = spark.createDataFrame(
        [("i", "c1", 1, 100), ("u", "c1", 1, 100)],
        "op string, conv_id string, turn_idx int, writetime long",
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="duplicate writetime"):
        validate_unique_writetimes(bad)
