"""Dedup + similarity operator semantics on crafted corpora."""

import pytest
from pyspark.sql import functions as F

from pdf_to_text_spark.operators import dedup, similarity

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches from "
    "the warm windowsill and the birds sing in the garden all day long"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE, "en", "src0", len(BASE)),
        (1, BASE + " extra", "en", "src0", len(BASE) + 6),          # near-dup of 0
        (2, BASE.replace("dog", "wolf"), "en", "src0", len(BASE)),  # near-dup of 0
        (3, "completely different text about spark shuffle partitions and "
            "arrow batches flowing through executors with vectorized kernels",
         "en", "src1", 120),
        (4, BASE.upper(), "en", "src1", len(BASE)),                 # exact dup after norm
        (5, "", "en", "src2", 0),                                   # empty
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_exact_dedup_catches_case_difference(docs):
    groups = dedup.dedup_exact_groups(docs)
    big = groups.where(F.col("group_size") > 1).collect()
    assert len(big) == 1
    assert big[0]["group_size"] == 2 and big[0]["rep_doc_id"] == 0  # 0 and 4
    kept = dedup.dedup_exact(docs)
    ids = {r["doc_id"] for r in kept.collect()}
    assert 4 not in ids and 0 in ids and len(ids) == 5


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             dedup.minhash_dedup_pairs(docs, threshold=0.5).collect()}
    assert (0, 1) in pairs and (0, 4) in pairs
    assert not any(3 in p for p in pairs)  # the unrelated doc pairs with nothing


def test_dedup_corpus_null_text_gets_verdict(spark):
    """NULL text (extraction failure) must still get a keep-list row —
    it fingerprints like '' (review r2b #1: the NULL fingerprint used to
    vanish through the inner join)."""
    rows = [(0, None), (1, ""), (2, "real content words here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["keep"], r["reason"]) for r in
           dedup.dedup_corpus(docs).collect()}
    assert len(out) == 3
    # NULL and '' share the empty fingerprint: min id kept, other exact_dup
    assert out[0] == (1, "kept") and out[1] == (0, "exact_dup")
    assert out[2][0] == 1


def test_strip_duplicate_lines_global_first_occurrence(spark):
    """C4 line dedup: long repeated lines survive only at their first
    corpus position (doc order, then line order); short lines always
    stay; a fully-deduped doc collapses to ''."""
    boiler = "subscribe to our newsletter for updates today"
    rows = [
        (1, f"real content line number one here\n{boiler}"),
        (2, f"{boiler}\nmore real content in document two"),
        (3, boiler),                    # whole doc is the dup line → ''
        (4, "hi\nhi"),                  # short lines repeat freely
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"] for r in
           dedup.strip_duplicate_lines(df, min_words=5).collect()}
    assert out[1] == f"real content line number one here\n{boiler}"
    assert out[2] == "more real content in document two"
    assert out[3] == ""
    assert out[4] == "hi\nhi"


def test_dedup_corpus_keep_list(docs):
    """End-to-end keep-list: doc 4 (case-dup of 0) drops as exact_dup;
    docs 1/2 (near-dups of 0) drop as near_dup; 0, 3 and the empty doc
    survive. Rep choice is always the minimum doc_id."""
    out = {r["doc_id"]: (r["keep"], r["reason"]) for r in
           dedup.dedup_corpus(docs, near_threshold=0.5).collect()}
    assert out[4] == (0, "exact_dup")
    assert out[0] == (1, "kept") and out[3] == (1, "kept")
    assert out[1] == (0, "near_dup")
    assert {d for d, (k, _r) in out.items() if k == 1} >= {0, 3}
    assert len(out) == 6  # every input doc gets a verdict row


def test_near_dup_clusters_transitive_closure(spark):
    """CC must close chains: A~B and B~C (but A≁C directly under the
    threshold) still land in ONE cluster with rep = min doc_id."""
    base = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
            "kilo lima mike november oscar papa quebec romeo sierra tango") * 3
    rows = [
        (0, base, "en", "s", len(base)),
        (1, base + " uniform whiskey xray", "en", "s", 1),   # ~0
        (2, base + " uniform whiskey xray yankee zulu one two three", "en", "s", 1),  # ~1
        (7, "totally different text about arrow batches in executors", "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["doc_id"]: r["cluster_rep"] for r in
           dedup.near_dup_clusters(docs, threshold=0.5).collect()}
    assert out[0] == out[1] == out[2] == 0  # one component, min-id rep
    assert out[7] == 7                       # isolated doc is its own rep
    assert len(out) == 4


def test_lsh_candidates_then_exact_jaccard_composition(docs):
    """The documented 100 TB composition: minhash LSH candidate pairs →
    exact n-gram Jaccard verify (ngram_jaccard_pairs(candidates=...)).

    On candidate pairs the restricted join must agree exactly with the
    standalone all-pairs result; at the LSH detection threshold (~0.5 for
    16 bands × 4 rows) the composition reproduces the standalone output."""
    cand = dedup.minhash_candidate_pairs(dedup.minhash_signatures(docs))
    cand_set = {(r["doc_a"], r["doc_b"]) for r in cand.collect()}
    assert (0, 4) in cand_set  # normalization-identical pair always co-buckets

    composed = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.02, candidates=cand).collect()
    }
    standalone = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.02).collect()
    }
    # restricted == standalone ∩ candidates, with identical jaccard values
    assert composed == {p: j for p, j in standalone.items() if p in cand_set}
    # at the LSH design threshold the candidates cover every true pair,
    # so the composition equals the standalone result outright
    composed_hi = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5, candidates=cand).collect()
    }
    standalone_hi = {p: j for p, j in standalone.items() if j >= 0.5}
    assert composed_hi == standalone_hi and len(standalone_hi) >= 1


def test_simhash_near_pairs(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in
             dedup.simhash_near_pairs(docs, max_hamming=3).collect()}
    assert (0, 4) in pairs and pairs[(0, 4)] == 0  # normalization-identical
    assert (0, 1) in pairs
    assert not any(3 in (a, b) for (a, b) in pairs)
    # beyond the 4x16 pigeonhole guarantee (<=3) recall is silently
    # partial — loud error instead (r3 review)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_near_pairs(docs, max_hamming=8)


def test_ngram_jaccard_exact_math(docs, spark):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.1).collect()}
    assert pairs[(0, 4)] == 1.0  # identical after normalization
    assert 0.5 < pairs[(0, 1)] < 1.0
    # exact value check vs the kernel shingle sets
    from pdf_to_text_spark.kernels.textstats import normalize_text

    def shingles(t, n=3):
        w = normalize_text(t).split()
        return {" ".join(w[i : i + n]) for i in range(max(1, len(w) - n + 1))}

    s0, s1 = shingles(BASE), shingles(BASE + " extra")
    want = round(len(s0 & s1) / len(s0 | s1), 4)
    assert pairs[(0, 1)] == want


def test_embedding_near_pairs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.999, 0.04, 0.0, 0.0], 0),   # ~cos 0.999
        (2, [0.0, 1.0, 0.0, 0.0], 1),      # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0], 1),     # opposite
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    pairs = {(r["vec_a"], r["vec_b"]): r["cosine"] for r in
             dedup.embedding_near_pairs_exact(emb, threshold=0.95).collect()}
    assert set(pairs) == {(0, 1)}
    assert pairs[(0, 1)] > 0.99
    # LSH-routed path (the 100 TB entry point): candidates are bucket-local;
    # near-identical vectors co-bucket in ≥1 of the fixed deterministic
    # tables, and the rerank is the same exact cosine
    lsh_pairs = {(r["vec_a"], r["vec_b"]): r["cosine"] for r in
                 dedup.embedding_near_pairs(emb, threshold=0.95, dim=4).collect()}
    assert lsh_pairs == pairs
    # LSH output is always a subset of the exact pairs at any threshold
    exact_03 = {(r["vec_a"], r["vec_b"]) for r in
                dedup.embedding_near_pairs_exact(emb, threshold=-1.0).collect()}
    lsh_03 = {(r["vec_a"], r["vec_b"]) for r in
              dedup.embedding_near_pairs(emb, threshold=-1.0, dim=4).collect()}
    assert lsh_03 <= exact_03


@pytest.fixture(scope="module")
def embeddings(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    rows = []
    for i in range(200):
        center = rng.RandomState if False else None
        base = np.zeros(16)
        base[i % 4] = 1.0
        v = base + 0.1 * rng.standard_normal(16)
        rows.append((i, [float(x) for x in v], i % 4))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_brute_force_topk_self_is_top1(embeddings):
    q = similarity.queries_from_corpus(embeddings, 4)
    top = similarity.brute_force_topk(embeddings, q, k=3)
    rows = top.where(F.col("rank") == 1).collect()
    assert all(r["query_id"] == r["vec_id"] for r in rows)  # self-match first
    assert all(r["cosine"] == 1.0 for r in rows)


def test_ivf_topk_recall_vs_brute_force(embeddings):
    q = similarity.queries_from_corpus(embeddings, 4)
    brute = similarity.brute_force_topk(embeddings, q, k=5)
    ivf = similarity.ivf_topk(embeddings, q, dim=16, k=5, n_cells=8, n_probe=3)
    b = {(r["query_id"], r["vec_id"]) for r in brute.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in ivf.collect()}
    recall = len(a & b) / len(b)
    assert recall >= 0.8, f"IVF recall too low on clustered data: {recall}"


def test_label_centroids_exact_means(spark):
    rows = [
        (0, [1.0, 2.0], 7), (1, [3.0, 4.0], 7),   # label 7: mean (2, 3)
        (2, [10.0, 0.0], 9),                       # label 9: mean (10, 0)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {(r["label"], r["dim"]): (r["n"], r["mean_x"]) for r in
           similarity.label_centroids(emb).collect()}
    assert out[(7, 0)] == (2, 2.0) and out[(7, 1)] == (2, 3.0)
    assert out[(9, 0)] == (1, 10.0) and out[(9, 1)] == (1, 0.0)


def test_lsh_topk_recall_vs_brute_force(embeddings):
    q = similarity.queries_from_corpus(embeddings, 4)
    brute = similarity.brute_force_topk(embeddings, q, k=5)
    approx = similarity.lsh_topk(embeddings, q, dim=16, k=5)
    b = {(r["query_id"], r["vec_id"]) for r in brute.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(a & b) / len(b)
    assert recall >= 0.6, f"LSH recall too low: {recall}"
    # multiprobe (hamming-1 query buckets) must dominate plain LSH recall
    mp = {(r["query_id"], r["vec_id"]) for r in
          similarity.lsh_topk(embeddings, q, dim=16, k=5, multiprobe=True).collect()}
    mp_recall = len(mp & b) / len(b)
    assert mp_recall >= recall
    assert mp_recall >= 0.8, f"multiprobe recall too low: {mp_recall}"
    # and the clusters are real: top-5 of each query share the query's label
    labels = {r["vec_id"]: r["label"] for r in embeddings.collect()}
    for qid, vid in b:
        assert labels[vid] == labels[qid]


def test_hot_bucket_cap_bounds_pair_space(spark):
    """A crafted corpus of 10k docs falling in ONE band bucket per band
    must complete with a BOUNDED pair count under the cap (the 100 TB
    LSH-skew guard), and the stats relation makes the drop visible —
    no silent caps."""
    n = 10_000
    # identical text → identical signature → every band bucket holds all n
    rows = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(BASE).alias("text")
    )
    sigs = dedup.minhash_signatures(rows)
    capped = dedup.minhash_candidate_pairs(sigs, max_bucket=1000)
    assert capped.count() == 0  # every bucket oversized → all dropped
    stats = dedup.minhash_band_bucket_stats(sigs, max_bucket=1000).collect()[0]
    assert stats["n_buckets"] == 16          # 16 bands, one bucket each
    assert stats["oversized_buckets"] == 16  # the drop is countable
    assert stats["max_bucket_size"] == n
    assert stats["dropped_rows"] == 16 * n


def test_hot_bucket_cap_default_keeps_normal_buckets(docs):
    """At normal bucket sizes the cap is a no-op: same pairs with and
    without an explicit generous cap."""
    base = {(r["doc_a"], r["doc_b"]) for r in
            dedup.minhash_dedup_pairs(docs, threshold=0.5).collect()}
    loose = {(r["doc_a"], r["doc_b"]) for r in
             dedup.minhash_dedup_pairs(docs, threshold=0.5,
                                       max_bucket=10**9).collect()}
    assert base == loose and (0, 1) in base


def test_simhash_hot_bucket_cap(spark):
    """Same guard on the simhash pigeonhole join."""
    rows = spark.range(3000).select(
        F.col("id").alias("doc_id"), F.lit(BASE).alias("text")
    )
    assert dedup.simhash_near_pairs(rows, max_bucket=500).count() == 0
    stats = dedup.simhash_band_bucket_stats(rows, max_bucket=500).collect()[0]
    assert stats["oversized_buckets"] == 4 and stats["max_bucket_size"] == 3000


def test_ivf_sampled_training_recall_and_prebuilt_index(embeddings):
    """Sampled k-means training (the 100 TB path) must keep the recall
    gate, and a prebuilt index must serve identical results without
    retraining."""
    q = similarity.queries_from_corpus(embeddings, 4)
    brute = {(r["query_id"], r["vec_id"]) for r in
             similarity.brute_force_topk(embeddings, q, k=5).collect()}
    index = similarity.ivf_train(embeddings, dim=16, n_cells=8, sample_pct=50)
    served = similarity.ivf_topk(
        embeddings, q, dim=16, k=5, n_cells=8, n_probe=3, index=index
    )
    a = {(r["query_id"], r["vec_id"]) for r in served.collect()}
    assert len(a & brute) / len(brute) >= 0.8
    # prebuilt index == inline sampled training, bit-identically
    inline = similarity.ivf_topk(
        embeddings, q, dim=16, k=5, n_cells=8, n_probe=3, sample_pct=50
    )
    assert sorted(map(tuple, served.collect())) == sorted(map(tuple, inline.collect()))


def test_kernel_minhash_estimates_track_spark_exact_jaccard(docs):
    """Independent-oracle cross-check (VERDICT r2 #7): the Arrow/numpy
    minhash estimate must track the EXACT 5-gram Jaccard computed by the
    pure-JVM shingle-join operator — two unrelated implementations, and
    ngram_jaccard_pairs is itself DuckDB-oracled, so a shared
    kernel/oracle bug cannot pass silently."""
    est = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in
           dedup.minhash_dedup_pairs(docs, threshold=0.35).collect()}
    exact = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             dedup.ngram_jaccard_pairs(docs, n=5, threshold=0.0).collect()}
    assert (0, 1) in est and (0, 4) in est
    for p, e in est.items():
        assert abs(e - exact.get(p, 0.0)) <= 0.2, (p, e, exact.get(p))  # 64 perms ≈ 3σ


def test_strip_duplicate_substrings_exactsubstr_semantics(spark):
    """ExactSubstr-style span dedup: a k-token window repeated across the
    corpus keeps only its first (doc_id, pos) occurrence; unique text
    survives; short docs pass through untouched."""
    boiler = " ".join(f"b{i}" for i in range(6))          # 6-token boilerplate
    rows = [
        (0, f"intro zero {boiler} tail zero"),
        (1, f"intro one {boiler} end one"),               # repeats ONLY the span
        (2, "totally unique text that is not repeated"),
        (3, "short doc"),
        (4, f"{boiler}"),                                 # doc IS the span
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"] for r in
           dedup.strip_duplicate_substrings(docs, k=6).collect()}
    assert out[0] == f"intro zero {boiler} tail zero"     # first occurrence kept
    assert out[1] == "intro one end one"                  # exactly the span removed
    assert out[2] == rows[2][1]
    assert out[3] == "short doc"                          # < k tokens: untouched
    assert out[4] == ""                                   # fully-duplicate doc empties


def test_zero_vector_never_ranks(spark):
    """An all-zero corpus vector used to score cosine NaN, which Spark
    orders above every real double — i.e. rank #1 for every query
    (r3 review). Defined as cosine 0 instead."""
    from pdf_to_text_spark.operators.similarity import brute_force_topk

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame([(10, [1.0, 0.0])], "query_id long, qv array<double>")
    got = {r["rank"]: (r["vec_id"], r["cosine"]) for r in
           brute_force_topk(emb, q, k=3).collect()}
    assert got[1][0] == 1
    assert got[3] == (3, 0.0)  # zero vector ranks LAST with cosine 0


def test_simhash_pairs_subset_of_exact_jaccard_high(spark):
    """Cross-family gate (VERDICT r3 #6): on a crafted corpus of base
    docs and 1-word-edited twins, every simhash hamming≤3 pair must be a
    genuinely similar pair under an INDEPENDENT pure-Python word-3-gram
    Jaccard (computed in this test, no shared kernel), and no cross-base
    pair may appear. A shared kernel/oracle bug in the simhash path
    cannot satisfy this gate by construction."""
    from pdf_to_text_spark.operators.dedup import simhash_near_pairs

    rows = []
    texts = {}
    for i in range(20):
        # per-base unique vocab: cross-base similarity ~0, twin ~1.
        # 600 words: at hamming<=3 simhash targets near-identical LONG
        # docs (Manku WWW'07's regime) — a 1-word edit flips ~0-3 bits
        # at this length (empirically tuned; at 100 words it flips 1-8)
        words = [f"w{i:02d}x{j:03d}" for j in range(600)]
        twin = list(words)
        twin[300] = "edited"
        texts[i] = " ".join(words)
        texts[1000 + i] = " ".join(twin)
        rows.append((i, texts[i], "en", "s0", len(texts[i])))
        rows.append((1000 + i, texts[1000 + i], "en", "s0", len(texts[1000 + i])))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )

    def py_jaccard(a: str, b: str) -> float:
        ga = {tuple(a.split()[k : k + 3]) for k in range(len(a.split()) - 2)}
        gb = {tuple(b.split()[k : k + 3]) for k in range(len(b.split()) - 2)}
        return len(ga & gb) / max(1, len(ga | gb))

    got = {
        tuple(sorted((r["doc_a"], r["doc_b"])))
        for r in simhash_near_pairs(docs, max_hamming=3).collect()
    }
    twins = {(i, 1000 + i) for i in range(20)}
    assert got, "no simhash pairs found at all"
    assert got <= twins, f"cross-base pairs leaked: {got - twins}"
    assert len(got) >= 16, f"only {len(got)}/20 twins found"
    for a, b in got:
        assert py_jaccard(texts[a], texts[b]) >= 0.5, (a, b)


def test_nan_component_vector_never_passes_threshold(spark):
    """r5 review: a NaN (or Inf) embedding COMPONENT propagates to a NaN
    cosine, and Spark's `>= threshold` treats NaN as true — one corrupt
    vector would emit a bogus near-pair against everything it is
    compared with. Non-finite estimates are pinned to 0.0."""
    from pdf_to_text_spark.operators.dedup import embedding_near_pairs_exact
    from pdf_to_text_spark.operators.similarity import brute_force_topk

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.99, 0.01]), (3, [float("nan"), 1.0]),
         (4, [float("inf"), 1.0])],
        "vec_id long, embedding array<double>",
    )
    pairs = {(r["vec_a"], r["vec_b"]) for r in
             embedding_near_pairs_exact(emb, threshold=0.9).collect()}
    assert pairs == {(1, 2)}  # the corrupt vectors pair with nothing

    q = spark.createDataFrame([(10, [1.0, 0.0])], "query_id long, qv array<double>")
    got = {r["rank"]: r["vec_id"] for r in
           brute_force_topk(emb, q, k=4).collect()}
    assert got[1] in (1, 2) and got[2] in (1, 2)  # corrupt vectors rank last


def test_corrupt_embedding_rows_degrade_per_row_not_job(spark):
    """r6 review: one NULL (or wrong-length) vector in a mapInPandas
    batch made the stacked np.asarray raise an inhomogeneous-shape
    ValueError — task retries exhaust and the WHOLE LSH/IVF job dies.
    Corrupt embeddings are in this module's threat model (cosine paths
    were hardened in r3/r5); the kernels must degrade per row too."""
    rows = [
        (0, [float(i) for i in range(16)], 0),
        (1, [float(i) + 0.1 for i in range(16)], 0),
        (2, None, 0),             # NULL vector
        (3, [1.0, 2.0], 0),       # ragged (len 2, dim 16)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    sig = similarity.lsh_signatures(emb, dim=16)
    ids = {r["vec_id"] for r in sig.collect()}
    assert ids == {0, 1}          # bad rows get no signature, not a crash
    # IVF probe path: bad QUERY rows are skipped, good ones still answer
    q = spark.createDataFrame(
        [(0, [float(i) for i in range(16)]), (1, None), (2, [1.0, 2.0])],
        "query_id long, qv array<double>",
    )
    good = emb.where("vec_id < 2")
    out = similarity.ivf_topk(good, q, dim=16, k=2, n_cells=2)
    assert {r["query_id"] for r in out.collect()} == {0}
    # LSH topk end-to-end with the corrupt rows still IN the corpus
    lsh = similarity.lsh_topk(emb, q, dim=16, k=2)
    got = {r["query_id"] for r in lsh.collect()}
    assert got <= {0} and all(
        r["vec_id"] in (0, 1) for r in lsh.collect()
    )


def test_minhash_bands_uneven_split_is_loud():
    """n_perm % n_bands != 0 silently dropped the trailing permutations
    from every bucket key — recall degraded below the (1/b)^(1/r)
    threshold math with no signal (r6 review)."""
    import numpy as np

    from pdf_to_text_spark.kernels.textstats import minhash_bands, minhash_signature

    sig60 = minhash_signature("the quick brown fox jumps over the lazy dog", n_perm=60)
    with pytest.raises(ValueError, match="not a multiple"):
        minhash_bands(sig60, n_bands=16)
    # the pinned operator configuration stays valid
    sig64 = minhash_signature("the quick brown fox jumps over the lazy dog", n_perm=64)
    assert len(minhash_bands(sig64, n_bands=16)) == 16
    assert isinstance(sig64, np.ndarray)
