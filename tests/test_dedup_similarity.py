"""Dedup operator semantics on crafted corpora."""

import hashlib

import pytest
from pyspark.sql import functions as F

from pdf_to_text_spark.kernels.textstats import normalize_text
from pdf_to_text_spark.operators import dedup

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


def test_exact_dedup_catches_case_difference(docs, spark):
    groups = dedup.dedup_exact_groups(docs)
    big = groups.where(F.col("group_size") > 1).collect()
    assert len(big) == 1
    assert big[0]["group_size"] == 2 and big[0]["rep_doc_id"] == 0  # 0 and 4
    # punctuation and whitespace runs normalize away too, not only case
    pair = spark.createDataFrame(
        [(0, "Hello, World!"), (1, "hello   world")], "doc_id long, text string"
    )
    assert [r["group_size"] for r in dedup.dedup_exact_groups(pair).collect()] == [2]
    kept = dedup.dedup_exact(docs)
    ids = {r["doc_id"] for r in kept.collect()}
    assert 4 not in ids and 0 in ids and len(ids) == 5


# fingerprint_col (JVM) against the Python normalization it is mirrored by
NORM_CASES = {
    "empty": "",
    "punct": "Hello, World!",
    "ws-run": "hello   world",
    "trim": "  lead and trail  ",
    "tab-newline": "tab\tnew\nline",
    "underscore": "a-b_c",
    "accents": "ÀÉÎ accents",
    "kelvin": "\u212a kelvin",      # lowercases to ASCII k
    "dotted-i": "\u0130stanbul",    # lowercases to i + combining dot
    "sharp-s": "ß straße",
    "fullwidth": "ＡＢＣ fullwidth",
    "arabic-digit": "\u0663 digit",
    "emoji": "emoji \U0001F600 mid",
}


@pytest.fixture(scope="module")
def spark_fingerprints(spark):
    df = spark.createDataFrame(list(NORM_CASES.items()), "case string, text string")
    return {r["case"]: r["fp"] for r in df.select("case", dedup.fingerprint_col().alias("fp")).collect()}


@pytest.mark.parametrize("case", sorted(NORM_CASES))
def test_fingerprint_col_mirrors_normalize_text(spark_fingerprints, case):
    want = hashlib.md5(normalize_text(NORM_CASES[case]).encode()).hexdigest()
    assert spark_fingerprints[case] == want


def test_fingerprint_col_null_text_is_empty_text(spark):
    df = spark.createDataFrame([(None,), ("",)], "text string")
    fps = [r["fp"] for r in df.select(dedup.fingerprint_col().alias("fp")).collect()]
    assert fps == [hashlib.md5(b"").hexdigest()] * 2


# dedup_corpus's exact-dup key comes from its kernel pass; fingerprint_col
# is its JVM mirror
KERNEL_CASES = [*NORM_CASES.items(), ("null", None)]


@pytest.fixture(scope="module")
def kernel_and_jvm_fingerprints(spark):
    df = spark.createDataFrame(
        [(i, t) for i, (_, t) in enumerate(KERNEL_CASES)], "doc_id long, text string"
    )
    kernel = {r["doc_id"]: r["fingerprint"] for r in dedup._minhash(df, 64, 16).collect()}
    jvm = {r["doc_id"]: r["fp"] for r in
           df.select("doc_id", dedup.fingerprint_col().alias("fp")).collect()}
    return {case: (kernel[i], jvm[i]) for i, (case, _) in enumerate(KERNEL_CASES)}


@pytest.mark.parametrize("case", [c for c, _ in KERNEL_CASES])
def test_kernel_fingerprint_mirrors_fingerprint_col(kernel_and_jvm_fingerprints, case):
    kernel, jvm = kernel_and_jvm_fingerprints[case]
    want = hashlib.md5(normalize_text(dict(KERNEL_CASES)[case] or "").encode()).hexdigest()
    assert kernel == jvm == want


# (signature a, signature b, est): equal, disjoint, half equal, and
# k/n on a 4-decimal rounding edge — Spark's round is HALF_UP, so
# 1/32 = 0.03125 reads 0.0313 where Python's round gives 0.0312
EST_PAIRS = [
    (list(range(64)), list(range(64)), 1.0),
    (list(range(64)), list(range(64, 128)), 0.0),
    (list(range(64)), list(range(32)) + list(range(100, 132)), 0.5),
    (list(range(32)), [0] + list(range(100, 131)), 0.0313),
    (list(range(32)), list(range(5)) + list(range(100, 127)), 0.1563),
    (list(range(64)), list(range(21)) + list(range(100, 143)), 0.3281),
    (list(range(64)), list(range(3)) + list(range(100, 161)), 0.0469),
]


def test_sig_estimate_is_one_definition_in_both_paths(spark):
    """The LSH pair verify and dedup_corpus's bucket fold format the one
    _SIG_ESTIMATE. The verify's est_jaccard reads the expected value of
    every pair; at each pair's estimate, and half a 4-decimal step above
    it, the fold flags exactly the pairs whose verify estimate reaches
    the threshold — so its estimates are the same numbers."""
    rows = []
    for p, (a, b, _) in enumerate(EST_PAIRS):
        # each pair alone in its own bucket, distinct fingerprints
        rows += [(2 * p, f"fp{2 * p}", a, [p]), (2 * p + 1, f"fp{2 * p + 1}", b, [p])]
    sigs = spark.createDataFrame(
        rows, "doc_id long, fingerprint string, sig array<long>, bands array<long>"
    )
    verified = {r["doc_a"] // 2: r["est_jaccard"] for r in
                dedup._verify_candidate_pairs(sigs, 0.0, dedup.DEFAULT_MAX_BUCKET).collect()}
    assert verified == {p: est for p, (_, _, est) in enumerate(EST_PAIRS)}
    steps = {e + d for e in verified.values() for d in (0, 0.00005)}
    for t in sorted(t for t in steps if t <= 1):
        got = {r["doc_id"]: r["reason"] for r in
               dedup._keep_list(sigs, t, dedup.DEFAULT_MAX_BUCKET).collect()}
        near = {p for p in verified if got[2 * p + 1] == "near_dup"}
        assert near == {p for p, est in verified.items() if est >= t}, t


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


def test_strip_duplicate_lines_hot_line_null_text_and_word_count(spark):
    """A long line in 521 docs survives once, at its smallest
    (doc_id, pos), and that doc's second copy is dropped too; NULL and
    '' text both give ''; words are counted as split(trim(line), _WS_RE),
    so trim strips only spaces and a leading tab adds an empty first
    word (a 4-word line behind a tab counts as 5). Every doc gets one
    row, and the corpus is spread over several tasks."""
    hot = "accept all cookies to continue browsing"
    four = ["  alpha beta gamma delta", "alpha\tbeta\tgamma\tdelta", "alpha beta gamma delta  "]
    five = ["\talpha beta gamma delta", "alpha beta\tgamma  delta epsilon"]
    rows = [(i, f"doc {i} opening words\n{hot}") for i in range(20, 540)]
    rows += [
        (7, f"{hot}\nintro line\n{hot}"),
        (3, None),
        (4, ""),
        (5, "\n".join(four + five)),
        (6, "\n".join(five + four)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(4)
    out = {r["doc_id"]: r["text"] for r in
           dedup.strip_duplicate_lines(df, min_words=5).collect()}
    assert len(out) == len(rows)
    assert out[7] == f"{hot}\nintro line"
    assert all(out[i] == f"doc {i} opening words" for i in range(20, 540))
    assert sum(t.count(hot) for t in out.values()) == 1
    assert out[3] == "" and out[4] == ""
    assert out[5] == "\n".join(four + five)
    assert out[6] == "\n".join(four)


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
