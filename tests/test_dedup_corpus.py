"""dedup_corpus: few Spark jobs, and the verdicts of its replay (its plan
shape is pinned in test_plan_quality.py).

The keep-list contract is perfbench.oracle.expected_dedup (a Spark-free
replay: exact groups keep the min doc_id, survivors pair through any
shared LSH bucket, estimate ≥ τ drops the larger id), checked with
perfbench.oracle.check_dedup; both are imported read-only.
"""

import os

import pytest
from conftest import DEFAULT_SF_DIR

from pdf_to_text_spark.kernels.textstats import minhash_signature
from pdf_to_text_spark.operators import dedup

# the smallest generated table set, beside the default one
SF = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001", "documents.parquet")


@pytest.fixture(scope="module")
def sf_docs(spark):
    return spark.read.parquet(SF).select("doc_id", "text")


def test_dedup_corpus_launches_few_jobs(spark, sf_docs, tmp_path):
    """One dedup_corpus write is ≤ 6 Spark jobs: the plan is lazy and has
    no persist, so only its own shuffle stages and the write run."""
    sc = spark.sparkContext

    def jobs(group):
        # the status store is fed asynchronously by the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    try:
        sc.setJobGroup("dedup_corpus", "one dedup_corpus write")
        out = dedup.dedup_corpus(sf_docs)
        assert jobs("dedup_corpus") == 0  # planning launches nothing
        out.write.parquet(str(tmp_path / "keep"))
        n = jobs("dedup_corpus")
        assert 1 <= n <= 6, n
        # positive control: an eager job in the same group is counted
        dedup.dedup_exact_groups(sf_docs).count()
        assert jobs("dedup_corpus") > n
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert spark.read.parquet(str(tmp_path / "keep")).count() == sf_docs.count()


def _with_injected_dups(rows):
    """rows: (doc_id, text) → oracle docs (doc_id, text, kind) plus
    re-cased exact dups and one-word-replaced near dups of the docs of
    ≥ 40 words, under new, larger doc_ids."""
    docs = [(d, t, "base") for d, t in rows]
    next_id = max(d for d, _ in rows) + 1
    for i, (d, t) in enumerate(sorted(rows)):
        words = (t or "").split()
        if i % 7 == 0 and words:
            docs.append((next_id, "  " + t.upper().replace(" ", " , ") + " !", "exact"))
            next_id += 1
        if i % 5 == 0 and len(words) >= 40:
            words[len(words) // 2] = f"zqx{next_id}"
            docs.append((next_id, " ".join(words), "near"))
            next_id += 1
    return docs


def test_dedup_corpus_verdicts_match_replay(spark):
    from perfbench import oracle

    base = [(r["doc_id"], r["text"]) for r in spark.read.parquet(SF).collect()]
    docs = _with_injected_dups(base)
    kinds = {k for _, _, k in docs}
    assert {"exact", "near"} <= kinds
    df = spark.createDataFrame([(d, t) for d, t, _ in docs], "doc_id long, text string")
    reason, counters = oracle.expected_dedup(docs, sig_of=minhash_signature)
    assert counters["verified_pairs"] > 0
    rows = [(r["doc_id"], r["keep"], r["reason"]) for r in dedup.dedup_corpus(df).collect()]
    assert oracle.check_dedup(rows, reason, docs) == 0
    got = {r[2] for r in rows}
    assert {"kept", "exact_dup", "near_dup"} <= got


def test_dedup_corpus_hot_bucket(spark):
    """~1,200 near-identical docs with distinct fingerprints fill every
    band's bucket past max_bucket=1000: the cap forms no pairs (as in
    minhash_dedup_pairs), so nothing reads near_dup. Under the default
    cap every doc but the smallest id does."""
    words = " ".join(f"word{i}" for i in range(60))
    df = spark.createDataFrame(
        [(i, f"{words} unique{i}") for i in range(1200)], "doc_id long, text string"
    )
    capped = {r["reason"] for r in dedup.dedup_corpus(df, max_bucket=1000).collect()}
    assert capped == {"kept"}
    assert dedup.minhash_dedup_pairs(df, max_bucket=1000).count() == 0
    out = {r["doc_id"]: r["reason"] for r in dedup.dedup_corpus(df).collect()}
    assert len(out) == 1200 and out.pop(0) == "kept"
    assert set(out.values()) == {"near_dup"}
