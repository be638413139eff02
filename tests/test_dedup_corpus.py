"""dedup_corpus: few Spark jobs, arguments checked before any plan, the
verdicts of its replay, and row-for-row the verdicts of the Column-API
plan it replaced (its plan shape is pinned in test_plan_quality.py).

The keep-list contract is perfbench.oracle.expected_dedup (a Spark-free
replay: exact groups keep the min doc_id, survivors pair through any
shared LSH bucket, estimate ≥ τ drops the larger id), checked with
perfbench.oracle.check_dedup; both are imported read-only.
"""

import os

import pytest
from conftest import DEFAULT_SF_DIR, gateway_calls
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pdf_to_text_spark.kernels.textstats import minhash_signature
from pdf_to_text_spark.operators import dedup

# the smallest generated table set, beside the default one
SF = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001", "documents.parquet")


@pytest.fixture(scope="module")
def sf_docs(spark):
    return spark.read.parquet(SF).select("doc_id", "text")


def _group_jobs(sc, group):
    # the status store is fed asynchronously by the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_dedup_corpus_launches_few_jobs(spark, sf_docs, tmp_path):
    """One dedup_corpus write is ≤ 6 Spark jobs: the plan is lazy and has
    no persist, so only its own shuffle stages and the write run."""
    sc = spark.sparkContext

    def jobs(group):
        return _group_jobs(sc, group)

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


def _hot_bucket(spark):
    words = " ".join(f"word{i}" for i in range(60))
    return spark.createDataFrame(
        [(i, f"{words} unique{i}") for i in range(1200)], "doc_id long, text string"
    )


def test_dedup_corpus_hot_bucket(spark):
    """~1,200 near-identical docs with distinct fingerprints fill every
    band's bucket past max_bucket=1000: the cap forms no pairs (as in
    minhash_dedup_pairs), so nothing reads near_dup. Under the default
    cap every doc but the smallest id does."""
    df = _hot_bucket(spark)
    capped = {r["reason"] for r in dedup.dedup_corpus(df, max_bucket=1000).collect()}
    assert capped == {"kept"}
    assert dedup.minhash_dedup_pairs(df, max_bucket=1000).count() == 0
    out = {r["doc_id"]: r["reason"] for r in dedup.dedup_corpus(df).collect()}
    assert len(out) == 1200 and out.pop(0) == "kept"
    assert set(out.values()) == {"near_dup"}


BAD_ARGUMENTS = [
    ({"n_perm": 60, "n_bands": 16}, "not a multiple"),
    ({"near_threshold": -0.1}, "near_threshold"),
    ({"near_threshold": 1.5}, "near_threshold"),
    ({"near_threshold": float("nan")}, "near_threshold"),
    ({"near_threshold": float("inf")}, "near_threshold"),
    ({"near_threshold": "0.5"}, "near_threshold"),
    ({"near_threshold": True}, "near_threshold"),
    ({"max_bucket": 0}, "max_bucket"),
    ({"max_bucket": 100.0}, "max_bucket"),
    ({"max_bucket": "100"}, "max_bucket"),
    ({"max_bucket": True}, "max_bucket"),
]


@pytest.mark.parametrize("kwargs, match", BAD_ARGUMENTS, ids=[str(k) for k, _ in BAD_ARGUMENTS])
def test_dedup_corpus_rejects_bad_arguments(spark, sf_docs, kwargs, match):
    """A bad argument raises ValueError when dedup_corpus is called, before
    it sends the JVM anything or runs a job (n_perm % n_bands used to
    raise only inside a Python worker, at write time)."""
    sc = spark.sparkContext
    try:
        sc.setJobGroup("dedup_bad_args", "dedup_corpus with a bad argument")
        with gateway_calls(spark) as calls, pytest.raises(ValueError, match=match):
            dedup.dedup_corpus(sf_docs, **kwargs)
        assert calls[0] == 0
        assert _group_jobs(sc, "dedup_bad_args") == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


# ── frozen reference: dedup_corpus as a Column-API plan ─────────────────────
# The plan before its fold became SQL text and before the exact-dup key
# came from the kernel pass: fingerprint_col in the JVM, Python-lambda
# higher-order functions for the fold. Kept verbatim, but for the kernel's
# third output (the fingerprint), which it drops.


def _ref_sig_estimate(sig_a, sig_b):
    est = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.size(sig_a)
    return F.round(est, 4)


def _ref_minhash_batches(n_perm, n_bands, extra=()):
    keep = ("doc_id", *extra)

    def gen(batches):
        import numpy as np
        import pyarrow as pa

        from pdf_to_text_spark.kernels.textstats import minhash_batch

        def list_arr(mat):
            n, width = mat.shape
            offs = pa.array(np.arange(0, (n + 1) * width, width, dtype=np.int32))
            return pa.ListArray.from_arrays(offs, pa.array(mat.reshape(-1), type=pa.int64()))

        for rb in batches:
            if rb.num_rows == 0:
                continue
            sigs, bands, _ = minhash_batch(
                rb.column(rb.schema.get_field_index("text")).to_pylist(), n_perm, n_bands
            )
            cols = [rb.column(rb.schema.get_field_index(c)) for c in keep]
            cols[0] = cols[0].cast(pa.int64())
            yield pa.RecordBatch.from_arrays(
                [*cols, list_arr((sigs ^ np.uint64(1 << 63)).view(np.int64)), list_arr(bands)],
                [*keep, "sig", "bands"],
            )

    return gen


def _ref_dedup_corpus(
    documents: DataFrame,
    near_threshold: float = 0.5,
    n_perm: int = 64,
    n_bands: int = 16,
    max_bucket: int = dedup.DEFAULT_MAX_BUCKET,
) -> DataFrame:
    sigs = documents.select(
        "doc_id", dedup.fingerprint_col().alias("fingerprint"), "text"
    ).mapInArrow(
        _ref_minhash_batches(n_perm, n_bands, extra=("fingerprint",)),
        schema="doc_id long, fingerprint string, sig array<long>, bands array<long>",
    )
    tagged = sigs.withColumn(
        "rep_doc_id", F.min("doc_id").over(Window.partitionBy("fingerprint"))
    )
    keys = F.when(
        F.col("doc_id") == F.col("rep_doc_id"),
        F.transform("bands", lambda h, i: F.struct(i.alias("band_idx"), h.alias("band_hash"))),
    ).otherwise(
        F.array(F.struct(F.lit(-1).alias("band_idx"), F.col("doc_id").alias("band_hash")))
    )
    buckets = (
        tagged.select(F.explode(keys).alias("key"), F.struct("doc_id", "rep_doc_id", "sig").alias("m"))
        .groupBy("key")
        .agg(F.collect_list("m").alias("members"))
    )

    def near(m):
        return F.when(F.size("members") > max_bucket, F.lit(False)).otherwise(
            F.exists(
                "members",
                lambda o: (o["doc_id"] < m["doc_id"])
                & (_ref_sig_estimate(o["sig"], m["sig"]) >= near_threshold),
            )
        )

    flags = buckets.select(
        F.inline(
            F.transform(
                "members",
                lambda m: F.struct(
                    m["doc_id"].alias("doc_id"),
                    m["rep_doc_id"].alias("rep_doc_id"),
                    near(m).alias("near"),
                ),
            )
        )
    )
    verdict = flags.groupBy("doc_id").agg(
        F.min("rep_doc_id").alias("rep_doc_id"), F.max("near").alias("near")
    )
    exact = F.col("doc_id") != F.col("rep_doc_id")
    return verdict.select(
        "doc_id",
        F.when(exact | F.col("near"), F.lit(0)).otherwise(F.lit(1)).alias("keep"),
        F.when(exact, F.lit("exact_dup"))
        .when(F.col("near"), F.lit("near_dup"))
        .otherwise(F.lit("kept"))
        .alias("reason"),
    )


def _sf(spark, sf_dir=os.path.dirname(SF)):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select("doc_id", "text")


def _null_and_empty(spark):
    rows = [(0, None), (1, ""), (2, "real content words here"), (3, None),
            (4, "!!! ... ???"), (5, "Real content, words HERE."), (6, "   ")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _one_exact_group(spark):
    # every doc is the same text after normalization (case, punctuation,
    # whitespace); the min doc_id is not the first row
    base = "The quick brown fox jumps over the lazy dog near the river bank"
    variants = [base, base.upper(), base.lower() + " !", "  " + base.replace(" ", " , "),
                base.title(), base.replace(" ", "\t")]
    rows = [(10 - i, t) for i, t in enumerate(variants)]
    return spark.createDataFrame(rows, "doc_id long, text string")


DIFFERENTIAL = {
    "sf0.001": (_sf, {}),
    "sf-default": (lambda spark: _sf(spark, DEFAULT_SF_DIR), {}),
    # one sf0.001 doc's best smaller partner estimates 54/64 = 0.84375,
    # which rounds HALF_UP to this threshold: the fold's >= and its
    # rounding both decide that doc's verdict
    "sf0.001-threshold-edge": (_sf, {"near_threshold": 0.8438}),
    "hot-bucket": (_hot_bucket, {}),
    "hot-bucket-capped": (_hot_bucket, {"max_bucket": 1000}),
    "null-and-empty": (_null_and_empty, {}),
    "one-exact-group": (_one_exact_group, {}),
    "max-bucket-1": (_sf, {"max_bucket": 1}),
}


@pytest.mark.parametrize("case", sorted(DIFFERENTIAL))
def test_dedup_corpus_equals_column_api_reference(spark, case):
    """The SQL-text fold with the kernel's fingerprint gives row for row
    the (doc_id, keep, reason) of the frozen Column-API plan."""
    corpus, kwargs = DIFFERENTIAL[case]
    docs = corpus(spark)
    got = sorted(tuple(r) for r in dedup.dedup_corpus(docs, **kwargs).collect())
    want = sorted(tuple(r) for r in _ref_dedup_corpus(docs, **kwargs).collect())
    assert len(got) == docs.count()
    assert got == want
