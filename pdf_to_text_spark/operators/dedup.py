"""Deduplication operators for a web-scale corpus.

Six dedup families, each with the scale-path layout a 100 TB run needs:

  * exact            — md5(normalized text) groupBy; one shuffle keyed by
                       fingerprint, map-side partial agg
  * minhash_lsh      — signature (kernels.textstats.minhash_batch, one call
                       per Arrow batch) → explode LSH bands → bucket-join
                       candidates → signature-estimate verify; pair space
                       is per-bucket, never global
  * simhash          — 64-bit simhash, hamming≤k via the 4-band exact-match
                       pigeonhole trick (any pair at distance ≤3 shares at
                       least one of 4 16-bit bands verbatim)
  * ngram_jaccard    — exact n-gram Jaccard via shingle explode +
                       self-join (SQL-expressible; the verify step for the
                       probabilistic families, and an oracle-checkable
                       operator in its own right)
  * embedding cosine — near-dup via cosine ≥ τ over an embedding column;
                       JVM-side dot products (F.aggregate/zip_with)
  * exact substrings — ExactSubstr-style duplicate-span removal
                       (strip_duplicate_substrings; plus the line-granular
                       strip_duplicate_lines)

dedup_corpus, the keep-list the curation stage runs, composes exact and
minhash_lsh as one lazy linear plan: one read of the text, one kernel
pass, three keyed shuffles, no persist and no join. It folds each LSH
bucket in place instead of forming the bucket self-join's pairs; the
pairs operators (minhash_dedup_pairs and friends) keep the join form for
callers that want the pairs themselves. Both verify with the one
signature estimate, _sig_estimate.

At bench scale (sf0.1: 5k docs) all run comfortably; at 100 TB exact and
minhash_lsh are the production paths (linear shuffles), ngram_jaccard is
the sampled audit, embedding-cosine runs behind the LSH bucketing in
similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


# ── exact dedup ──────────────────────────────────────────────────────────────


def fingerprint_col(text_col: str = "text"):
    """md5(normalized text) — THE exact-dedup key. One definition shared
    by every operator (and mirrored by kernels/textstats.normalize_text
    + the SQL oracles), so the normalization can never drift between
    copies. NULL text normalizes like '' (a doc must never silently
    vanish from a keep-list because extraction failed)."""
    norm = F.trim(
        F.regexp_replace(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"[^0-9a-z]+", " ")
    )
    return F.md5(norm.cast("binary"))


def dedup_exact_groups(documents: DataFrame) -> DataFrame:
    """Fingerprint → group size + representative (min doc_id).

    Deliberately NOT spread_small_scan'd (r7): the md5+normalize map
    side is too cheap for the extra exchange to pay for itself
    (measured 0.18 s → 0.28 s at 5k docs, flat at 50k — the groupBy's
    own shuffle already parallelizes everything downstream)."""
    return (
        documents.select("doc_id", fingerprint_col().alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )


def dedup_exact(documents: DataFrame) -> DataFrame:
    """Keep one row per distinct normalized text (the representative)."""
    with_fp = documents.withColumn("fingerprint", fingerprint_col())
    reps = with_fp.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    return with_fp.join(reps, ["fingerprint", "doc_id"]).drop("fingerprint")


# ── MinHash + LSH ────────────────────────────────────────────────────────────

def _minhash_batches(n_perm: int, n_bands: int, extra: tuple[str, ...] = ()):
    """The one mapInArrow body for MinHash: (doc_id, *extra, text)
    batches → (doc_id, *extra, sig, bands), one textstats.minhash_batch
    call per Arrow batch. doc_id is widened to long (as the old pandas
    path silently did), `extra` columns pass through as they are. Both
    matrices become Arrow ListArrays via offsets over their flat buffer —
    no per-row Python lists. sig is stored signed: x − 2^63 == the top
    bit flipped, reinterpreted, so the bits are the kernel's."""
    keep = ("doc_id", *extra)

    def gen(batches):
        import numpy as np
        import pyarrow as pa

        from ..kernels.textstats import minhash_batch

        def list_arr(mat):
            n, width = mat.shape
            offs = pa.array(np.arange(0, (n + 1) * width, width, dtype=np.int32))
            return pa.ListArray.from_arrays(offs, pa.array(mat.reshape(-1), type=pa.int64()))

        for rb in batches:
            if rb.num_rows == 0:
                continue
            sigs, bands = minhash_batch(
                rb.column(rb.schema.get_field_index("text")).to_pylist(), n_perm, n_bands
            )
            cols = [rb.column(rb.schema.get_field_index(c)) for c in keep]
            cols[0] = cols[0].cast(pa.int64())
            yield pa.RecordBatch.from_arrays(
                [*cols, list_arr((sigs ^ np.uint64(1 << 63)).view(np.int64)), list_arr(bands)],
                [*keep, "sig", "bands"],
            )

    return gen


def minhash_signatures(documents: DataFrame, n_perm: int = 64, n_bands: int = 16) -> DataFrame:
    """doc_id → minhash signature + LSH band keys: one batched kernel
    call per Arrow batch (_minhash_batches, shared with dedup_corpus), the
    signatures bit-identical to kernels.textstats.minhash_signature."""
    from ..plans.layout import spread_small_scan

    base = spread_small_scan(documents.select("doc_id", "text"))
    return base.mapInArrow(
        _minhash_batches(n_perm, n_bands),
        schema="doc_id long, sig array<long>, bands array<long>",
    )


def _sig_estimate(sig_a, sig_b):
    """round(fraction of equal signature positions, 4): THE signature
    Jaccard estimate, shared by the LSH pair verify and dedup_corpus's
    bucket fold so the two paths cannot drift."""
    est = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.size(sig_a)
    return F.round(est, 4)


# Hot-bucket guard for every LSH band self-join (VERDICT r2 "what's
# wrong" #2): on template-heavy web corpora a single band bucket can hold
# 10⁵+ near-identical docs even after exact dedup (boilerplate with
# rotating timestamps), and a 100k-doc bucket is 5·10⁹ pairs inside one
# task — the classic LSH skew failure at 100 TB. Buckets larger than the
# cap are DROPPED from the candidate join (documented recall trade, the
# RefinedWeb/Gopher production choice: a bucket that hot is boilerplate
# the exact-dup stage should have caught, and its members still pair
# through their other n_bands-1 buckets). NEVER silent: callers can read
# the dropped buckets via *_bucket_stats on the same signatures.
DEFAULT_MAX_BUCKET = 4096


def _persist_if_large(df: DataFrame) -> DataFrame:
    """Persist a plan-fan-out relation ONLY when the optimizer estimates
    it big enough that recomputing both fan-out branches costs more than
    the cache materialization barrier (r7; measured on the capped band
    relation: persist saved ~1.5 s at the 50k-doc scale where both
    self-join sides re-ran the explode + window cap, but COST ~0.25 s at
    5k docs where the relation is trivial). Unknown stats (LogicalRDD)
    persist — the conservative choice for opaque sources. Threshold via
    config.BAND_PERSIST_MIN_BYTES (est. bytes, mapInPandas plans inherit
    their scan's estimate)."""
    from ..config import BAND_PERSIST_MIN_BYTES
    from ..plans.layout import estimated_size_bytes

    size = estimated_size_bytes(df)
    if size is not None and size < BAND_PERSIST_MIN_BYTES:
        return df
    return df.persist()


def _cap_buckets(bands: DataFrame, keys: list[str], max_bucket: int) -> DataFrame:
    """Filter band-exploded rows to buckets with ≤ max_bucket members.

    ONE window count partitioned EXACTLY like the candidate join (vs an
    agg + re-join, which would shuffle the band relation twice), so at
    scale the cap costs a single keyed pass — against the unbounded
    quadratic blow-up inside one task without it. A hot bucket's rows
    land in one window partition, but they are (id, hash) pairs — tiny —
    and counting them is linear; forming their n²/2 pairs is not.

    Measured (r7, 50k docs): the groupBy-count + anti-join-the-hot-set
    variant ("aggregate then broadcast the tiny hot list") is SLOWER on
    every inheriting query — minhash 1.9 → 3.4 s, simhash 1.6 → 2.6 s,
    embedding pairs 5.0 → 6.3 s, digests identical — because band
    hashes are mostly unique (no partial-agg reduction) and the extra
    aggregation exchange costs more than the one window pass."""
    w = Window.partitionBy(*keys)
    return (
        bands.withColumn("_bucket_n", F.count(F.lit(1)).over(w))
        .where(F.col("_bucket_n") <= max_bucket)
        .drop("_bucket_n")
    )


def _bucket_stats(bands: DataFrame, keys: list[str], max_bucket: int) -> DataFrame:
    """One-row audit relation: (n_buckets, oversized_buckets,
    max_bucket_size, dropped_rows) — the no-silent-caps companion of
    _cap_buckets; log or assert on it wherever a cap is in force."""
    sizes = bands.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    over = F.col("n") > max_bucket
    # coalesce: an empty corpus must report zeros, not NULLs — callers
    # assert on these columns
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.coalesce(F.sum(over.cast("long")), F.lit(0)).alias("oversized_buckets"),
        F.coalesce(F.max("n"), F.lit(0)).alias("max_bucket_size"),
        F.coalesce(
            F.sum(F.when(over, F.col("n")).otherwise(F.lit(0))), F.lit(0)
        ).alias("dropped_rows"),
    )


def minhash_band_bucket_stats(
    signatures: DataFrame, max_bucket: int = DEFAULT_MAX_BUCKET
) -> DataFrame:
    bands = signatures.select(
        "doc_id", F.posexplode("bands").alias("band_idx", "band_hash")
    )
    return _bucket_stats(bands, ["band_idx", "band_hash"], max_bucket)


def minhash_candidate_pairs(
    signatures: DataFrame, max_bucket: int = DEFAULT_MAX_BUCKET
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs.

    The self-join is keyed on (band_index, band_hash) — the pair
    blow-up is per-bucket, never corpus² — and buckets larger than
    `max_bucket` are dropped (see DEFAULT_MAX_BUCKET; audit with
    minhash_band_bucket_stats)."""
    bands = signatures.select(
        "doc_id", F.posexplode("bands").alias("band_idx", "band_hash")
    )
    # persist the capped band relation when large: it is a plan fan-out
    # point (both self-join sides), and without the cache each side
    # re-runs the explode + window-count cap — the broadcast side cannot
    # reuse the probe side's exchange (r7; same persist-at-fan-out rule
    # as the signature/shingle relations, but stats-gated because the
    # materialization barrier costs more than the recompute on tiny
    # corpora — _persist_if_large). Rows are (id, idx, hash) — tiny.
    bands = _persist_if_large(
        _cap_buckets(bands, ["band_idx", "band_hash"], max_bucket)
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _verify_candidate_pairs(sigs: DataFrame, threshold: float,
                            max_bucket: int) -> DataFrame:
    """LSH band-join candidates + signature-Jaccard-estimate verify."""
    pairs = minhash_candidate_pairs(sigs, max_bucket)
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("est_jaccard", _sig_estimate(F.col("sig_a"), F.col("sig_b")))
        .where(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


def minhash_dedup_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
    n_perm: int = 64,
    n_bands: int = 16,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Candidate pairs verified by the signature Jaccard estimate
    (fraction of equal minhash positions) ≥ threshold.

    The signature relation is the plan's fan-out point (band explode +
    both verify sides): persist it so the Arrow kernel runs ONCE per
    doc, not three times. At 100 TB the same move is writing the
    signature table once and joining against it — signatures are
    ~0.5 KB/doc, tiny next to the text they index.

    Persisted relations here (and in the simhash/ngram/embedding
    operators) are NOT unpersisted — the returned DataFrame is lazy, so
    the cache must outlive this call. MEMORY_AND_DISK blocks are evicted
    LRU by Spark under pressure; long sessions chaining many dedup calls
    trade a bounded block-manager footprint for the 2-3× recompute. Call
    spark.catalog.clearCache() between unrelated jobs if that footprint
    matters."""
    sigs = minhash_signatures(documents, n_perm, n_bands).persist()
    return _verify_candidate_pairs(sigs, threshold, max_bucket)


# ── corpus-level dedup keep-list (the user-facing composition) ──────────────


def dedup_corpus(
    documents: DataFrame,
    near_threshold: float = 0.5,
    n_perm: int = 64,
    n_bands: int = 16,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Full corpus dedup pass → (doc_id, keep, reason), one row per doc.

    Verdicts: exact dups (same normalized-text fingerprint) keep the
    minimum doc_id per group (reason 'exact_dup' for the rest). Among
    the survivors, a doc is 'near_dup' when it shares an LSH band bucket
    of ≤ max_bucket members with a smaller doc_id whose signature
    estimate reaches near_threshold — the pair-drop policy of
    minhash_dedup_pairs (cf. C4/RefinedWeb dedup): not transitively
    closed, but one bucket-local pass instead of a connected-components
    iteration. Everything else is 'kept'.

    One lazy, linear plan: no persist, no join, and `text` is read once.
      1. scan → (doc_id, fingerprint_col(), text) → one mapInArrow
         (_minhash_batches) → (doc_id, fingerprint, sig, bands). Every
         doc is hashed, exact dups included (they are few; hashing them
         saves a second read of the text).
      2. rep_doc_id = min(doc_id) over (partition by fingerprint):
         shuffle 1, keyed by fingerprint, ~1 KB rows (sig + bands).
      3. Each survivor explodes its n_bands (band_idx, band_hash) keys,
         each row carrying (doc_id, rep_doc_id, sig); each exact dup
         carries one private key (-1, doc_id), so it reaches the fold
         alone. Shuffle 2, keyed by bucket: the signature rides all
         n_bands rows of a survivor (~8 KB of shuffle per doc at 64/16,
         the price of not joining the signatures back).
      4. collect_list per bucket; a member is near when some member with
         a smaller doc_id reaches _sig_estimate ≥ near_threshold.
      5. Shuffle 3, keyed by doc_id, tiny rows: fold each doc's flags
         into keep/reason.

    Skew. A hot bucket (more than max_bucket members, boilerplate the
    exact stage missed) forms no pairs, the cap of
    minhash_candidate_pairs, but its members are still collected into
    one row in one task: memory linear in its size (~0.5 KB each), no
    quadratic work. Under the cap the fold is up to members² estimates
    in that task, as the band self-join was. A hot fingerprint (many
    exact copies of one text) puts all its rows into one window
    partition of shuffle 1, which Spark buffers and spills past
    spark.sql.windowExec.buffer.spill.threshold; each copy then leaves
    with one private key, so nothing downstream is hot."""
    sigs = documents.select(
        "doc_id", fingerprint_col().alias("fingerprint"), "text"
    ).mapInArrow(
        _minhash_batches(n_perm, n_bands, extra=("fingerprint",)),
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
                & (_sig_estimate(o["sig"], m["sig"]) >= near_threshold),
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


def strip_duplicate_lines(documents: DataFrame, min_words: int = 5) -> DataFrame:
    """C4-style corpus-global line dedup (Raffel et al. '20 §2.2 kept one
    occurrence of every three-sentence span; the line-granular form):
    lines with ≥ min_words words keep only their FIRST corpus occurrence
    (ordered by doc_id, then line position); shorter lines always stay
    (headers/bullets legitimately repeat). Returns (doc_id, text)
    reassembled; a doc whose every line was dropped yields ''.

    One shuffle keyed on the line text (the dedup window) + one on
    doc_id (reassembly) — both carry line-sized rows, never documents²."""
    from ..plans.layout import spread_small_scan

    lines = spread_small_scan(documents.select("doc_id", "text")).select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("pos", "line")
    )
    from .text_analysis import _WS_RE  # pinned [ \t\n\f\r]+ — engines
    # disagree on \s (vertical tab), see text_analysis.py (r5 review)

    n_words = F.size(F.split(F.trim(F.col("line")), _WS_RE))
    # No hot keys on EITHER class of line (r5 review — the r2 fix salted
    # only short lines, leaving a corpus-hot LONG line, e.g. a repeated
    # cookie-banner sentence, as one unsalted window partition): every
    # occurrence is salted 64 ways; short lines are kept regardless of
    # rank, and long lines resolve exact global-first-occurrence
    # semantics in two stages — first-within-salt (the wide, salted
    # window), then first-among-the-≤64-salt-winners (a window whose
    # per-key input is capped at 64 rows, skew-proof by construction).
    salted = _persist_if_large(  # both branches below read it: one
        # scan+explode, not two — stats-gated like the band relations
        # (r7: the barrier is ~the recompute at gate scale; at real
        # scale the recompute is a full second text scan)
        lines.withColumn("_salt", F.pmod(F.xxhash64("doc_id", "pos"), F.lit(64)))
    )
    short = salted.where(n_words < min_words).select("doc_id", "pos", "line")
    w1 = Window.partitionBy("line", "_salt").orderBy("doc_id", "pos")
    w2 = Window.partitionBy("line").orderBy("doc_id", "pos")
    long_first = (
        salted.where(n_words >= min_words)
        .withColumn("_rn", F.row_number().over(w1))
        .where(F.col("_rn") == 1)
        .withColumn("_rn2", F.row_number().over(w2))
        .where(F.col("_rn2") == 1)
        .select("doc_id", "pos", "line")
    )
    kept = short.unionByName(long_first)
    reassembled = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text")
    )
    return (
        documents.select("doc_id")
        .join(reassembled, "doc_id", "left")
        .select("doc_id", F.coalesce("text", F.lit("")).alias("text"))
    )


def near_dup_clusters(
    documents: DataFrame,
    threshold: float = 0.5,
    n_perm: int = 64,
    n_bands: int = 16,
    max_iter: int = 20,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Connected components of the minhash near-dup graph →
    (doc_id, cluster_rep) with cluster_rep = min doc_id in the component
    (isolated docs are their own rep).

    Iterative min-label propagation over the symmetric edge relation —
    the DataFrame form of large/small-star CC: each round every node
    takes min(own label, neighbors' labels); rounds needed = component
    diameter (near-dup clusters are shallow), capped by `max_iter`.
    localCheckpoint per round truncates the lineage so the plan does not
    grow with iterations; convergence is detected with a LIMIT-1 anti
    check (one tiny job per round, no full count)."""
    pairs = minhash_dedup_pairs(
        documents, threshold, n_perm, n_bands, max_bucket
    ).select("doc_a", "doc_b")
    edges = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).localCheckpoint()
    labels = documents.select("doc_id", F.col("doc_id").alias("rep")).localCheckpoint()
    for _ in range(max_iter):
        nbr = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("doc_b"), F.col("rep").alias("nrep")
                ),
                "doc_b",
            )
            .groupBy("doc_a")
            .agg(F.min("nrep").alias("nbr_rep"))
        )
        new_labels = (
            labels.join(nbr.withColumnRenamed("doc_a", "doc_id"), "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("rep"), F.coalesce(F.col("nbr_rep"), F.col("rep"))
                ).alias("rep"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.rep") != F.col("o.rep"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # silent partial propagation would mislabel components — fail loud
        raise RuntimeError(
            f"near_dup_clusters: not converged after {max_iter} iterations "
            "(component diameter exceeds max_iter — raise it)"
        )
    return labels.select("doc_id", F.col("rep").alias("cluster_rep"))


# ── SimHash ──────────────────────────────────────────────────────────────────


def simhash_signatures(documents: DataFrame) -> DataFrame:
    # mapInArrow like minhash_signatures (r7): the scalar signature
    # column is built as one int64 numpy array per batch — no pandas
    # round-trip. Same signed store (x - 2^63), bit-identical.
    def gen(batches):
        import numpy as np
        import pyarrow as pa

        from ..kernels.textstats import simhash64

        for rb in batches:
            if rb.num_rows == 0:
                continue
            texts = rb.column(rb.schema.get_field_index("text")).to_pylist()
            ids = rb.column(rb.schema.get_field_index("doc_id"))
            if ids.type != pa.int64():  # widen like the old pandas path
                ids = ids.cast(pa.int64())
            sh = np.fromiter(
                (simhash64(t or "") - (1 << 63) for t in texts),
                dtype=np.int64,
                count=len(texts),
            )
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(sh, type=pa.int64())], ["doc_id", "simhash"]
            )

    from ..plans.layout import spread_small_scan

    base = spread_small_scan(documents.select("doc_id", "text"))
    return base.mapInArrow(gen, schema="doc_id long, simhash long")


def simhash_band_bucket_stats(
    documents: DataFrame, max_bucket: int = DEFAULT_MAX_BUCKET
) -> DataFrame:
    """Audit relation for simhash_near_pairs' hot-bucket cap."""
    banded = _simhash_banded(simhash_signatures(documents))
    return _bucket_stats(banded, ["band_idx", "band_val"], max_bucket)


def _simhash_banded(sigs: DataFrame) -> DataFrame:
    return sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftrightunsigned(F.col("simhash"), 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("band_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_idx", "band.band_val")


def simhash_near_pairs(
    documents: DataFrame,
    max_hamming: int = 3,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Hamming-≤k pairs via the pigeonhole band join (Manku et al., WWW'07):
    split 64 bits into 4 bands of 16; distance ≤3 ⇒ ≥1 band equal, so
    candidate recall is COMPLETE only for max_hamming ≤ 3 (Manku's
    near-dup operating point). k > 3 is a loud error — a distance-4 pair
    can differ in every band and silently vanish (r3 review caught the
    old default-8 callers relying on exactly that). Buckets larger than
    `max_bucket` are dropped (DEFAULT_MAX_BUCKET; audit with
    simhash_band_bucket_stats)."""
    if max_hamming > 3:
        raise ValueError(
            f"simhash_near_pairs: max_hamming={max_hamming} exceeds the "
            "4x16-bit pigeonhole guarantee (complete only for <= 3) — "
            "results would silently miss pairs; use more/narrower bands "
            "or exact ngram_jaccard_pairs for looser thresholds"
        )
    # the band self-join references the signature subtree twice (a/b
    # aliases): persist so the text scan + kernel run once per doc
    sigs = simhash_signatures(documents).persist()
    # persisted (stats-gated) for the same both-join-sides fan-out
    # reason as the minhash band relation (minhash_candidate_pairs, r7)
    banded = _persist_if_large(
        _cap_buckets(_simhash_banded(sigs), ["band_idx", "band_val"], max_bucket)
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_val") == F.col("b.band_val"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.simhash").alias("sh_a"),
        F.col("b.simhash").alias("sh_b"),
    )
    # hamming filter BEFORE the distinct (r7, guide §2.3 "shuffle fewer
    # bytes"): on a near-dup-heavy corpus identical simhashes co-bucket
    # in all 4 bands, so the band join emits ~16M candidate rows at the
    # 50k-doc bench scale while <0.1% survive hamming ≤ 3 — filtering is
    # a map-side XOR+popcount in the join stage, and the dedup exchange
    # then carries only survivors. Identical results: hamming is a
    # function of the pair (one signature per doc), so filter and
    # distinct commute.
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


# ── exact n-gram Jaccard (SQL-expressible; also the verify oracle) ──────────


def ngram_shingles(documents: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc, built from built-ins only:
    split → sliding transform → distinct explode."""
    words = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"[^0-9a-z]+", " ")), " "
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(words, i + 1, n), " "),
    )
    from ..plans.layout import spread_small_scan

    base = spread_small_scan(documents.select("doc_id", "text"))
    return base.select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("shingle")
    ).where(F.length("shingle") > 0)


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over word n-grams: |A∩B| / (|A|+|B|−|A∩B|).

    shingle self-join → per-pair common count → join per-doc totals.

    `candidates` (doc_a, doc_b) restricts the pair space: at 100 TB you
    pass minhash_candidate_pairs(...) here so the shingle join is keyed on
    an O(candidates) relation instead of all shingle-sharing pairs —
    the documented LSH-then-exact-verify composition. Standalone
    (candidates=None) it is the audit/oracle path."""
    # the shingle relation fans out three ways (both join sides + the
    # per-doc totals): persist so the split/transform/explode runs once
    sh = ngram_shingles(documents, n).persist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    if candidates is not None:
        cand = candidates.select("doc_a", "doc_b")
        common = (
            cand.join(a, F.col("doc_a") == F.col("a.doc_id"))
            .join(
                b,
                (F.col("doc_b") == F.col("b.doc_id"))
                & (F.col("a.shingle") == F.col("b.shingle")),
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("common"))
        )
    else:
        common = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .agg(F.count(F.lit(1)).alias("common"))
        )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    jac = F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.round(jac, 4))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ── embedding-cosine near-dup ────────────────────────────────────────────────


def cosine_sim_col(a: str, b: str):
    """cosine(a, b) with JVM higher-order functions — no Python.

    A zero-norm vector is defined to have cosine 0 to EVERYTHING: the
    naive 0.0/0.0 is NaN, and Spark orders NaN above every real double,
    so one all-zero corpus vector would otherwise rank #1 for every
    query in all top-k paths (r3 review). The same NaN-sorts-highest
    trap applies to NaN/±Inf embedding COMPONENTS (r5 review): they
    propagate to a NaN estimate, which Spark's `>= threshold` treats as
    true, so one corrupt vector would otherwise emit a bogus pair for
    everything it is compared against — any non-finite result is
    pinned to 0.0 alongside the zero-norm case."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(
        F.aggregate(F.col(a), F.lit(0.0), lambda acc, v: acc + v * v)
    )
    nb = F.sqrt(
        F.aggregate(F.col(b), F.lit(0.0), lambda acc, v: acc + v * v)
    )
    denom = na * nb
    # try_divide, not '/': the guard expression evaluates est in the
    # when-CONDITION too, and ANSI mode turns the zero-denominator case
    # into a job-killing ArithmeticException before the guard can fire
    est = F.try_divide(dot, denom)
    return F.when(
        est.isNull() | F.isnan(est) | (F.abs(est) == float("inf")), F.lit(0.0)
    ).otherwise(est)


def embedding_near_pairs_exact(
    embeddings: DataFrame, threshold: float = 0.95
) -> DataFrame:
    """Near-duplicate vector pairs: cosine ≥ τ, exhaustive.

    Brute-force O(n²) pair space — the correctness baseline / audit path
    at test scale. Float32 inputs are cast to double BEFORE the dot
    product so both engines accumulate in f64."""
    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    pairs = a.join(b, F.col("vec_a") < F.col("vec_b"))
    sim = cosine_sim_col("va", "vb")
    return (
        pairs.withColumn("cosine", F.round(sim, 4))
        .where(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def embedding_near_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int | None = None,
    n_tables: int | None = None,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-duplicate vector pairs: cosine ≥ τ via LSH bucketing — the
    100 TB path (VERDICT r1 #3: the exposed entry must not cross-join).

    Candidates = vectors co-bucketed in ≥1 hyperplane table (join keyed on
    (table, bucket), so the pair space is bucket-local, never corpus²),
    then exact cosine rerank ≥ τ. Recall is the standard multi-table LSH
    1-(1-p^r)^T; the exhaustive baseline is embedding_near_pairs_exact."""
    from .similarity import N_PLANES, N_TABLES, lsh_signatures

    n_planes = n_planes or N_PLANES
    n_tables = n_tables or N_TABLES
    sig = lsh_signatures(embeddings, dim, n_planes, n_tables).persist()
    # same hot-bucket guard as the text-LSH paths: a degenerate bucket
    # (e.g. a zero-vector cluster) must not form n² pairs in one task
    sig = _cap_buckets(sig, ["table", "bucket"], max_bucket)
    a, b = sig.alias("a"), sig.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    va = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    vb = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    sim = cosine_sim_col("va", "vb")
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn("cosine", F.round(sim, 4))
        .where(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


# ── duplicate-substring removal (ExactSubstr-style, Lee et al. ACL'22) ──────


def strip_duplicate_substrings(documents: DataFrame, k: int = 20) -> DataFrame:
    """Corpus-global duplicate-SPAN removal at token granularity — the
    DataFrame form of ExactSubstr dedup ("Deduplicating Training Data
    Makes Language Models Better", Lee et al. '22; suffix arrays there,
    k-token rolling shingles here): any k-token window whose exact text
    occurs elsewhere in the corpus keeps only its FIRST occurrence
    (ordered by doc_id, then position); every other occurrence's k
    tokens are removed, and each doc is reassembled from its surviving
    tokens. Complements strip_duplicate_lines (line granularity) for
    boilerplate that ignores line breaks.

    Scale shape — every stage is a keyed shuffle, nothing quadratic:
      1. tokenize + posexplode          (map)
      2. k-gram shingle hash per pos    (map; two xxhash64 passes over
                                         k word-HASHES — arithmetic
                                         only, no per-position k-gram
                                         string materialization; the
                                         r4 minhash trick, r5 review)
      3. min-(doc,pos) per shingle      (ONE agg keyed on the 128-bit
                                         (h1,h2) pair, map-side partials)
      4. non-first occurrences          (join occurrences → firsts: the
                                         build side has exactly ONE row
                                         per key, so even a corpus-hot
                                         boilerplate shingle fans out
                                         linearly, never n²)
      5. covered-position explode       (≤k rows per duplicate span)
      6. anti-join tokens, reassemble   (doc_id-keyed)

    Key width (r5 review): span identity is a HASH pair, not the text.
    A single 64-bit key meets birthday collisions in the billions of
    pairs at the 10^12-doc design point — silently deleting non-
    duplicate spans; the independent second hash puts the 128-bit
    collision expectation below one pair per ~10^18 shingles. This is
    a documented probabilistic trade (like the LSH bucket caps), not
    byte-exact verification — the oracle cross-checks against real
    text at gate scale.
    """
    from ..plans.layout import spread_small_scan
    from .text_analysis import _WS_RE  # pinned class, same as the oracle

    words = F.split(F.trim(F.col("text")), _WS_RE)
    base = spread_small_scan(documents.select("doc_id", "text"))
    toks = base.select(
        "doc_id", F.posexplode(words).alias("pos", "word")
    ).where(F.length("word") > 0)
    # shingle hash at every start position with a full k-token window
    # (n_words - k + 1 starts; docs shorter than k have no shingles).
    # Word hashes once, then two seeded window hashes over k of them —
    # no per-position k-gram STRING is ever built (the old array_join
    # formulation allocated ~k× the document bytes in transient strings,
    # the exact cost r4 measured at 40-50% of minhash signature time).
    n_words = F.size(words)

    def _span(i, salt):
        return F.xxhash64(
            *[F.get(F.col("_wh"), i + F.lit(j)) for j in range(k)], *salt
        )

    grams = (
        base.where(n_words >= k)
        .select(
            "doc_id",
            F.transform(words, lambda w: F.xxhash64(w)).alias("_wh"),
        )
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size("_wh") - k),
                    lambda i: F.struct(
                        _span(i, []).alias("h1"),
                        _span(i, [F.lit(1)]).alias("h2"),
                    ),
                )
            ).alias("pos", "shash"),
        )
    )
    firsts = grams.groupBy("shash").agg(
        F.min(F.struct("doc_id", "pos")).alias("first"),
        F.count(F.lit(1)).alias("occ"),
    ).where(F.col("occ") > 1)
    dup_spans = (
        grams.join(firsts, "shash")
        .where(
            (F.col("doc_id") != F.col("first.doc_id"))
            | (F.col("pos") != F.col("first.pos"))
        )
        .select("doc_id", "pos")
    )
    covered = dup_spans.select(
        "doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + k - 1)).alias("pos")
    ).distinct()
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    reassembled = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "word"))),
                lambda s: s["word"],
            ),
            " ",
        ).alias("text")
    )
    return (
        documents.select("doc_id")
        .join(reassembled, "doc_id", "left")
        .select("doc_id", F.coalesce("text", F.lit("")).alias("text"))
    )
