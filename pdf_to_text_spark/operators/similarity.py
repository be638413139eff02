"""Similarity search over an embedding column (array<float>).

Two paths (SURVEY training-data ops):

  * brute_force_topk — exact cosine top-k: query×corpus join, JVM-side
    dot products, per-query window row_number. The correctness baseline
    and the small-corpus path.
  * lsh_topk         — random-hyperplane LSH (SimHash for vectors,
    Charikar '02): N_PLANES=8 deterministic hyperplanes → 8-bit bucket
    signature, over N_TABLES=4 independent tables;
    candidates = same bucket (multi-probe: hamming-1 neighbors too),
    then exact rerank inside buckets. The 100 TB path: the join is keyed
    on the bucket, so pair space is bucket-local; probes trade recall
    for fan-out.

At a real 100 TB deployment the corpus side is bucketed+sorted on the
signature at write time, so the probe join prunes files; in the sandbox
the same plan shape runs over parquet.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import cosine_sim_col

N_PLANES = 8
N_TABLES = 4


def _clean_matrix(cells, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """(keep_mask, (n_keep × dim) float64 matrix) for a batch of Arrow
    array cells, dropping NULL and wrong-length vectors per ROW.

    The naive `np.asarray([np.asarray(v) for v in cells])` turns ONE
    corrupt row into an inhomogeneous-shape ValueError that kills the
    whole job after task retries (r6 review) — corrupt embeddings are
    already in this module's threat model (cosine_sim_col hardening),
    so the LSH/IVF kernels must degrade per-row too. NaN/Inf components
    are kept: downstream comparisons treat them deterministically."""
    keep = np.zeros(len(cells), dtype=bool)
    rows = []
    for i, v in enumerate(cells):
        if v is None:
            continue
        a = np.asarray(v, dtype=np.float64)
        if a.shape != (dim,):
            continue
        keep[i] = True
        rows.append(a)
    if not rows:
        return keep, np.empty((0, dim), dtype=np.float64)
    return keep, np.stack(rows)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared exact-rerank tail for the three top-k surfaces: rank by
    cosine desc with vec_id asc tie-break (total-order deterministic,
    oracle-comparable). One definition so brute-force/IVF/LSH cannot
    silently diverge on rounding or tie-break (r6 review)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
    )


def brute_force_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    queries: (query_id, qv array<double|float>). Ties broken by vec_id so
    results are total-order deterministic (and oracle-comparable).
    """
    from ..plans.layout import spread_small_scan

    corpus = spread_small_scan(embeddings.select("vec_id", "embedding")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = queries.select("query_id", F.col("qv").cast("array<double>").alias("qv"))
    joined = q.crossJoin(corpus)
    sim = cosine_sim_col("qv", "v")
    scored = joined.select(
        "query_id", "vec_id", F.round(sim, 4).alias("cosine")
    )
    return _rank_topk(scored, k)


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label embedding centroids as (label, dim, n, mean_x) rows —
    class prototypes for embedding-space analysis. Sums are decimal
    (exact, shuffle-order-independent — same rationale as ivf_train) so
    the centroid is bit-deterministic; mean floor-scaled to 6 decimals.
    Row-per-dimension output keeps the driver canonicalizer scalar-only
    and the shuffle carries (label × dim) partials, never vectors."""
    e = embeddings.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x"),
    )
    agg = e.groupBy("label", "dim").agg(
        F.sum(F.col("x").try_cast("decimal(38,18)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    mean = F.col("s").cast("double") / F.col("n").cast("double")
    return agg.select(
        "label",
        "dim",
        "n",
        (F.floor(mean * 1000000) / 1000000).alias("mean_x"),
    )


def queries_from_corpus(embeddings: DataFrame, n_queries: int = 8) -> DataFrame:
    """Deterministic query set: the n lowest vec_ids, as (query_id, qv)."""
    return (
        embeddings.orderBy("vec_id")
        .limit(n_queries)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    )


# ── random-hyperplane LSH ────────────────────────────────────────────────────


def _planes(dim: int, n_planes: int, table: int) -> np.ndarray:
    rng = np.random.RandomState(0xA11CE + 7919 * table)
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def lsh_signatures(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = N_PLANES,
    n_tables: int = N_TABLES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """id → (table, bucket) rows: n_tables independent n_planes-bit
    hyperplane signatures per vector (vectorized numpy batches).

    Standard multi-table construction (Indyk-Motwani / Charikar): each
    table is an independent chance to co-bucket true neighbors, so recall
    ≈ 1-(1-p^r)^T instead of p^r."""
    all_planes = np.stack([_planes(dim, n_planes, t) for t in range(n_tables)])
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    def gen(batches):
        for b in batches:
            if len(b) == 0:
                continue
            keep, M = _clean_matrix(b[vec_col], dim)
            n = int(keep.sum())
            if n == 0:
                continue  # NULL/ragged rows get no signature, not a crash
            ids = np.repeat(np.asarray(b[id_col])[keep], n_tables)
            tables = np.tile(np.arange(n_tables, dtype=np.int32), n)
            # (T, n, planes) → bucket per (vec, table)
            bits = np.einsum("nd,tpd->ntp", M, all_planes) > 0
            buckets = (bits * weights).sum(axis=2).reshape(-1)  # row-major: vec-major
            yield pd.DataFrame({id_col: ids, "table": tables, "bucket": buckets})

    # NO spread_small_scan here (unlike brute_force_topk): this kernel is
    # batch-vectorized numpy (~ns/vector), so even a parallelism-1 scan
    # finishes in well under the cost of the extra exchange — measured
    # r7: spreading REGRESSED knn_lsh 0.9 s → 1.5 s at the 20k-vector
    # bench scale. The downstream bucket join is shuffle-parallel anyway.
    return embeddings.select(id_col, vec_col).mapInPandas(
        gen, schema=f"{id_col} long, table int, bucket long"
    )


def ivf_train(embeddings: DataFrame, dim: int, n_cells: int = 16,
              n_iters: int = 5, id_col: str = "vec_id",
              vec_col: str = "embedding", sample_pct: int | None = None):
    """IVF coarse quantizer: deterministic Lloyd's k-means (fixed seed,
    fixed iteration count) → ((id, cell, v) assignments, centroid matrix).

    Centroid update runs as a Spark aggregation per iteration (sums via
    posexplode + groupBy — all JVM); only the tiny (n_cells × dim)
    centroid matrix ever reaches the driver. At 100 TB the assignment is
    one broadcast-join-free map per iteration, and the final cell id is
    the partition key for the ANN probe path.

    `sample_pct` trains on the deterministic md5-bucket sample (the
    shared content-addressed primitive — text_analysis.md5_bucket), with
    the sampled relation PERSISTED across Lloyd iterations: the scan
    budget is 1 sampled scan + n_iters passes over the cache + 1 full
    assignment pass, instead of n_iters+1 full rescans (VERDICT r2
    "what's wrong" #3 — k-means at 100 TB trains on a sample). With
    sample_pct None the full relation is cached instead (right for
    test-scale corpora that fit).

    The per-cell sums are DECIMAL, not double: decimal addition is exact
    and shuffle-order-independent, so the trained centroids are
    bit-identical run to run (double sums pick up partition-order last-bit
    noise, which flips cell assignments)."""

    from .text_analysis import md5_bucket

    e = embeddings.select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
    train = e.where(md5_bucket(id_col) < sample_pct) if sample_pct is not None else e
    train = train.persist()
    rng = np.random.RandomState(0xCE11)
    centroids = rng.standard_normal((n_cells, dim))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)

    try:
        for _ in range(n_iters):
            assigned = _assign_cells(train, centroids)
            # per-cell vector sums, distributed; only n_cells rows return
            sums = (
                assigned.select("cell", F.posexplode("v").alias("i", "x"))
                .groupBy("cell", "i")
                .agg(
                    # try_cast: a NaN/Infinity embedding component must cost
                    # one term (null drops from the sum), not the job (ANSI)
                    F.sum(F.col("x").try_cast("decimal(38,18)")).alias("s"),
                    F.count("*").alias("n"),
                )
                .collect()
            )
            new = centroids.copy()
            counts = {}
            acc = {}
            for r in sums:
                # a (cell, dim) whose every component try_cast'ed to null
                # (all-NaN/Inf) sums to NULL — treat as 0 contribution
                # instead of a driver TypeError (r3 review)
                if r["s"] is not None:
                    acc[(r["cell"], r["i"])] = float(r["s"])
                # denominator keyed per (cell, dim), not per cell: with
                # ragged vectors the per-dim counts differ, and taking
                # whichever row collect() returned LAST made centroids
                # depend on shuffle arrival order (r5 review) — the
                # exact nondeterminism the decimal sums exist to prevent
                counts[(r["cell"], r["i"])] = r["n"]
            for c in range(n_cells):
                if any(counts.get((c, i)) for i in range(dim)):
                    vec = np.array([
                        acc.get((c, i), 0.0) / counts[(c, i)]
                        if counts.get((c, i)) else 0.0
                        for i in range(dim)
                    ])
                    norm = np.linalg.norm(vec)
                    if norm > 0:
                        new[c] = vec / norm
            centroids = new
    finally:
        train.unpersist()

    return _assign_cells(e, centroids).select(id_col, "cell", "v"), centroids


def ivf_assign(embeddings: DataFrame, dim: int, n_cells: int = 16,
               n_iters: int = 5, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """(id, cell) assignments from the trained quantizer (see ivf_train)."""
    assigned, _ = ivf_train(embeddings, dim, n_cells, n_iters, id_col, vec_col)
    return assigned.select(id_col, "cell")


def _assign_cells(e: DataFrame, centroids) -> DataFrame:
    """argmax-dot-product cell assignment as a pure-JVM expression."""
    sims = [
        F.aggregate(
            F.zip_with(
                "v",
                F.array(*[F.lit(float(x)) for x in c]),
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias(f"_s{i}")
        for i, c in enumerate(centroids)
    ]
    with_sims = e.select("*", *sims)
    best = F.lit(0)
    best_sim = F.col("_s0")
    for i in range(1, len(centroids)):
        cond = F.col(f"_s{i}") > best_sim
        best = F.when(cond, F.lit(i)).otherwise(best)
        best_sim = F.when(cond, F.col(f"_s{i}")).otherwise(best_sim)
    return with_sims.withColumn("cell", best).drop(*[f"_s{i}" for i in range(len(centroids))])


def ivf_topk(embeddings: DataFrame, queries: DataFrame, dim: int, k: int = 5,
             n_cells: int = 16, n_probe: int = 4,
             sample_pct: int | None = None, index=None) -> DataFrame:
    """IVF ANN: probe the n_probe nearest cells per query, exact rerank
    inside them. The probe join is keyed on cell — corpus² never forms.

    `index` accepts a prebuilt (assignments, centroids) pair from
    ivf_train so the serve path never retrains (train once, query many —
    the 100 TB split); otherwise trains here, on the `sample_pct`
    deterministic sample when given."""

    if index is None:
        index = ivf_train(embeddings, dim, n_cells, sample_pct=sample_pct)
    corpus, C = index
    # n_probe > available cells: argsort slicing clamps to len(C)
    # columns while np.repeat would still replicate query_ids n_probe
    # times — a shape-mismatch executor crash instead of probing every
    # cell (r5 review)
    n_probe = min(n_probe, len(C))

    def probes(batches):
        dim_c = C.shape[1]
        for b in batches:
            if not len(b):
                continue
            keep, M = _clean_matrix(b["qv"], dim_c)
            if not keep.any():
                continue  # bad query rows probe nothing, not a crash
            sims = M @ C.T
            top = np.argsort(-sims, axis=1)[:, :n_probe]
            qids = np.repeat(np.asarray(b["query_id"])[keep], n_probe)
            cells = top.reshape(-1).astype("int32")
            yield pd.DataFrame({"query_id": qids, "cell": cells})

    q = queries.select("query_id", F.col("qv").cast("array<double>").alias("qv"))
    q_probes = q.mapInPandas(probes, schema="query_id long, cell int")
    # candidate pairs are unique by construction (one cell per vec_id,
    # n_probe DISTINCT cells per query via argsort) — no distinct()
    # needed, which would add a full shuffle carrying both arrays at the
    # widest point of the plan (r3 review; contrast lsh_topk, where
    # multiple tables CAN co-bucket a pair and dedup is required)
    cand = (
        q.join(q_probes, "query_id")
        .join(corpus, "cell")
        .select("query_id", "qv", "vec_id", "v")
    )
    sim = cosine_sim_col("qv", "v")
    scored = cand.select("query_id", "vec_id", F.round(sim, 4).alias("cosine"))
    return _rank_topk(scored, k)


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = N_PLANES,
    n_tables: int = N_TABLES,
    multiprobe: bool = False,
) -> DataFrame:
    """ANN top-k: multi-table bucket-join candidates, exact cosine rerank.

    The candidate join is keyed on (table, bucket) — pair space stays
    bucket-local, never corpus². Rerank is exact cosine, JVM-side.

    `multiprobe` additionally probes every hamming-1 neighbor of each
    QUERY bucket (Lv et al., VLDB'07): recall rises as if ~n_planes more
    tables existed, at probe-side fan-out only — the corpus layout,
    storage, and signatures are untouched, which is the right trade at
    100 TB (corpus re-bucketing is the expensive side).

    Plan shape (r5 review): the bucket join and the distinct() run over
    BARE (query_id, vec_id) id pairs — signatures only, no embedding
    arrays. The previous plan carried both 64-dim vectors through the
    (table, bucket) join AND the dedup shuffle, replicating each ~1 KB
    pair up to n_tables (×hamming-probes) times at the widest point;
    vectors now attach once, id-keyed, after dedup."""
    corpus_sig = lsh_signatures(embeddings, dim, n_planes, n_tables)

    q_sig = lsh_signatures(
        queries.select(F.col("query_id").alias("vec_id"), F.col("qv").alias("embedding")),
        dim,
        n_planes,
        n_tables,
    ).select(F.col("vec_id").alias("query_id"), "table", "bucket")
    if multiprobe:
        q_sig = q_sig.select(
            "query_id",
            "table",
            F.explode(
                F.array(
                    F.col("bucket"),
                    *[
                        F.col("bucket").bitwiseXOR(F.lit(1 << j))
                        for j in range(n_planes)
                    ],
                )
            ).alias("bucket"),
        )

    pairs = (
        q_sig.join(corpus_sig, ["table", "bucket"])
        .select("query_id", "vec_id")
        .distinct()  # multiple tables/probes CAN co-bucket a pair
    )
    cand = (
        pairs.join(
            queries.select("query_id", F.col("qv").cast("array<double>").alias("qv")),
            "query_id",
        )
        .join(
            embeddings.select(
                "vec_id", F.col("embedding").cast("array<double>").alias("v")
            ),
            "vec_id",
        )
        .select("query_id", "qv", "vec_id", "v")
    )
    sim = cosine_sim_col("qv", "v")
    scored = cand.select("query_id", "vec_id", F.round(sim, 4).alias("cosine"))
    return _rank_topk(scored, k)
