"""Headline benchmark — one JSON line for the driver (BENCH_r{N}.json).

Runs the engine's headline operators at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the extraction
pipeline over a deterministic synthetic pages table (cached on first
build under .benchdata/). Every query is forced with a noop-sink write so
all columns materialize but nothing collects to the driver. Each query
runs $PTS_BENCH_REPS times (default 2) and reports the best — the shared
VM shows 3-5x noise on identical jobs (BENCH/BASELINE.md).

Output: {"metric": "...", "value": <total sec>, "unit": "sec",
         "queries": {name: sec, ...}, "sf": <float>,
         "extraction_docs_per_sec": <float>, ...}
"""

from __future__ import annotations

import json
import os
import pathlib
import re
import sys
import time


def _force(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def _machine_ceiling(payloads: list, procs: int, n_docs: int = 8000) -> float:
    """Same-window no-Spark control: the identical kernel through a bare
    multiprocessing.Pool (docs/sec). Recorded alongside the Spark number
    so the JSON artifact is self-interpreting on this shared VM (VERDICT
    r3 #8): extraction_docs_per_sec moves 2-3× with host tenancy, but
    the spark/ceiling ratio isolates what the ENGINE adds on top of what
    the machine gives the kernel in the same window. `payloads` is the
    window-classification sample, reused — no second parquet scan."""
    from bench.scaling import pool_throughput

    return pool_throughput(payloads[:n_docs], procs)


def _classify_window(pages_path: str) -> dict:
    """Self-gating window classification, the bench/scaling.py --auto
    protocol ported to the headline bench (VERDICT r5 #1): measure the
    bare-pool 4→16 scaling control BEFORE the timed Spark reps; a
    control below DEGRADED_CONTROL_EFF means the HOST, not the engine,
    is the bottleneck in this window. Retry after a cooldown (env
    PTS_BENCH_RETRIES / PTS_BENCH_COOLDOWN) and, when every attempt is
    degraded, run anyway but stamp the JSON line degraded:true — the
    recorded artifact is then self-interpreting instead of silently
    recording whatever the host happened to be doing (BENCH_r05's
    26.13s "regression" was exactly that)."""
    from bench.scaling import DEGRADED_CONTROL_EFF, _pool_control, load_pool_payloads

    retries = int(os.environ.get("PTS_BENCH_RETRIES", "2"))
    cooldown = int(os.environ.get("PTS_BENCH_COOLDOWN", "150"))
    # one parquet scan for every retry attempt AND the later machine-
    # ceiling marker — re-reading 24k payloads per attempt only lengthened
    # exactly the degraded windows where the box was already struggling
    payloads = load_pool_payloads(pages_path)
    attempts = []
    for attempt in range(1 + max(0, retries)):
        if attempt:
            print(
                f"bench window degraded (control {attempts[-1]:.3f} < "
                f"{DEGRADED_CONTROL_EFF}) — cooling down {cooldown}s "
                f"(attempt {attempt + 1})", file=sys.stderr,
            )
            time.sleep(cooldown)
        eff = _pool_control(pages_path, 4, 16, payloads=payloads)["efficiency"]
        attempts.append(eff)
        if eff >= DEGRADED_CONTROL_EFF:
            break
    eff = attempts[-1]
    return {
        "window_control_eff": round(eff, 3),
        "window_control_attempts": [round(a, 3) for a in attempts],
        "degraded": eff < DEGRADED_CONTROL_EFF,
        # keep only what the ceiling marker slices — holding all ~24k
        # payloads (~150 MB) resident through the timed Spark region
        # would change the measurement environment vs rounds 1-5
        "_payloads": payloads[:8000],
    }


def _extraction_16c_anchor(pages_path: str, reps: int = 2) -> dict:
    """Cold-JVM extraction throughput at local[16] — this box's
    documented throughput peak (BENCH/BASELINE.md: memory-bandwidth-
    bound kernels regress 32-wide). Recorded beside the in-session
    local[cpus] number so round-over-round movement can be judged at
    the parallelism level where the machine, not the scheduler, is the
    ceiling (VERDICT r5 #1). Reps via PTS_BENCH_16C_REPS (defaults to
    PTS_BENCH_REPS; 0 skips the anchor entirely)."""
    from bench.scaling import run_once

    best = None
    for _ in range(max(1, reps)):
        r = run_once(16, pages_path)
        if best is None or r["docs_per_sec"] > best["docs_per_sec"]:
            best = r
    return {
        "extraction_16c_docs_per_sec": round(best["docs_per_sec"], 2),
        "extraction_16c_sec": round(best["sec"], 3),
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_pages = int(os.environ.get("PTS_BENCH_PAGES", "24000"))
    # best-of-N per query: this sandbox is a shared VM with up to 3-5x
    # run-to-run variance on identical jobs (BENCH/BASELINE.md controls);
    # the least-interfered rep is the honest estimate of engine capability
    reps = int(os.environ.get("PTS_BENCH_REPS", "2"))
    # anchored regex, not a bare rsplit('sf'): a path like /home/sfuser/x
    # contains 'sf' but no scale factor and used to crash before any
    # query ran (r6 review)
    m = re.search(r"sf([0-9]+(?:\.[0-9]+)?)/?$", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    repo = pathlib.Path(__file__).resolve().parent
    sys.path.insert(0, str(repo))

    from pdf_to_text_spark.config import build_spark
    from pdf_to_text_spark.operators import dedup, relational, similarity, text_analysis
    from pdf_to_text_spark.operators.extraction import html_roundtrip_extract, run_extraction
    from pdf_to_text_spark.sources.pages import write_pages

    spark = build_spark(
        "pts-bench", master=f"local[{cpus}]", shuffle_partitions=max(32, 2 * cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")

    # deterministic bench pages table, built once and reused across runs;
    # 4×cores files — single-row-group files are the task granularity
    # (see bench/scaling.py ensure_pages)
    from bench.scaling import pages_cache_path, prune_stale_benchdata

    prune_stale_benchdata()
    n_parts = max(64, 4 * cpus)
    pages_path = pages_cache_path(n_pages, n_parts)
    if not (pages_path / "_SUCCESS").exists():
        write_pages(spark, n_pages, str(pages_path), num_partitions=n_parts)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    pages = spark.read.parquet(str(pages_path))
    docs_1k = docs.where(docs.doc_id < 1000)

    def q_extract_pages():
        # kernel over scan splits, no payload shuffle
        return run_extraction(pages)

    headline = {
        "extract_pages": q_extract_pages,
        "extract_html_roundtrip": lambda: html_roundtrip_extract(docs),
        "pricing_summary": lambda: relational.pricing_summary(lineitem),
        "top_nation_revenue": lambda: relational.top_nation_revenue(orders, customer, nation),
        "latest_event_per_user": lambda: relational.latest_event_per_user(events),
        "word_chunk_reassembly": lambda: relational.word_chunk_reassembly(docs),
        # fused single-pass profile (was quality ⋈ langid ⋈ tokens: three
        # scans + two shuffles, 38 s — VERDICT r1; same output columns)
        "token_quality_langid": lambda: text_analysis.text_profile(docs),
        "fingerprint_dedup_exact": lambda: dedup.dedup_exact_groups(docs),
        "minhash_dedup_pairs": lambda: dedup.minhash_dedup_pairs(docs, threshold=0.2),
        # r6 (VERDICT r5 #6): minhash_sql_pairs (the dependency-free
        # pure-JVM variant) moved to the audit section below — it is the
        # same LSH downstream as minhash_dedup_pairs and was the suite's
        # heaviest pair at ~2.6× the kernel variant (the remaining cost
        # is 64 interpreted array_min projections; a single-pass
        # aggregate/zip_with fold was A/B'd at parity, and a post-scan
        # repartition(128) measured SLOWER for every shuffle-bearing
        # dedup query at this corpus size — 5k docs is scheduling-bound,
        # not compute-bound). The freed slot runs a second REAL pipeline
        # operator: C4-style line-level dedup.
        "line_dedup_strip": lambda: dedup.strip_duplicate_lines(docs),
        "simhash_near_pairs": lambda: dedup.simhash_near_pairs(docs, max_hamming=3),
        "ngram_jaccard_1k": lambda: dedup.ngram_jaccard_pairs(docs_1k, threshold=0.02),
        "knn_brute_force": lambda: similarity.brute_force_topk(
            emb, similarity.queries_from_corpus(emb, 16), k=10
        ),
        "knn_lsh": lambda: similarity.lsh_topk(
            emb, similarity.queries_from_corpus(emb, 16), dim=64, k=10
        ),
    }

    # window classification BEFORE the timed region (r6: the self-gating
    # protocol from bench/scaling.py --auto; retries on a degraded host)
    window = _classify_window(str(pages_path))
    pool_payloads = window.pop("_payloads")  # reused by the ceiling marker
    print(f"window control {window['window_control_eff']} "
          f"degraded={window['degraded']}", file=sys.stderr)

    # warm the Python worker pool once (daemon fork + imports) so the
    # first timed query doesn't absorb interpreter cold-start.
    # repartition(cpus) matters: a bare limit() collapses to ONE
    # partition and would leave cpus-1 workers cold INSIDE the timed
    # region (same fix as bench/scaling.py, r3 review)
    _force(run_extraction(pages.limit(8 * cpus).repartition(cpus)))

    # audit queries: timed and reported, NOT part of the headline total —
    # alternative formulations of operators already in the headline
    # (enable with PTS_BENCH_AUDIT=1)
    audit = {
        "minhash_sql_pairs": lambda: dedup.minhash_dedup_pairs_sql(docs, threshold=0.2),
    }

    def _best_of(fn) -> float:
        best = float("inf")
        for _ in range(max(1, reps)):
            # the dedup operators .persist() their fan-out relations and
            # Spark's CacheManager dedupes by canonicalized plan — without
            # this, rep 2 reuses rep 1's cached signatures/shingles and
            # best-of-N reports a cache hit, not the engine (r3 review).
            # Also bounds cache growth across the suite.
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            _force(fn())
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    times: dict[str, float] = {}
    extras: dict = {}
    for name, fn in headline.items():
        times[name] = _best_of(fn)
    if os.environ.get("PTS_BENCH_AUDIT"):
        extras["audit_queries"] = {n: _best_of(fn) for n, fn in audit.items()}

    # extraction throughput in docs/sec (the north-star metric)
    n_extracted = pages.count()
    extras["extraction_docs_per_sec"] = round(n_extracted / times["extract_pages"], 2)
    extras["extraction_docs"] = n_extracted
    # same-window tenancy marker (no Spark): lets the recorded artifact
    # separate engine movement from host movement between rounds
    ceiling = _machine_ceiling(pool_payloads, cpus)
    extras["ceiling_docs_per_sec"] = round(ceiling, 2)
    extras["spark_vs_ceiling"] = round(
        extras["extraction_docs_per_sec"] / ceiling, 3
    )
    # the 16c anchor spawns its OWN cold JVM — stop this session first so
    # the resident local[cpus] heap + worker pool can't depress it (the
    # standalone BENCH/BASELINE.md runs it cites have no other session
    # alive); nothing below needs `spark`
    spark.stop()
    reps16 = int(os.environ.get("PTS_BENCH_16C_REPS", str(max(1, reps))))
    if reps16 > 0:
        try:
            extras.update(_extraction_16c_anchor(str(pages_path), reps=reps16))
        except Exception as e:  # noqa: BLE001
            # the anchor runs AFTER the whole timed suite; a transient
            # cold-JVM failure (host contention, timeout) must not
            # discard ~10 minutes of completed results (r6 review)
            extras["anchor_error"] = f"{type(e).__name__}: {e}"[:300]

    out = {
        "metric": "headline_suite_seconds",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "cpus": cpus,
        "reps_per_query": max(1, reps),
        **window,
        **extras,
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
