"""Physical-plan quality gates (the 100 TB checklist, SURVEY.md §4).

These tests pin the plan shapes that matter at scale:
  * the extraction scan reads ONLY the 5 input columns (column pruning);
  * no Exchange (shuffle) of raw payloads before the extraction kernel;
  * small dims broadcast in the join chain;
  * filters are pushed into the parquet scan;
  * the chunk operator needs no window Exchange (kernel-tagged ordinals).
Plans regress silently; grepping .explain output is how we notice.
"""

import re

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def pages(spark, tmp_path_factory):
    from pdf_to_text_spark.sources.pages import write_pages

    path = str(tmp_path_factory.mktemp("plans") / "pages")
    write_pages(spark, 100, path, num_partitions=2)
    return spark.read.parquet(path)


def _plan(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_extraction_scan_prunes_columns(pages):
    from pdf_to_text_spark.operators.extraction import run_extraction

    plan = _plan(run_extraction(pages.withColumn("extra", F.lit(1))))
    m = re.search(r"ReadSchema: (.+)", plan)
    assert m, plan
    read = m.group(1)
    assert "extra" not in read
    for col in ("url", "warc_ts", "html", "text", "lang"):
        assert col in read


def _exchange_inputs(plan: str) -> list[str]:
    """The `Input [..]: [...]` column list of every Exchange node in a
    formatted plan (includes BroadcastExchange)."""
    return re.findall(r"\) \w*Exchange\w*[^\n]*\nInput \[\d+\]: \[([^\]]*)\]", plan)


def test_no_payload_shuffle_before_kernel(pages):
    """The 100 TB invariant: the kernel maps straight off the scan (no
    Exchange between them), and no Exchange carries payload bytes — the
    keep-newest shuffle after the kernel moves extracted rows only."""
    from pdf_to_text_spark.operators.extraction import run_extraction

    plan = _plan(run_extraction(pages))
    # the formatted plan opens with the operator tree, root first: the
    # nodes between the kernel and the scan sit between their first
    # mentions. The kernel is one Arrow crossing, no pandas node.
    kernel_pos, scan_pos = plan.find("MapInArrow"), plan.find("Scan parquet")
    assert 0 <= kernel_pos < scan_pos, plan
    assert "MapInPandas" not in plan, plan
    assert "Exchange" not in plan[kernel_pos:scan_pos], plan
    for cols in _exchange_inputs(plan):
        assert "html" not in cols, plan


def test_filter_pushdown_reaches_scan(spark):
    from conftest import load

    sf = "/root/testdata/sf0.001"
    df = load(spark, "orders", sf).where(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select("o_orderkey")
    plan = _plan(df)
    assert re.search(r"PushedFilters: \[.*o_orderpriority.*\]", plan), plan
    m = re.search(r"ReadSchema: (.+)", plan)
    assert "o_totalprice" not in m.group(1)  # pruned


def test_chunk_assembly_single_aggregate_no_window(spark):
    """Chunk ids must be explode → project: no Window operator and no
    aggregate (the kernel tags each block with its ordinal and chunk)."""
    import datetime as dt

    from pdf_to_text_spark.operators.extraction import run_extraction
    from pdf_to_text_spark.operators.records import blocks_df
    from pdf_to_text_spark.sources.pages import PAGES_SCHEMA

    df = spark.createDataFrame(
        [("u", dt.datetime(2024, 1, 1), b"%PDF-x", None, "en")], schema=PAGES_SCHEMA
    )
    plan = _plan(blocks_df(run_extraction(df, dedup=False)))
    assert "Window" not in plan and "Aggregate" not in plan and "Exchange" not in plan
    # the formatted plan names the node "Generate" and its generator below
    assert re.search(r"\) Generate[^\n]*\nInput[^\n]*\nArguments: inline\(blocks", plan), plan


def test_artifact_sinks_are_one_python_pass_each(spark, pages, tmp_path):
    """blocks, records, csv_docs and json_docs over a parquet-read
    extracted table are each scan → ONE MapInArrow → project/generate/
    filter: no pandas node or other Python eval, no Exchange, join or
    cached relation; building the four frames launches no Spark job."""
    from pdf_to_text_spark.operators.extraction import run_extraction
    from pdf_to_text_spark.pipeline import artifacts_from_extracted

    path = str(tmp_path / "extracted")
    run_extraction(pages).write.parquet(path)
    extracted = spark.read.parquet(path)
    sc = spark.sparkContext

    def jobs(group):
        # the status store is fed asynchronously by the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    try:
        sc.setJobGroup("artifacts", "build the artifact frames")
        art = artifacts_from_extracted(extracted)
        sinks = [art[k] for k in ("blocks", "records", "csv_docs", "json_docs")]
        assert jobs("artifacts") == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    for df in sinks:
        plan = _plan(df)
        tree = plan.split("\n\n", 1)[0]  # the operator tree, one line per node
        assert len(re.findall(r"\bMapInArrow\b", tree)) == 1, plan
        assert "MapInPandas" not in plan, plan
        assert not re.search(r"ArrowEvalPython|BatchEvalPython", plan), plan
        assert "Exchange" not in plan, plan
        assert "Join" not in tree, plan
        assert not re.search(r"InMemory(TableScan|Relation)", plan), plan
        assert "Scan parquet" in tree, plan


def test_lsh_band_join_is_hash_keyed_not_cartesian(spark):
    """MinHash and n-gram candidate joins must hash-join on their keys —
    a cartesian/BNLJ here is corpus² and would be fatal at scale."""
    from pdf_to_text_spark.operators import dedup
    from conftest import load

    docs = load(spark, "documents", "/root/testdata/sf0.001")
    for df in (
        dedup.minhash_candidate_pairs(dedup.minhash_signatures(docs)),
        dedup.ngram_jaccard_pairs(docs),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan



def test_dedup_corpus_is_one_linear_kernel_pass(spark):
    """dedup_corpus reads the text once: exactly one MapInArrow (the
    kernel runs once per doc, and emits the exact-dup fingerprint, so no
    JVM projection normalizes or hashes the text), no cached relation, no
    join, and `text` never crosses an Exchange (fingerprint window,
    bucket and doc_id shuffles only)."""
    import os

    from pdf_to_text_spark.operators import dedup
    from conftest import DEFAULT_SF_DIR, load

    # the smallest generated table set, beside the default one
    docs = load(spark, "documents", os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001"))
    plan = _plan(dedup.dedup_corpus(docs))
    tree = plan.split("\n\n", 1)[0]  # the operator tree, one line per node
    assert len(re.findall(r"\bMapInArrow\b", tree)) == 1, plan
    assert not re.search(r"InMemory(TableScan|Relation)", plan), plan
    assert "Join" not in tree, plan
    inputs = _exchange_inputs(plan)
    assert len(inputs) == 3, plan
    for cols in inputs:
        assert not re.search(r"\btext#", cols), plan
    assert "regexp_replace" not in plan, plan
    assert not re.search(r"\bmd5\(", plan), plan


# py4j round trips to build each root operator's lazy plan on a warm
# session, with a small margin over the counts at the time of writing
# (dedup_corpus 115, run_extraction 181, strip_duplicate_lines 366).
# dedup_corpus's fold built from Python-lambda higher-order functions
# took 937: each lambda costs dozens of round trips.
GATEWAY_BUDGET = {"dedup_corpus": 250, "run_extraction": 200, "strip_duplicate_lines": 400}


@pytest.mark.parametrize("op", sorted(GATEWAY_BUDGET))
def test_plan_build_gateway_budget(spark, pages, op):
    """Driver-side plan construction stays within its round-trip budget,
    so chatter between the driver and the JVM cannot creep back
    unnoticed."""
    import os

    from pdf_to_text_spark.operators import dedup
    from pdf_to_text_spark.operators.extraction import run_extraction
    from conftest import DEFAULT_SF_DIR, gateway_calls, load

    docs = load(spark, "documents", os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001"))
    build = {
        "dedup_corpus": lambda: dedup.dedup_corpus(docs),
        "run_extraction": lambda: run_extraction(pages),
        "strip_duplicate_lines": lambda: dedup.strip_duplicate_lines(docs),
    }[op]
    build()  # the first call also loads classes and caches JVM handles
    with gateway_calls(spark) as calls:
        build()
    assert 0 < calls[0] <= GATEWAY_BUDGET[op], calls[0]

def test_strip_duplicate_lines_is_one_linear_plan(spark):
    """strip_duplicate_lines is explode → aggregate by line → aggregate
    by doc_id: exactly two Exchanges, and no Window, join, cached
    relation or round-robin repartition."""
    import os

    from pdf_to_text_spark.operators import dedup
    from conftest import DEFAULT_SF_DIR, load

    # the smallest generated table set, beside the default one
    docs = load(spark, "documents", os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001"))
    plan = _plan(dedup.strip_duplicate_lines(docs))
    tree = plan.split("\n\n", 1)[0]  # the operator tree, one line per node
    assert len(_exchange_inputs(plan)) == 2, plan
    assert "Window" not in tree, plan
    assert "Join" not in tree, plan
    assert not re.search(r"InMemory(TableScan|Relation)", plan), plan
    assert "RoundRobinPartitioning" not in plan, plan


def test_ngram_jaccard_candidates_path_is_keyed(spark):
    """ngram_jaccard_pairs(candidates=...) — the 100 TB LSH-then-verify
    composition — must stay equi-join-keyed, never all-pairs."""
    from pdf_to_text_spark.operators import dedup
    from conftest import load

    docs = load(spark, "documents", "/root/testdata/sf0.001")
    cand = dedup.minhash_candidate_pairs(dedup.minhash_signatures(docs))
    plan = _plan(dedup.ngram_jaccard_pairs(docs, threshold=0.5, candidates=cand))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_spread_small_scan_is_adaptive(spark, monkeypatch, tmp_path):
    """spread_small_scan (r7): repartitions ONLY mid-size relations with
    KNOWN size — tiny inputs keep their plan (scheduling-bound, r6
    measurement), huge inputs keep theirs (the scan is already parallel;
    re-shuffling would be a payload shuffle), and unknown-stats plans
    (LogicalRDD reports Long.MaxValue) are never touched. The decision
    is driven by optimizer stats, steered here via config thresholds."""
    import pdf_to_text_spark.config as cfg
    from pdf_to_text_spark.plans.layout import spread_small_scan

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "word " * 50) for i in range(200)], "doc_id long, text string"
    ).coalesce(1).write.parquet(path)
    docs = spark.read.parquet(path)

    def n_shuffles(df):
        return _plan(df).count("Exchange")

    # default thresholds: this file is tiny -> untouched
    assert n_shuffles(spread_small_scan(docs)) == 0
    # lower MIN below the relation size -> spread fires (the formatted
    # plan names each node twice — tree + details — so assert presence)
    monkeypatch.setattr(cfg, "SPREAD_MIN_BYTES", 1)
    assert n_shuffles(spread_small_scan(docs)) >= 1
    # MAX below the relation size -> "already parallel at scale" no-op
    monkeypatch.setattr(cfg, "SPREAD_MAX_BYTES", 2)
    assert n_shuffles(spread_small_scan(docs)) == 0
    # unknown stats (createDataFrame -> LogicalRDD, MaxValue) -> no-op
    monkeypatch.setattr(cfg, "SPREAD_MAX_BYTES", 1 << 62)
    local = spark.createDataFrame([(1, "t")], "doc_id long, text string")
    assert n_shuffles(spread_small_scan(local)) == 0


def test_band_persist_is_stats_gated(spark, monkeypatch, tmp_path):
    """dedup._persist_if_large (r7): persists a fan-out relation only
    above the BAND_PERSIST_MIN_BYTES estimate — the cache barrier costs
    more than the recompute on tiny corpora (measured at 5k docs)."""
    import pdf_to_text_spark.config as cfg
    from pdf_to_text_spark.operators.dedup import _persist_if_large

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, "text " * 20) for i in range(100)], "doc_id long, text string"
    ).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert not _persist_if_large(df).storageLevel.useMemory  # tiny -> no
    monkeypatch.setattr(cfg, "BAND_PERSIST_MIN_BYTES", 1)
    out = _persist_if_large(df)
    assert out.storageLevel.useMemory  # above gate -> persisted
    out.unpersist()


def test_spread_small_scan_preserves_results(spark, monkeypatch, tmp_path):
    """Operators that adopted spread_small_scan must return identical
    rows with the spread forced on vs off (the r7 A/B identity gate,
    run at sf1.0 across all 21 touched operators; pinned here at test
    scale on a representative JVM path and a kernel path)."""
    import pdf_to_text_spark.config as cfg
    from pdf_to_text_spark.operators.dedup import minhash_dedup_pairs
    from pdf_to_text_spark.operators.text_analysis import text_profile

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i % 7} common tail words here") for i in range(300)],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(path)
    docs = spark.read.parquet(path)
    for fn in (text_profile, lambda d: minhash_dedup_pairs(d, threshold=0.2)):
        monkeypatch.setattr(cfg, "SPREAD_MIN_BYTES", 1 << 60)
        off = sorted(map(tuple, fn(docs).collect()))
        monkeypatch.setattr(cfg, "SPREAD_MIN_BYTES", 1)
        spark.catalog.clearCache()
        on = sorted(map(tuple, fn(docs).collect()))
        assert on == off


def test_merged_profile_queries_stay_single_pass(spark):
    """The merged quality profile must keep the one-pass shape it was
    merged FOR: quality_stats(+score) = map-only, zero Exchange."""
    docs = spark.createDataFrame(
        [(1, "some text here", "en", "s0", 14)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    from pdf_to_text_spark.operators.text_analysis import quality_score

    qp = quality_score(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in qp and "Join" not in qp
