"""End-to-end reference-equivalent pipeline + CLI.

A reference user's whole workflow (upload PDF → extracted txt + records
JSON + CSV, src/main.ts:133-263) over a pages table in one call:

    from pdf_to_text_spark.pipeline import run_reference_pipeline
    out = run_reference_pipeline(pages)
    # keys: extracted, blocks, records, csv_docs, json_docs, metrics

CLI (spark-submit entry point):

    python -m pdf_to_text_spark.run --input pages_dir --output out_dir \
        [--resume] [--master local[32]]

Outputs land as parquet tables: extracted/, records/, csv_docs/,
json_docs/, metrics/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.extraction import metrics_rollup, run_extraction
from .operators.records import blocks_df, doc_artifacts_df


def run_reference_pipeline(pages: DataFrame, *, dedup: bool = True) -> dict[str, DataFrame]:
    """pages → every artifact the reference produces per document.

    Records come from the deterministic regex field parser
    (kernels/blocks.parse_records). `dedup` passes through to
    run_extraction (keep the newest crawl per url).

    NOTE for materializing callers: every returned frame shares the
    extraction lineage lazily — writing all of them re-runs the kernel
    per sink. Write extracted/ first, re-read it, and feed
    artifacts_from_extracted() instead (what run.py does; r5 review)."""
    extracted = run_extraction(pages, dedup=dedup)
    return {"extracted": extracted, **artifacts_from_extracted(extracted)}


def artifacts_from_extracted(extracted: DataFrame) -> dict[str, DataFrame]:
    """The downstream reference artifacts from an ALREADY-extracted
    frame — pass a re-read of a written extracted/ table so the PDF/HTML
    kernel runs once, not once per sink.

    blocks, records, csv_docs and json_docs are JVM projections of one
    per-document mapInArrow pass (doc_artifacts_df): each sink re-runs
    that one Python pass over the text — no second Python stage,
    shuffle, join or cache. csv_docs has one row per extracted row
    (header-only when it parsed no records, main.ts:55); json_docs only
    rows with at least one record."""
    docs = doc_artifacts_df(extracted)
    return {
        "blocks": blocks_df(extracted),
        "records": docs.select("url", F.inline("records")),
        "csv_docs": docs.select("url", "csv"),
        "json_docs": docs.where(F.size("records") > 0).select("url", "json"),
        "metrics": metrics_rollup(extracted),
    }
