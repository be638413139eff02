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

from .operators.extraction import metrics_rollup, run_extraction
from .operators.records import (
    blocks_df,
    csv_documents,
    json_documents,
    records_df,
    with_chunk_id,
)


def run_reference_pipeline(
    pages: DataFrame, *, dedup: bool = True, enricher=None,
) -> dict[str, DataFrame]:
    """pages → every artifact the reference produces per document.

    `enricher=None` uses the deterministic regex field parser on blocks
    (records_df); pass an operators.enrichment.HTTPEnricher to run the
    reference's LLM stage instead (then records come from enrich_chunks).
    `dedup` passes through to run_extraction (keep the newest crawl per
    url).

    NOTE for materializing callers: every returned frame shares the
    extraction lineage lazily — writing all of them re-runs the kernel
    per sink. Write extracted/ first, re-read it, and feed
    artifacts_from_extracted() instead (what run.py does; r5 review)."""
    extracted = run_extraction(pages, dedup=dedup)
    return {
        "extracted": extracted,
        **artifacts_from_extracted(extracted, enricher=enricher),
    }


def artifacts_from_extracted(
    extracted: DataFrame, *, enricher=None
) -> dict[str, DataFrame]:
    """The downstream reference artifacts from an ALREADY-extracted
    frame — pass a re-read of a written extracted/ table so the kernel
    runs once, not once per sink (the csv_docs url-universe side alone
    would re-run it twice)."""
    blocks = with_chunk_id(blocks_df(extracted))
    if enricher is None:
        records = records_df(blocks)
    else:
        from .operators.enrichment import enrich_chunks
        from .operators.records import chunks_df

        enriched = enrich_chunks(chunks_df(blocks), enricher)
        records = enriched.where(enriched.record_pos.isNotNull()).withColumn(
            "block_pos", enriched.record_pos * 0
        )
    return {
        "blocks": blocks,
        "records": records,
        # pass the extracted url universe: uploads with zero parsed records
        # still emit a header-only CSV (reference main.ts:55)
        "csv_docs": csv_documents(records, urls=extracted.select("url")),
        "json_docs": json_documents(records),
        "metrics": metrics_rollup(extracted),
    }
