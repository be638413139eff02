"""Downstream record dataflow: extracted text → blocks → chunk-tagged
records → CSV/JSON documents.

Spark-first restatement of src/main.ts:70-124,133-263. Key idiom choices:

  * every artifact comes from ONE Python pass per document
    (``doc_artifacts_df``, kernels/blocks.doc_artifacts, one mapInArrow),
    like the reference's per-upload handler: blocks, records, CSV and
    JSON are JVM projections of it — no per-url regroup, window, join or
    second Python stage;
  * the block ordinal and chunk_id = block_pos // 10 (src/main.ts:166)
    are computed in the kernel, the only copy of the chunk rule;
  * the CSV coercion quirks (`parseInt||0`, `parseFloat||0`, toFixed(2),
    unescaped quotes, no trailing newline — src/main.ts:39-56) live in
    the kernel serializer only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.udfs import DOC_ARTIFACTS_SCHEMA, doc_artifacts_batches


def doc_artifacts_df(extracted: DataFrame) -> DataFrame:
    """extracted → one (url, records, csv, json, blocks) row per
    extracted row.

    records is array<struct<chunk_id, block_pos, record_pos, SucursalName,
    EAN, CantidadVendida, Importe>> in (chunk_id, block_pos, record_pos)
    order; csv/json serialize the same records (header-only CSV and '[]'
    for a document without any); blocks is array<struct<block_pos, block,
    chunk_id>> in document order. One mapInArrow: the Python worker runs
    segment → parse → serialize per document, so a sink projected from
    this frame crosses into Python once."""
    return extracted.select("url", "extracted_text").mapInArrow(
        doc_artifacts_batches, schema=DOC_ARTIFACTS_SCHEMA
    )


def blocks_df(extracted: DataFrame) -> DataFrame:
    """extracted → one (url, block_pos, block, chunk_id) row per block."""
    return doc_artifacts_df(extracted).select("url", F.inline("blocks"))
