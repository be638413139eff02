"""Downstream record dataflow: extracted text → blocks → chunk-tagged
records → CSV/JSON documents.

Spark-first restatement of src/main.ts:70-124,133-263. Key idiom choices:

  * ``posexplode`` gives the per-url block ordinal for free (array
    position) — no window shuffle needed for chunk assignment
    (chunk_id = floor(block_pos / 10), src/main.ts:166);
  * records, CSV and JSON come from ONE Python pass per document
    (``doc_artifacts_df``, kernels/blocks.doc_artifacts), like the
    reference's per-upload handler: no per-url regroup, no join, and the
    CSV coercion quirks (`parseInt||0`, `parseFloat||0`, toFixed(2),
    unescaped quotes, no trailing newline — src/main.ts:39-56) live in
    the kernel serializer only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import MAX_BLOCKS_PER_CHUNK
from ..functions.udfs import DOC_ARTIFACTS_SCHEMA, doc_artifacts_batches, segment_blocks_udf


def blocks_df(extracted: DataFrame) -> DataFrame:
    """extracted → one row per (url, block_pos, block)."""
    return extracted.select(
        "url",
        F.posexplode(segment_blocks_udf(F.col("extracted_text"))).alias(
            "block_pos", "block"
        ),
    )


def with_chunk_id(blocks: DataFrame) -> DataFrame:
    """chunk_id = floor(block_pos / 10) — array position replaces the
    reference's sequential slicing (src/main.ts:116-124). The constant
    is the one kernels/blocks.doc_artifacts tags records with."""
    return blocks.withColumn(
        "chunk_id", (F.col("block_pos") / F.lit(MAX_BLOCKS_PER_CHUNK)).cast("int")
    )


def doc_artifacts_df(extracted: DataFrame) -> DataFrame:
    """extracted → one (url, records, csv, json) row per extracted row.

    records is array<struct<chunk_id, block_pos, record_pos, SucursalName,
    EAN, CantidadVendida, Importe>> in (chunk_id, block_pos, record_pos)
    order; csv/json serialize the same records (header-only CSV and '[]'
    for a document without any). One mapInPandas: the Python worker runs
    segment → parse → serialize per document, so a sink projected from
    this frame crosses into Python once."""
    return extracted.select("url", "extracted_text").mapInPandas(
        doc_artifacts_batches, schema=DOC_ARTIFACTS_SCHEMA
    )
