"""Structured Streaming variant of the extraction pipeline.

The reference is request/response (one doc per HTTP call); its streaming
analogue is a continuous crawl feed. This module runs the SAME extraction
kernel (functions/udfs.extract_arrow_batches) over a file-source stream of
pages parquet, with:

  * exactly-once sink semantics via the streaming checkpoint (replaces
    the batch ManifestTable for the continuous case);
  * watermarked per-minute crawl metrics (late warc_ts tolerated 1 hour);
  * Trigger.AvailableNow for backfill-style runs (used by the tests —
    processes everything present, then stops, still checkpointed).

The batch path stays the primary (SURVEY §1.2: the reference has no
streaming semantics), but the operator surface is here and tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import EXTRACT_SCHEMA, extract_arrow_batches
from ..sources.pages import PAGES_SCHEMA


def read_pages_stream(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    r = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        # explicit is-not-None, not truthiness: an explicit 0 must reach
        # Spark (which rejects it loudly) rather than silently configure
        # an unthrottled stream the caller believes is throttled
        # (r5 review)
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(src_dir)


def extract_stream(pages_stream: DataFrame) -> DataFrame:
    """Same Arrow-batched kernel, streaming micro-batches."""
    return pages_stream.select("url", "warc_ts", "html", "text", "lang").mapInArrow(
        extract_arrow_batches, schema=EXTRACT_SCHEMA
    )


def crawl_minute_metrics(extracted_stream: DataFrame) -> DataFrame:
    """Watermarked windowed rollup: docs/chars/failures per minute of
    warc_ts, late data up to 1 hour."""
    return (
        extracted_stream.withWatermark("warc_ts", "1 hour")
        .groupBy(F.window("warc_ts", "1 minute").alias("w"), "lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_chars").alias("chars"),
            F.sum("parse_failed").alias("parse_failures"),
        )
        .select(
            F.col("w.start").alias("minute_start"), "lang", "docs", "chars", "parse_failures"
        )
    )


def run_available_now(
    spark: SparkSession, src_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    """Backfill run: process all pending files exactly once, then stop."""
    extracted = extract_stream(read_pages_stream(spark, src_dir))
    q = (
        extracted.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
