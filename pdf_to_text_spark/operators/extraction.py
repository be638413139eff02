"""The extraction pipeline: pages → extracted text + metrics.

Spark-first restatement of the reference's /upload dataflow
(src/main.ts:133-263): scan → Arrow-batched extraction kernel over the
scan splits → keep the newest crawl per url → metrics rollup.
Everything before and after the one mapInArrow stage is built-in
Catalyst expressions (pushdown/pruning-friendly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import N_BUCKETS
from ..functions.udfs import EXTRACT_SCHEMA, content_type_col, extract_arrow_batches
from ..plans.layout import with_bucket

PAGES_COLS = ["url", "warc_ts", "html", "text", "lang"]


def dedup_latest_by_url(df: DataFrame) -> DataFrame:
    """Keep the newest crawl per url (Common-Crawl inputs repeat urls).

    row_number over (url ORDER BY warc_ts DESC) == 1 — SURVEY.md §2.1.
    Spark sorts NULLs last in descending order, so a timestamp-less crawl
    loses to any dated one; an exact (url, warc_ts) tie keeps one of the
    tied rows, and NULL urls group together like any other key. Works on
    any frame with `url` and `warc_ts`: run_extraction applies it to the
    extracted rows, so its one hash-shuffle on url carries kilobyte rows,
    never page payloads.
    """
    w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def dup_url_stats(pages: DataFrame) -> DataFrame:
    """Per-duplicated-url stats: (url, _max_ts, _n, _tie_free).

    A stats helper for reporting how many urls a corpus repeats; it is
    not on the extraction path (run_extraction dedups with
    dedup_latest_by_url after the kernel). Built from only (url,
    warc_ts), so over parquet it is a tiny-column scan and one keyed
    aggregation with map-side partials. Rows come back only for urls
    with more than one crawl. _max_ts is the newest warc_ts (F.max skips
    NULLs). _tie_free is true when every crawl of the url has a distinct
    timestamp (countDistinct skips NULLs; at most one NULL keeps it
    tie-free)."""
    n_null = F.sum(F.when(F.col("warc_ts").isNull(), 1).otherwise(0))
    agg = (
        pages.select("url", "warc_ts")
        .groupBy("url")
        .agg(
            F.max("warc_ts").alias("_max_ts"),
            F.count(F.lit(1)).alias("_n"),
            (
                F.countDistinct("warc_ts") + F.least(n_null, F.lit(1))
                == F.count(F.lit(1))
            ).alias("_tie_free"),
        )
    )
    return agg.where(F.col("_n") > 1).select("url", "_max_ts", "_n", "_tie_free")


def run_extraction(
    pages: DataFrame,
    *,
    dedup: bool = True,
    n_buckets: int | None = None,
) -> DataFrame:
    """pages → extracted (url, warc_ts, lang, content_type, extracted_text,
    n_pages, n_chars, parse_status, parse_failed, bucket, partition_id).

    Returns a lazy plan: the call itself launches no Spark job.

    Scale-critical ordering: NEVER shuffle raw payloads. The kernel maps
    directly over the size-bounded scan splits (maxPartitionBytes already
    caps task input, which is what balances megabyte-PDF skew at the
    scan). With `dedup` (the default) dedup_latest_by_url then keeps the
    newest crawl per url over the extracted rows: the one shuffle carries
    derived rows (~100-1000× smaller than payloads), at the cost of
    extracting the ~2% of superseded crawls too.

    `n_buckets` overrides the bucket-column modulus (default
    config.N_BUCKETS) — callers that partition work by a custom bucket
    count (run_resumable_extraction) must pass it here too, or the
    output/metrics `bucket` column would silently disagree with their
    wave filtering.
    """
    nb = N_BUCKETS if n_buckets is None else n_buckets
    extracted = pages.select(*PAGES_COLS).mapInArrow(
        extract_arrow_batches, schema=EXTRACT_SCHEMA
    )
    extracted = extracted.withColumn("partition_id", F.spark_partition_id())
    if dedup:
        extracted = dedup_latest_by_url(extracted)
    # bucket is recomputed (cheap, deterministic) rather than shipped
    # through the Python worker.
    return with_bucket(extracted, n_buckets=nb)


def metrics_rollup(extracted: DataFrame) -> DataFrame:
    """Per-bucket extraction metrics (north_star: pages, chars, failures).

    Partial aggregation happens map-side (built-in hash agg), so the
    shuffle carries one row per (partition, bucket).
    """
    return extracted.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_pages").alias("pages"),
        F.sum("n_chars").alias("chars"),
        F.sum("parse_failed").alias("parse_failures"),
        F.sum(F.when(F.col("parse_status") == "passthrough", 1).otherwise(0)).alias(
            "passthrough_docs"
        ),
        F.sum(F.when(F.col("parse_status") == "empty", 1).otherwise(0)).alias("empty_docs"),
        F.countDistinct("partition_id").alias("n_tasks"),
    )


def content_type_dispatch(pages: DataFrame) -> DataFrame:
    """Pure-projection content-type classification (SURVEY §2 #2/#16).

    Built-in expressions only — exercises pushdown/codegen, used by the
    driver oracle checks as a SQL-expressible stand-in for the UDF path.
    """
    return pages.select(
        "url",
        content_type_col().alias("content_type"),
        F.when(F.col("html").isNull() & F.col("text").isNull(), 1)
        .otherwise(0)
        .alias("is_empty"),
    )
