"""Pinned constants and SparkSession factory.

Every threshold that participates in a golden contract lives here so the
goldens stay stable (SURVEY.md §2.9.3).
"""

from __future__ import annotations

import os

# ── block segmentation / chunking (reference semantics) ─────────────────────
# Reference: /root/reference/src/main.ts:166 (MAX_BLOCKS_PER_REQUEST = 10;
# the comment says 5, the code says 10 — code wins, SURVEY.md §2 #8).
MAX_BLOCKS_PER_CHUNK = 10
# Block start prefix (src/main.ts:79) and end regex (src/main.ts:94).
BLOCK_START_PREFIX = "sucursal"
BLOCK_END_REGEX = r"\* total importe en la sucursal:\s*\d+(\.\d+)?"

# ── CSV serialization quirks (src/main.ts:39-56) ────────────────────────────
CSV_HEADER = "SucursalName,EAN,CantidadVendida,Importe"

# ── HTML boilerplate stripper (SURVEY.md §2.9 — pinned spec, graft-mandated) ─
HTML_LINK_RATIO_MAX = 0.33   # block is content iff link_text_ratio < this
HTML_MIN_CONTENT_WORDS = 10  # ... and words >= this
HTML_BLOCK_TAGS = frozenset(
    "p div h1 h2 h3 h4 h5 h6 li td th article section blockquote pre "
    "figcaption dd dt main aside header footer nav table tr ul ol".split()
)
HTML_DROP_TAGS = frozenset("script style noscript template svg iframe".split())

# ── scale layout ─────────────────────────────────────────────────────────────
# url-hash bucket count for partition layout. At 100 TB / ~10^12 docs this
# would be sized to keep each bucket's input < a few GB (e.g. 2^14 buckets);
# in the sandbox it is kept small so local runs don't create tiny tasks.
N_BUCKETS = int(os.environ.get("PTS_N_BUCKETS", "32"))
# ── adaptive small-scan spreading (plans/layout.spread_small_scan) ──────────
# Relations between MIN and MAX estimated bytes are round-robin
# repartitioned before CPU-heavy map stages (single-row-group parquet
# scans as ONE task regardless of split config). Below MIN the shuffle
# costs more than it recovers; above MAX the scan is already parallel
# and re-shuffling would be a payload shuffle — at 100 TB the helper is
# a structural no-op. One partition per TARGET bytes of source (est.),
# floor 8, cap 2x defaultParallelism. MIN is 128 KB (r7 re-measure:
# with the floor-8 partition count every kernel/fold-heavy query wins
# ~2x even at the 5k-doc scale — r6's "repartition slower at sf0.1"
# finding was about a blanket repartition(128); only the md5-cheap
# fingerprint paths lose, and those simply don't call the helper).
# The gate SFs (0.001/0.01, ~28 KB est.) stay below MIN → gate plans
# unchanged.
SPREAD_MIN_BYTES = 128 << 10
SPREAD_MAX_BYTES = 1 << 30
SPREAD_TARGET_BYTES = 96 << 10
# stats gate for persisting plan-fan-out band relations (operators/dedup
# _persist_if_large): below this estimated size the cache barrier costs
# more than recomputing both fan-out branches (measured r7 at 5k docs)
BAND_PERSIST_MIN_BYTES = 1 << 20
# Arrow batch budget: rows are megabyte-scale, so cap batch *bytes*, not rows.
ARROW_MAX_BATCH_BYTES = 32 << 20
ARROW_MAX_RECORDS_PER_BATCH = 256


def package_zip(out_dir: str | None = None) -> str:
    """Zip pdf_to_text_spark + tools into an engine.zip for --py-files.

    Mirrors the north-rule launch mode (`spark-submit --py-files
    dist/engine.zip`); build_spark ships it via addPyFile so executor
    Python workers can import the kernels wherever the job is driven from.
    """
    import pathlib
    import tempfile
    import zipfile

    repo = pathlib.Path(__file__).resolve().parent.parent
    out_dir = out_dir or tempfile.mkdtemp(prefix="pts_pyfiles_")
    zip_path = str(pathlib.Path(out_dir) / "engine.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for pkg in ("pdf_to_text_spark", "tools"):
            for p in sorted((repo / pkg).rglob("*.py")):
                zf.write(p, p.relative_to(repo))
    return zip_path


# SparkContexts already carrying this process's engine.zip (see ship
# guard in build_spark)
_SHIPPED_APPS: set = set()


def build_spark(app_name: str = "pdf_to_text_spark", master: str | None = None,
                shuffle_partitions: int | None = None, extra: dict | None = None):
    """SparkSession tuned for the extraction workload.

    local[*] in the sandbox; the same configs are what you'd pass to
    spark-submit on a real cluster (AQE, Arrow, byte-capped batches).
    """
    from pyspark.sql import SparkSession

    master = master or os.environ.get("PTS_MASTER", "local[*]")
    cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = max(32, cores)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Pin the session to UTC: mapInArrow hands warc_ts over in the
        # session time zone while the extraction kernel's schema carries
        # it as UTC (EXTRACT_ARROW_SCHEMA), so any other zone costs a
        # cast per batch; and a timestamp rendered as text (show, date
        # functions, string casts) reads the same on every machine
        .config("spark.sql.session.timeZone", "UTC")
        # megabyte-scale binary rows: keep Arrow batches small (SURVEY.md §4)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_MAX_RECORDS_PER_BATCH))
        .config("spark.sql.files.maxPartitionBytes", str(64 << 20))
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("PTS_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    ensure_shipped(spark)
    return spark


def ensure_shipped(spark) -> None:
    """Ship engine.zip to this session's executor Python workers
    (spark-submit --py-files equivalent), ONCE per SparkContext — THE
    single ship registry. getOrCreate can return an existing session,
    and re-adding a freshly-zipped engine.zip with different bytes under
    the same name makes executors fail the fetch ('file exists and does
    not match contents') (r5 review). Marked shipped only on SUCCESS so
    a failed addPyFile is retried on the next call."""
    try:
        key = spark.sparkContext.applicationId
    except Exception:
        key = id(spark.sparkContext)
    if key not in _SHIPPED_APPS:
        spark.sparkContext.addPyFile(package_zip())
        _SHIPPED_APPS.add(key)
