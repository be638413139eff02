"""pdf_to_text_spark — a PySpark-native web-scale extraction engine.

Re-expresses the dataflow of the reference (pierotech/pdf-to-text, a
Cloudflare-Worker per-request PDF→text→blocks→records→CSV pipeline; see
/root/reference/src/main.ts) as a batch DataFrame job over Common-Crawl-style
``pages`` tables, plus the curation (dedup) and text-analysis operators a
100 TB training-data pipeline needs.

Layout:
  kernels/    pure-Python extraction kernels (no Spark imports) — the byte
              contract; also used by tools/oracle_extract.py to pin goldens
  functions/  Arrow-batched Spark UDF wrappers around the kernels
  operators/  DataFrame-level operators (extraction, records, dedup,
              text analysis)
  sources/    synthetic pages-table generator + WARC ingress
  plans/      layout (url-hash buckets, small-scan spreading) +
              checkpoint/resume (Iceberg-style
              manifest emulation)

Importing the package installs ``_zipcache``: PySpark re-reads every zip
directory on ``sys.path`` before each Python task on CPython < 3.13, and
the installed method skips archives that have not changed.
"""

from pdf_to_text_spark import _zipcache

_zipcache.install()

__version__ = "0.1.0"
