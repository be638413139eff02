"""Arrow-batched Spark UDFs wrapping the pure-Python kernels.

Design rules (BASELINE.json input_hint: "no per-row Python"):
  * every UDF is a pandas/Arrow batch function — the JVM↔Python boundary
    is crossed once per batch, never per row;
  * extraction is one mapInArrow (extract_arrow_batches): each Arrow
    batch is read once into Python lists, url/warc_ts/lang pass through
    as Arrow arrays, and the kernel columns become Arrow arrays with no
    pandas round trip. extract_batches runs the same row loop over
    pandas frames for in-process replays;
  * extraction yields output in byte-capped slices (UTF-8 bytes of the
    text column) so a batch of megabyte PDFs can't blow the Arrow IPC
    buffer (SURVEY.md §4 "byte-capped batch yielding");
  * errors become per-row ``parse_status`` values, never task failures
    (reference #18 softened: a bad document must not kill a 100 TB job).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import ARROW_MAX_BATCH_BYTES
from ..kernels.blocks import doc_artifacts, segment_blocks
from ..kernels.html import HTMLParseFailed, extract_html_text
from ..kernels.pdf import (
    PDFEncryptedError,
    PDFParseError,
    PDFUnsupportedCMapError,
    extract_pdf_text,
)

# ── content-type dispatch (FIXTURES.md §1 derived column) ───────────────────


def content_type_col(url="url", html="html"):
    """application/pdf iff url ends .pdf AND bytes start %PDF-, else text/html.

    Pure built-in expression — stays inside WholeStageCodegen. THE single
    definition of the dispatch rule: operators.extraction.
    content_type_dispatch uses this expression and _extract_rows
    mirrors it row-wise (a NULL url with html bytes is text/html on both
    paths — r3 review pinned the two copies together).
    """
    is_pdf = F.col(url).endswith(".pdf") & (
        F.substring(F.col(html).cast("binary"), 1, 5) == F.lit(b"%PDF-")
    )
    return F.when(F.col(html).isNull(), F.lit(None).cast("string")).otherwise(
        F.when(is_pdf, F.lit("application/pdf")).otherwise(F.lit("text/html"))
    )


# ── extraction (mapInArrow, the heavy kernel) ────────────────────────────────

EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("extracted_text", T.StringType()),
        T.StructField("n_pages", T.IntegerType()),
        T.StructField("n_chars", T.LongType()),
        T.StructField("parse_status", T.StringType()),
        # ok|passthrough|empty|encrypted|unsupported_cmap|parse_failed
        T.StructField("parse_failed", T.IntegerType()),
    ]
)

# EXTRACT_SCHEMA as Arrow (pinned equal to pyspark's to_arrow_schema of it)
EXTRACT_ARROW_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("lang", pa.string()),
        ("content_type", pa.string()),
        ("extracted_text", pa.string()),
        ("n_pages", pa.int32()),
        ("n_chars", pa.int64()),
        ("parse_status", pa.string()),
        ("parse_failed", pa.int32()),
    ]
)


def _extract_one(html, text, is_pdf: bool) -> tuple[str, int, str, int]:
    """→ (extracted_text, n_pages, parse_status, parse_failed)."""
    if html is None:
        if text is not None:
            return text, 1, "passthrough", 0
        return "", 0, "empty", 0
    try:
        # avoid re-copying: Arrow hands us bytes already (memory bandwidth
        # is the scaling ceiling for this kernel)
        if not isinstance(html, bytes):
            html = bytes(html)
        if is_pdf:
            out, n_pages = extract_pdf_text(html)
            return out, n_pages, "ok", 0
        return extract_html_text(html), 1, "ok", 0
    except PDFEncryptedError:
        # distinct status: the document is structurally fine but ciphertext
        # (reference pdfjs would prompt for a password; batch jobs route
        # these rows to a re-crawl/decrypt queue, not the failure bucket)
        return "", 0, "encrypted", 1
    except PDFUnsupportedCMapError:
        # distinct status: the remaining CJK gap (predefined CID CMaps
        # without ToUnicode) stays countable instead of folding into
        # parse_failed — kernels/pdf.py module docstring
        return "", 0, "unsupported_cmap", 1
    except (PDFParseError, HTMLParseFailed):
        return "", 0, "parse_failed", 1
    except Exception:  # defensive: never kill the task
        return "", 0, "parse_failed", 1


def _extract_rows(urls, htmls, texts):
    """The kernel's row loop: one (content_type, extracted_text, n_pages,
    parse_status, parse_failed) per row."""
    for url, html, text in zip(urls, htmls, texts):
        # (url or ""): a NULL url must cost a text/html fallback, not
        # an AttributeError that fails the task (per-row error rule)
        is_pdf = bool(
            (url or "").endswith(".pdf") and html is not None and html[:5] == b"%PDF-"
        )
        ctype = None if html is None else ("application/pdf" if is_pdf else "text/html")
        yield (ctype, *_extract_one(html, text, is_pdf))


def _capped(rows):
    """Group the row loop into slices: a slice ends at the row that takes
    its text to ARROW_MAX_BATCH_BYTES.

    UTF-8 bytes, not code points (r5 review): CJK output — the whole
    point of the CMap decode paths — is ~3 bytes/char in the Arrow
    string buffer, so counting len(out) admitted ~3× the intended cap.
    The encode costs ~1 GB/s, noise next to the kernel it follows."""
    buf: list[tuple] = []
    buf_bytes = 0
    for r in rows:
        buf.append(r)
        buf_bytes += len(r[1].encode("utf-8", "replace"))
        if buf_bytes >= ARROW_MAX_BATCH_BYTES:
            yield buf
            buf = []
            buf_bytes = 0
    if buf:
        yield buf


def extract_arrow_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow kernel: pages batches → EXTRACT_ARROW_SCHEMA batches,
    byte-capped yields. url, warc_ts and lang pass through as Arrow
    slices (cast only where the session hands another type, e.g. a
    non-UTC session time zone)."""
    passthrough = [EXTRACT_ARROW_SCHEMA.field(c) for c in ("url", "warc_ts", "lang")]
    for b in batches:
        keep = []
        for f in passthrough:
            col = b.column(f.name)
            keep.append(col if col.type == f.type else col.cast(f.type))
        start = 0
        rows = _extract_rows(
            keep[0].to_pylist(), b.column("html").to_pylist(), b.column("text").to_pylist()
        )
        for part in _capped(rows):
            k = len(part)
            ctypes, outs, n_pages, statuses, failed = zip(*part)
            yield pa.RecordBatch.from_arrays(
                [
                    *(col.slice(start, k) for col in keep),
                    pa.array(ctypes, pa.string()),
                    pa.array(outs, pa.string()),
                    pa.array(n_pages, pa.int32()),
                    pa.array([len(o) for o in outs], pa.int64()),
                    pa.array(statuses, pa.string()),
                    pa.array(failed, pa.int32()),
                ],
                schema=EXTRACT_ARROW_SCHEMA,
            )
            start += k


def extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """extract_arrow_batches' row loop and byte cap over pandas frames
    (pages columns in, EXTRACT_SCHEMA columns out), for in-process
    replays of the kernel without Spark."""
    cols = EXTRACT_SCHEMA.fieldNames()
    for b in batches:
        meta = zip(b["url"].tolist(), b["warc_ts"].tolist(), b["lang"].tolist())
        rows = _extract_rows(b["url"].tolist(), b["html"].tolist(), b["text"].tolist())
        for part in _capped(rows):
            # part first: zip stops on it without drawing from meta
            yield pd.DataFrame(
                [
                    (url, ts, lang, ctype, out, n_pages, len(out), status, failed)
                    for (ctype, out, n_pages, status, failed), (url, ts, lang)
                    in zip(part, meta)
                ],
                columns=cols,
            )


# ── segmentation / per-document artifacts ───────────────────────────────────


@F.pandas_udf(T.ArrayType(T.StringType()))
def segment_blocks_udf(texts: pd.Series) -> pd.Series:
    """extracted_text → ordered Sucursal block array (src/main.ts:70-109)."""
    return texts.map(lambda t: segment_blocks(t) if t else [])


DOC_ARTIFACTS_SCHEMA = (
    "url string, records array<struct<chunk_id int, block_pos int, record_pos int, "
    "SucursalName string, EAN string, CantidadVendida string, Importe string>>, "
    "csv string, json string"
)


def doc_artifacts_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (url, extracted_text) rows → one
    (url, records, csv, json) row each (kernels.blocks.doc_artifacts)."""
    for b in batches:
        out = [doc_artifacts(t) for t in b["extracted_text"].tolist()]
        yield pd.DataFrame(
            {
                "url": b["url"],
                "records": [o[0] for o in out],
                "csv": [o[1] for o in out],
                "json": [o[2] for o in out],
            }
        )
