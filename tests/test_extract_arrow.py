"""The extraction kernel as one Arrow crossing (udfs.extract_arrow_batches),
without Spark: its schema, its byte cap and its equivalence with the
pandas seam (udfs.extract_batches) that in-process replays call."""

from __future__ import annotations

import datetime as dt
import pathlib

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from pdf_to_text_spark.functions import udfs
from pdf_to_text_spark.sources.pages import build_pages_pdf

GOLDEN_PDF = (pathlib.Path(__file__).parent / "golden" / "sucursal_report.pdf").read_bytes()

PAGES_ARROW = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])


def _arrow_rows(batches) -> list[tuple]:
    out = []
    for rb in udfs.extract_arrow_batches(iter(batches)):
        assert rb.schema == udfs.EXTRACT_ARROW_SCHEMA
        out += zip(*(c.to_pylist() for c in rb.columns))
    return out


def _pandas_rows(frames) -> list[tuple]:
    return [tuple(r) for df in udfs.extract_batches(iter(frames))
            for r in df.itertuples(index=False, name=None)]


def test_arrow_schema_is_extract_schema():
    assert to_arrow_schema(udfs.EXTRACT_SCHEMA) == udfs.EXTRACT_ARROW_SCHEMA


def test_arrow_kernel_equals_pandas_seam_on_the_corpus():
    df = build_pages_pdf(list(range(300)))
    frames = [df[s:s + 64] for s in range(0, len(df), 64)]
    table = pa.Table.from_pandas(df, schema=PAGES_ARROW, preserve_index=False)
    got = _arrow_rows(table.to_batches(max_chunksize=64))
    want = _pandas_rows(frames)
    assert len(got) == len(want) == len(df)
    # timestamps compare as instants: pandas Timestamps on one side,
    # tz-aware datetimes on the other
    assert [(r[0], pd.Timestamp(r[1]), *r[2:]) for r in got] == \
           [(r[0], pd.Timestamp(r[1]), *r[2:]) for r in want]
    statuses = {r[7] for r in got}
    assert {"ok", "passthrough"} <= statuses


def _cjk_rows(n: int) -> list[dict]:
    return [{"url": f"https://example.org/{i}", "warc_ts": dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc),
             "html": None, "text": "漢字かな" * (50 + 37 * (i % 7)), "lang": "ja"}
            for i in range(n)]


def test_byte_cap_counts_utf8_bytes(monkeypatch):
    """Every yielded batch stays within the cap plus the one row that
    crosses it, counted in UTF-8 bytes: CJK text is 3 bytes a character,
    so a code-point count would let batches run to 3× the cap."""
    cap = 4096
    monkeypatch.setattr(udfs, "ARROW_MAX_BATCH_BYTES", cap)
    rows = _cjk_rows(120)
    rb = pa.RecordBatch.from_pylist(rows, schema=PAGES_ARROW)
    sizes = []
    n = 0
    for out in udfs.extract_arrow_batches(iter([rb])):
        texts = out.column("extracted_text").to_pylist()
        b = [len(t.encode("utf-8")) for t in texts]
        assert sum(b) - b[-1] < cap, b
        assert out.column("parse_status").to_pylist() == ["passthrough"] * len(texts)
        sizes.append(len(texts))
        n += len(texts)
    assert n == len(rows) and len(sizes) > 10
    frames = [pd.DataFrame(rows)]
    assert [len(df) for df in udfs.extract_batches(iter(frames))] == sizes


def test_passthrough_columns_cast_to_the_schema():
    """A session time zone other than UTC, or large string types, reach
    the kernel as other Arrow types; the output keeps the instant and
    the declared schema."""
    rows = _cjk_rows(3)
    schema = pa.schema([
        ("url", pa.large_string()), ("warc_ts", pa.timestamp("us", tz="America/New_York")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.large_string()),
    ])
    got = _arrow_rows([pa.RecordBatch.from_pylist(rows, schema=schema)])
    assert [r[1] for r in got] == [r["warc_ts"] for r in rows]
    assert [r[0] for r in got] == [r["url"] for r in rows]


@pytest.mark.parametrize("empty", [True, False])
def test_empty_and_null_rows(empty):
    rows = [{"url": None, "warc_ts": None, "html": b"<p>x</p>", "text": None, "lang": None},
            {"url": "u.pdf", "warc_ts": None, "html": b"%PDF-1.4 junk", "text": None, "lang": "en"},
            {"url": "v", "warc_ts": None, "html": None, "text": None, "lang": None}]
    rb = pa.RecordBatch.from_pylist([] if empty else rows, schema=PAGES_ARROW)
    got = _arrow_rows([rb])
    if empty:
        assert got == []
        return
    assert [(r[3], r[7], r[8]) for r in got] == [
        ("text/html", "ok", 0), ("application/pdf", "parse_failed", 1), (None, "empty", 0)]
    assert _pandas_rows([pd.DataFrame(rows)]) == got


# The content-type rule (udfs._extract_rows, its one definition):
# application/pdf iff the url ends ".pdf" AND the bytes start "%PDF-",
# NULL without bytes, else text/html — and the kind picks the kernel.
@pytest.mark.parametrize(
    "url,html,text,want",
    [
        ("a.pdf", GOLDEN_PDF, None, ("application/pdf", 3, "ok", 0)),
        ("a.pdf", b"%PDF-1.4 junk", None, ("application/pdf", 0, "parse_failed", 1)),
        ("a.html", GOLDEN_PDF, None, ("text/html", 1, "ok", 0)),
        (None, GOLDEN_PDF, None, ("text/html", 1, "ok", 0)),
        ("a.PDF", GOLDEN_PDF, None, ("text/html", 1, "ok", 0)),      # suffix is case-sensitive
        ("a.pdf?x=1", GOLDEN_PDF, None, ("text/html", 1, "ok", 0)),  # so is "ends with"
        ("a.pdf", b" " + GOLDEN_PDF, None, ("text/html", 1, "ok", 0)),
        ("a.pdf", b"%PDF", None, ("text/html", 1, "ok", 0)),
        ("a.pdf", b"<p>hi</p>", None, ("text/html", 1, "ok", 0)),
        ("a.pdf", b"", None, ("text/html", 1, "ok", 0)),             # empty bytes are not NULL
        ("a.pdf", None, "pre-extracted", (None, 1, "passthrough", 0)),
        ("a.pdf", None, None, (None, 0, "empty", 0)),
    ],
    ids=["pdf", "pdf-junk", "html-url", "null-url", "upper-suffix", "query-suffix",
         "lead-space", "short-magic", "html-bytes", "empty-bytes", "passthrough", "empty"],
)
def test_content_type_rule(url, html, text, want):
    rows = [{"url": url, "warc_ts": None, "html": html, "text": text, "lang": None}]
    got = _arrow_rows([pa.RecordBatch.from_pylist(rows, schema=PAGES_ARROW)])
    assert [(r[3], r[5], r[7], r[8]) for r in got] == [want]
    # the kind picks the kernel, whatever the bytes hold
    if want[0] == "text/html":
        assert got[0][4] == udfs.extract_html_text(html)
    elif want[2] == "ok":
        assert got[0][4] == udfs.extract_pdf_text(html)[0]
