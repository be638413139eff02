"""The artifacts kernel as one Arrow crossing (udfs.doc_artifacts_batches),
without Spark: its schema, and one output row per input row equal to
kernels.blocks.doc_artifacts of that row's text, blocks included."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema

from pdf_to_text_spark.functions import udfs
from pdf_to_text_spark.kernels.blocks import doc_artifacts, records_to_csv
from pdf_to_text_spark.sources.pages import build_pages_pdf

PAGES_ARROW = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
TEXTS_ARROW = pa.schema([("url", pa.string()), ("extracted_text", pa.string())])


def test_arrow_schema_is_doc_artifacts_schema():
    assert to_arrow_schema(udfs.DOC_ARTIFACTS_SCHEMA) == udfs.DOC_ARTIFACTS_ARROW_SCHEMA


def _corpus_texts(n: int) -> list[tuple]:
    """(url, extracted_text) of corpus rows 0..n-1, through the extraction
    kernel."""
    df = build_pages_pdf(list(range(n)))
    table = pa.Table.from_pandas(df, schema=PAGES_ARROW, preserve_index=False)
    out = []
    for rb in udfs.extract_arrow_batches(iter(table.to_batches(max_chunksize=64))):
        out += zip(rb.column("url").to_pylist(), rb.column("extracted_text").to_pylist())
    return out


def test_arrow_body_equals_kernel_per_row():
    rows = _corpus_texts(300) + [
        ("https://example.org/null-text", None),
        (None, "Sucursal Sur\nEAN 779 cantidad 3 importe 4.5"),
        ("https://example.org/no-records", "no sucursal here"),
    ]
    table = pa.Table.from_pylist(
        [{"url": u, "extracted_text": t} for u, t in rows], schema=TEXTS_ARROW
    )
    got = []
    for rb in table.to_batches(max_chunksize=64):
        [out] = udfs.doc_artifacts_batches(iter([rb]))
        assert out.schema == udfs.DOC_ARTIFACTS_ARROW_SCHEMA
        assert out.num_rows == rb.num_rows  # one output row per input row
        got += zip(*(c.to_pylist() for c in out.columns))
    assert len(got) == len(rows)
    n_blocks = n_records = 0
    for (url, text), (got_url, recs, csv, js, blocks) in zip(rows, got):
        want_recs, want_csv, want_json, want_blocks = doc_artifacts(text)
        assert got_url == url
        assert (recs, csv, js) == (want_recs, want_csv, want_json), url
        assert [(b["block_pos"], b["block"], b["chunk_id"]) for b in blocks] == want_blocks, url
        n_blocks += len(blocks)
        n_records += len(recs)
    assert n_blocks > 0 and n_records > 0
    assert got[-3][1:] == ([], records_to_csv([]), "[]", [])  # NULL text
    assert got[-2][0] is None and len(got[-2][1]) == 1  # NULL url keeps its record
    assert got[-1][1:] == ([], records_to_csv([]), "[]", [])  # no records
