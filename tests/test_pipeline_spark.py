"""End-to-end Spark pipeline tests — the golden contract on DataFrames.

SURVEY.md §7.2: synthetic pages table → extraction → byte-identical
`extracted_text` per url vs the frozen oracle; plus the downstream
blocks/chunks/records/CSV dataflow and the metrics rollup.
"""

import datetime as dt
import pathlib

import pytest
from pyspark.sql import functions as F

from pdf_to_text_spark.kernels.blocks import (
    chunk_blocks,
    parse_records,
    records_to_csv,
    records_to_pretty_json,
    segment_blocks,
)
from pdf_to_text_spark.operators.extraction import (
    content_type_dispatch,
    dedup_latest_by_url,
    metrics_rollup,
    run_extraction,
)
from pdf_to_text_spark.operators.records import (
    blocks_df,
    chunks_df,
    csv_documents,
    json_documents,
    records_df,
    with_chunk_id,
)
from pdf_to_text_spark.sources.pages import PAGES_SCHEMA, build_pages_pdf, pages_df
from tools.oracle_extract import extract_any

GOLDEN = pathlib.Path(__file__).parent / "golden"
N_TEST_ROWS = 200


@pytest.fixture(scope="module")
def pages(spark):
    return pages_df(spark, N_TEST_ROWS, num_partitions=8).cache()


@pytest.fixture(scope="module")
def extracted(pages):
    return run_extraction(pages).cache()


def test_pages_shape(pages):
    rows = pages.count()
    assert rows > N_TEST_ROWS  # dup urls add rows
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]


def test_extraction_byte_identical_vs_oracle(pages, extracted):
    """THE golden invariant: per-url byte-identical text vs the frozen oracle."""
    inputs = {
        r["url"]: (r["html"], r["text"])
        for r in dedup_latest_by_url(pages).collect()
    }
    got = {r["url"]: r for r in extracted.collect()}
    assert set(got) == set(inputs)
    checked_pdf = checked_html = 0
    for url, (html, text) in inputs.items():
        row = got[url]
        if html is None:
            want = text if text is not None else ""
        else:
            is_pdf = url.endswith(".pdf") and bytes(html[:5]) == b"%PDF-"
            want, _, failed = extract_any(bytes(html), "application/pdf" if is_pdf else "text/html")
            if is_pdf:
                checked_pdf += 1
            else:
                checked_html += 1
            assert row["parse_failed"] == failed, url
        assert row["extracted_text"].encode() == want.encode(), f"byte mismatch for {url}"
    assert checked_pdf > 20 and checked_html > 50


def test_golden_fixture_files_through_spark(spark):
    """The committed golden corpus itself, pushed through the Spark path."""
    rows = []
    for src in sorted(GOLDEN.iterdir()):
        if src.suffix in (".pdf", ".html"):
            url = f"https://golden/{src.stem}{'.pdf' if src.suffix == '.pdf' else '.html'}"
            rows.append((url, dt.datetime(2024, 1, 1), src.read_bytes(), None, "en"))
    df = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    out = {r["url"]: r["extracted_text"] for r in run_extraction(df, dedup=False).collect()}
    for src in sorted(GOLDEN.iterdir()):
        if src.suffix in (".pdf", ".html"):
            url = f"https://golden/{src.stem}{src.suffix}"
            want = src.with_suffix(".txt").read_bytes()
            assert out[url].encode() == want, src.name


def test_dedup_keeps_latest(spark):
    df = spark.createDataFrame(
        [
            ("u1", dt.datetime(2024, 1, 1), b"old", None, "en"),
            ("u1", dt.datetime(2024, 1, 2), b"new", None, "en"),
            ("u2", dt.datetime(2024, 1, 1), b"only", None, "en"),
        ],
        schema=PAGES_SCHEMA,
    )
    out = {r["url"]: bytes(r["html"]) for r in dedup_latest_by_url(df).collect()}
    assert out == {"u1": b"new", "u2": b"only"}


def test_parse_status_accounting(extracted, pages):
    stats = {r["parse_status"]: r["cnt"] for r in
             extracted.groupBy("parse_status").agg(F.count("*").alias("cnt")).collect()}
    assert stats.get("parse_failed", 0) >= 1   # corrupt PDFs present
    assert stats.get("passthrough", 0) >= 1    # pre-extracted text rows
    assert stats.get("empty", 0) >= 1          # null html+text rows
    assert stats["ok"] > 100


def test_metrics_rollup(extracted):
    m = metrics_rollup(extracted)
    total = m.agg(
        F.sum("docs").alias("docs"), F.sum("parse_failures").alias("fails")
    ).collect()[0]
    assert total["docs"] == extracted.count()
    assert total["fails"] >= 1
    assert m.count() <= 32  # one row per bucket


def test_content_type_dispatch(pages):
    out = content_type_dispatch(pages)
    kinds = {r["content_type"] for r in out.collect()}
    assert kinds == {"application/pdf", "text/html", None}


def test_blocks_chunks_records_csv_match_kernel(spark):
    """Downstream dataflow vs the pure-Python kernel on the sucursal fixture."""
    pdf = (GOLDEN / "sucursal_report.pdf").read_bytes()
    text, _, _ = extract_any(pdf, "application/pdf")
    url = "https://golden/sucursal_report.pdf"
    df = spark.createDataFrame(
        [(url, dt.datetime(2024, 1, 1), pdf, None, "es")], schema=PAGES_SCHEMA
    )
    extracted = run_extraction(df, dedup=False)

    # blocks
    want_blocks = segment_blocks(text)
    blocks = blocks_df(extracted)
    got_blocks = [r["block"] for r in blocks.orderBy("block_pos").collect()]
    assert got_blocks == want_blocks
    assert len(want_blocks) == 26  # 25 terminated + 1 trailing unterminated

    # chunks: 26 blocks → 10/10/6
    bc = with_chunk_id(blocks)
    chunks = {r["chunk_id"]: r for r in chunks_df(bc).collect()}
    want_chunks = chunk_blocks(want_blocks)
    assert [chunks[i]["n_blocks"] for i in sorted(chunks)] == [len(c) for c in want_chunks]
    for i, wc in enumerate(want_chunks):
        assert chunks[i]["chunk_text"] == "\n\n".join(wc)

    # records
    recs = records_df(bc)
    want_recs = [r for b in want_blocks for r in parse_records(b)]
    got_recs = [
        {k: r[k] for k in ("SucursalName", "EAN", "CantidadVendida", "Importe")}
        for r in recs.orderBy("chunk_id", "block_pos", "record_pos").collect()
    ]
    assert got_recs == want_recs
    assert len(want_recs) > 25

    # csv document — byte-identical to the kernel serializer
    got_csv = csv_documents(recs).collect()[0]["csv"]
    assert got_csv == records_to_csv(want_recs)
    assert not got_csv.endswith("\n")

    # json document — byte-identical pretty format
    got_json = json_documents(recs).collect()[0]["json"]
    assert got_json == records_to_pretty_json(want_recs)


def test_csv_header_only_for_zero_record_urls(spark):
    """The reference emits one CSV per upload — header-only when no
    records parsed (main.ts:55). csv_documents(urls=...) restores that
    (ADVICE r1): urls absent from the record relation coalesce to the
    bare header, matching the kernel's records_to_csv([])."""
    recs = spark.createDataFrame(
        [("u1", 0, 0, 0, "A", "1", "2", "3.5")],
        "url string, chunk_id int, block_pos int, record_pos int, "
        "SucursalName string, EAN string, CantidadVendida string, Importe string",
    )
    urls = spark.createDataFrame([("u1",), ("u2",)], "url string")
    out = {r["url"]: r["csv"] for r in csv_documents(recs, urls=urls).collect()}
    assert set(out) == {"u1", "u2"}
    assert out["u2"] == records_to_csv([])  # 'HEADER\n'
    assert out["u1"].startswith("SucursalName,EAN,CantidadVendida,Importe\n\"A\"")
    # without a url universe, behavior is unchanged (records-only grouping)
    assert {r["url"] for r in csv_documents(recs).collect()} == {"u1"}


def test_csv_kernel_jvm_parity_at_boundaries(spark):
    """The JVM CSV path (format_string %.2f + try_cast) and the Python
    kernel serializer must agree bit-for-bit — including shortest-repr
    half-up ties (1.005→1.01, 2.675→2.68) and Infinity literals."""
    values = [
        ("A", "1", "7", "1.005"), ("B", "2", "xx", "2.675"),
        ("C", "3", "-5", "Infinity"), ("D", "4", "0", "-Infinity"),
        ("E", "5", "3.9", "-1.125"), ("F", "6", "1", "junk"),
        # r3 review: JS `||0` swallows -0 (never "-0.00"); NBSP is
        # whitespace to str.strip()/parseFloat but not Java \s; ints
        # beyond Long range must keep full digits (kernel = Python int)
        ("G", "7", "-0", "-0"), ("H", "8", "\u00a042", "\u00a0-0.0e9"),
        ("I", "9", "9223372036854775808", " .5"),
    ]
    rows = [("u", 0, 0, i) + v for i, v in enumerate(values)]
    df = spark.createDataFrame(
        rows,
        "url string, chunk_id int, block_pos int, record_pos int, "
        "SucursalName string, EAN string, CantidadVendida string, Importe string",
    )
    got = csv_documents(df).collect()[0]["csv"]
    want = records_to_csv(
        [dict(zip(("SucursalName", "EAN", "CantidadVendida", "Importe"), v))
         for v in values]
    )
    assert got == want


def test_local1_equals_local4(spark, pages):
    """Layout independence: the result must not depend on how the input
    is split into kernel tasks."""
    a = run_extraction(pages.repartition(13))
    b = run_extraction(pages)
    ha = a.select("url", "extracted_text", "parse_status").exceptAll(
        b.select("url", "extracted_text", "parse_status")
    )
    assert ha.count() == 0
    assert a.count() == b.count()


def test_json_documents_renders_null_fields(spark):
    """JSON.stringify renders missing/None fields as `"key": null`; Spark's
    to_json default silently DROPS null struct fields — pinned here so
    nullable records (e.g. LLM-ingested) keep stringify parity (r3 review)."""
    recs = spark.createDataFrame(
        [("u1", 0, 0, 0, "A", None, "2", None)],
        "url string, chunk_id int, block_pos int, record_pos int, "
        "SucursalName string, EAN string, CantidadVendida string, Importe string",
    )
    got = json_documents(recs).collect()[0]["json"]
    want = records_to_pretty_json(
        [{"SucursalName": "A", "EAN": None, "CantidadVendida": "2", "Importe": None}]
    )
    assert got == want
    assert '"EAN": null' in got


def test_null_url_rows_extract_not_crash(spark):
    """A NULL url must cost a text/html fallback row, not an
    AttributeError that fails the task (r3 review)."""
    from tools.make_html import article_page

    html = article_page(7, n_paras=4, para_words=30).encode()
    df = spark.createDataFrame(
        [(None, dt.datetime(2024, 1, 1), html, None, "en")],
        schema=PAGES_SCHEMA,
    )
    rows = run_extraction(df, dedup=False).collect()
    assert len(rows) == 1 and rows[0]["content_type"] == "text/html"
    assert rows[0]["parse_status"] == "ok" and rows[0]["n_chars"] > 100


# ── keep-newest-per-url inside run_extraction ───────────────────────────────


def test_dedup_matches_window_oracle(spark, pages):
    """run_extraction keeps the newest crawl per url AFTER the kernel; it
    must equal extracting the window-deduped pages — same urls, same
    surviving warc_ts, same text, pages and status, one row per url."""
    cols = ["url", "warc_ts", "extracted_text", "n_pages", "parse_status"]
    a = run_extraction(pages).select(*cols)
    b = run_extraction(dedup_latest_by_url(pages), dedup=False).select(*cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert a.count() == b.count() == pages.select("url").distinct().count()


def test_dedup_prefilter_keeps_latest_and_null_ts(spark):
    """Crafted edges: newest wins; NULL warc_ts loses to any real
    timestamp (desc-nulls-last); an all-NULL-ts singleton url survives
    untouched."""
    df = spark.createDataFrame(
        [
            ("u1", dt.datetime(2024, 1, 1), b"old", None, "en"),
            ("u1", dt.datetime(2024, 1, 3), b"new", None, "en"),
            ("u1", None, b"no-ts", None, "en"),
            ("u2", None, b"only-null-ts", None, "en"),
            ("u3", dt.datetime(2024, 1, 1), b"single", None, "en"),
        ],
        schema=PAGES_SCHEMA,
    )
    rows = run_extraction(df).collect()
    got = {r["url"]: r["warc_ts"] for r in rows}
    assert len(rows) == len(got) == 3
    assert got["u1"] == dt.datetime(2024, 1, 3)
    assert got == {r["url"]: r["warc_ts"] for r in dedup_latest_by_url(df).collect()}


def test_dedup_exact_tie_routes_to_window(spark):
    """An exact (url, warc_ts) collision still keeps exactly one row per
    url, through the window."""
    df = spark.createDataFrame(
        [
            ("u1", dt.datetime(2024, 1, 2), b"tie-a", None, "en"),
            ("u1", dt.datetime(2024, 1, 2), b"tie-b", None, "en"),
            ("u2", dt.datetime(2024, 1, 1), b"x", None, "en"),
        ],
        schema=PAGES_SCHEMA,
    )
    out = run_extraction(df)
    assert sorted(r["url"] for r in out.collect()) == ["u1", "u2"]
    assert "Window" in out._jdf.queryExecution().executedPlan().toString()


def test_dedup_duplicated_null_url_routes_to_window(spark):
    """A duplicated NULL url groups like any other key in the window —
    one survivor, the newest."""
    df = spark.createDataFrame(
        [
            (None, dt.datetime(2024, 1, 1), b"a", None, "en"),
            (None, dt.datetime(2024, 1, 2), b"b", None, "en"),
        ],
        schema=PAGES_SCHEMA,
    )
    out = run_extraction(df).collect()
    assert len(out) == 1 and out[0]["warc_ts"] == dt.datetime(2024, 1, 2)


def test_html_roundtrip_fused_matches_unfused(spark):
    """The r7 fused html_roundtrip_extract (wrap + extract in ONE Python
    stage) must equal the unfused wrap_documents_as_pages →
    run_extraction composition row-for-row, including the edge rows the
    wrap/escape/url-recovery rules exist for: markup chars, entities,
    NULL and empty text, and a negative doc_id (which the unfused path
    maps to a NULL doc_id via its url regexp)."""
    from pdf_to_text_spark.operators.extraction import (
        html_roundtrip_extract,
        run_extraction,
        wrap_documents_as_pages,
    )

    docs = spark.createDataFrame(
        [
            (1, "plain words only here today", "en"),
            (2, "markup <b>bold</b> & entities &amp; kept", "en"),
            (3, None, "en"),
            (4, "", "en"),
            (5, "multi\nline\ntext with  double  spaces", "de"),
            (-6, "negative id row", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    fused = {
        r["doc_id"]: r["extracted_text"]
        for r in html_roundtrip_extract(docs).collect()
    }
    unfused_df = run_extraction(wrap_documents_as_pages(docs), dedup=False).select(
        F.regexp_extract("url", r"/(\d+)\.html$", 1).try_cast("long").alias("doc_id"),
        "extracted_text",
    )
    unfused = {r["doc_id"]: r["extracted_text"] for r in unfused_df.collect()}
    assert fused == unfused
