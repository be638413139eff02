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
    doc_artifacts,
    parse_records,
    records_to_csv,
    records_to_pretty_json,
    segment_blocks,
)
from pdf_to_text_spark.operators.extraction import (
    dedup_latest_by_url,
    metrics_rollup,
    run_extraction,
)
from pdf_to_text_spark.operators.records import blocks_df
from pdf_to_text_spark.pipeline import artifacts_from_extracted
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


def test_content_type_dispatch(extracted):
    kinds = {r["content_type"] for r in extracted.select("content_type").distinct().collect()}
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

    # chunk ids: block_pos // 10, so 26 blocks → 10/10/6
    bc = blocks.collect()
    assert all(r["chunk_id"] == r["block_pos"] // 10 for r in bc)
    assert sorted(r["chunk_id"] for r in bc) == [0] * 10 + [1] * 10 + [2] * 6

    # records, csv and json through the per-document pass
    art = artifacts_from_extracted(extracted)
    want_recs = [r for b in want_blocks for r in parse_records(b)]
    got = art["records"].orderBy("chunk_id", "block_pos", "record_pos").collect()
    assert [
        {k: r[k] for k in ("SucursalName", "EAN", "CantidadVendida", "Importe")}
        for r in got
    ] == want_recs
    assert len(want_recs) > 25
    # the ordinals are the reference's chunk-sequential order (main.ts:166)
    assert [(r["chunk_id"], r["block_pos"]) for r in got] == [
        (i // 10, i) for i, b in enumerate(want_blocks) for _ in parse_records(b)
    ]

    # csv document — byte-identical to the kernel serializer
    got_csv = art["csv_docs"].collect()[0]["csv"]
    assert got_csv == records_to_csv(want_recs)
    assert not got_csv.endswith("\n")

    # json document — byte-identical pretty format
    got_json = art["json_docs"].collect()[0]["json"]
    assert got_json == records_to_pretty_json(want_recs)


def _text_rows(spark, rows):
    """(url, text) → extracted rows: passthrough pages whose text is the
    extracted_text as-is."""
    df = spark.createDataFrame(
        [(u, dt.datetime(2024, 1, 1), None, t, "es") for u, t in rows],
        schema=PAGES_SCHEMA,
    )
    return run_extraction(df, dedup=False)


def test_doc_artifacts_pass_matches_kernel_per_row(spark):
    """Every extracted row's records, CSV and JSON equal
    kernels.blocks.doc_artifacts of its text — the header-only CSV and
    no json_docs row for a text without records included."""
    extracted = run_extraction(pages_df(spark, 120, num_partitions=4)).cache()
    try:
        art = artifacts_from_extracted(extracted)
        texts = {r["url"]: r["extracted_text"] for r in extracted.collect()}
        recs: dict = {}
        for r in art["records"].collect():
            d = r.asDict()
            recs.setdefault(d.pop("url"), []).append(d)
        csvs = {r["url"]: r["csv"] for r in art["csv_docs"].collect()}
        jsons = {r["url"]: r["json"] for r in art["json_docs"].collect()}
        assert set(csvs) == set(texts)
        n_with = 0
        for url, text in texts.items():
            want_recs, want_csv, want_json, _ = doc_artifacts(text)
            got_recs = sorted(
                recs.get(url, []),
                key=lambda d: (d["chunk_id"], d["block_pos"], d["record_pos"]),
            )
            assert got_recs == want_recs, url
            assert csvs[url] == want_csv, url
            if want_recs:
                n_with += 1
                assert jsons[url] == want_json, url
            else:
                assert url not in jsons and want_json == "[]", url
        assert 0 < n_with < len(texts)
        assert len(jsons) == n_with
    finally:
        extracted.unpersist()


def test_null_url_document_keeps_its_csv_rows(spark):
    """A document with a NULL url gets its own records in csv_docs, the
    same ones its json_docs row holds — not a header-only CSV."""
    text = "Sucursal Sur\nEAN 779 cantidad 3 importe 4.5"
    art = artifacts_from_extracted(_text_rows(spark, [(None, text)]))
    want_recs, want_csv, want_json, _ = doc_artifacts(text)
    assert len(want_recs) == 1
    [csv_row] = art["csv_docs"].collect()
    [json_row] = art["json_docs"].collect()
    assert csv_row["url"] is None and csv_row["csv"] == want_csv
    assert want_csv.endswith('"Sucursal Sur","779",3,4.50')
    assert json_row["url"] is None and json_row["json"] == want_json
    assert art["records"].count() == 1


def test_csv_boundary_values_through_spark_pass(spark):
    """CSV coercion at its edges, from record lines parse_records can
    produce: shortest-repr half-up ties (1.005→1.01, 2.675→2.68),
    Infinity literals, junk → 0, -0 → 0 (JS `||0`), a bare leading '.',
    and integers past Long range and past 38 digits keeping every digit."""
    values = [
        ("1", "7", "1.005"), ("2", "xx", "2.675"), ("3", "-5", "Infinity"),
        ("4", "0", "-Infinity"), ("5", "3.9", "-1.125"), ("6", "1", "junk"),
        ("7", "-0", "-0"), ("8", "42", "-0.0e9"),
        ("9", "9223372036854775808", ".5"), ("10", "1" * 40, "7"),
    ]
    text = "Sucursal Borde\n" + "\n".join(
        f"EAN {e} cantidad {c} importe {i}" for e, c, i in values
    )
    art = artifacts_from_extracted(_text_rows(spark, [("u", text)]))
    got = art["csv_docs"].collect()[0]["csv"]
    want_recs = parse_records(text)
    assert [(r["EAN"], r["CantidadVendida"], r["Importe"]) for r in want_recs] == values
    assert got == records_to_csv(want_recs)
    assert got.splitlines()[1:] == [
        '"Sucursal Borde","1",7,1.01', '"Sucursal Borde","2",0,2.68',
        '"Sucursal Borde","3",-5,Infinity', '"Sucursal Borde","4",0,-Infinity',
        '"Sucursal Borde","5",3,-1.13', '"Sucursal Borde","6",1,0.00',
        '"Sucursal Borde","7",0,0.00', '"Sucursal Borde","8",42,0.00',
        '"Sucursal Borde","9",9223372036854775808,0.50',
        '"Sucursal Borde","10",' + "1" * 40 + ",7.00",
    ]


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
