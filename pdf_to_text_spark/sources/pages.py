"""Deterministic synthetic Common-Crawl-style ``pages`` table (FIXTURES.md §1).

Shape fixed by BASELINE.json input_hint:
    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Generation is seed-pinned and row-indexed (row i's payload is a pure
function of i), so any scale regenerates identically and two runs agree
byte-for-byte. The generator itself runs DISTRIBUTED — `spark.range(n)`
partitions the id space and a mapInPandas builds payload bytes on
executors, so even the 100k-row bench table never materializes on the
driver. Skew knob: 1% of PDF rows are 100-page "mega" docs whose urls are
crafted — via the driver-side xxhash64 mirror (plans/layout.py
bucket_of) — to REALLY land in 2 url-hash buckets (FIXTURES.md §1),
the skew any bucket-keyed work (resumable waves, per-bucket metrics)
sees. (Before r6 this concentration was only claimed: distinct urls
under a shared path prefix still hash uniformly, so the skew knob
didn't exist.)
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterator

import pandas as pd

# Bump whenever _row_payload's OUTPUT changes for any i — .benchdata
# cache directories embed it, so a stale cache can't silently serve the
# previous round's corpus (r4 review; replaces the manual delete step).
PAGES_GEN = 12  # r6 review: Type1 Length2/3 split corrected in embedded-font fixtures
EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
# weights ~40/16/14/16/14 via a 50-slot cycle
_LANG_CYCLE = (["en"] * 20 + ["es"] * 8 + ["de"] * 7 + ["fr"] * 8 + ["zh"] * 7)

MEGA_EVERY = 100      # 1% mega PDFs
# the two url-hash buckets ALL mega docs land in — the documented
# hash-skew knob. Residues are of a PINNED modulus (below), NOT the
# env-configurable config.N_BUCKETS:
# corpus bytes must be a pure function of PAGES_GEN (the .benchdata
# cache key), and with PTS_N_BUCKETS=16 the 10k-probe search for a
# bucket-21 url could never hit (generation crashed; r6 review). Under
# a non-default runtime N_BUCKETS the mega rows still concentrate:
# hash≡5/21 (mod 32) maps to ≤2 residues per group for any power-of-two
# bucket count.
MEGA_BUCKET_MOD = 32  # pinned == the DEFAULT N_BUCKETS; never env-driven
MEGA_BUCKETS = (5, 21)
NULL_EVERY = 200      # 0.5% null html
DUP_EVERY = 50        # 2% duplicated urls (differing warc_ts)
PASSTHROUGH_EVERY = 40  # 2.5% rows arrive with pre-extracted `text`


def _row_payload(i: int) -> tuple[str, dt.datetime, bytes | None, str | None, str]:
    """Pure function i → (url, warc_ts, html, text, lang)."""
    from tools.make_html import article_page
    from tools.make_pdf import simple_pdf, sucursal_report_pdf

    is_pdf = i % 3 == 0  # ~33% PDFs
    is_mega = is_pdf and i % MEGA_EVERY == 0
    lang = _LANG_CYCLE[i % len(_LANG_CYCLE)]
    source = f"src{i % 20}"
    ext = "pdf" if is_pdf else "html"
    # mega docs are steered into 2 url-hash buckets so they hash-skew
    # together: a shared PREFIX does not constrain pmod(xxhash64(url), N)
    # at all (r6 review), so the url carries a searched suffix that pins
    # its bucket — pure function of i, ~N_BUCKETS probes of the
    # driver-side hash mirror per mega row
    if is_mega:
        from pdf_to_text_spark.plans.layout import bucket_of

        g = (i // MEGA_EVERY) % 2
        for k in range(10_000):
            url = f"https://example.org/mega/{g}/{i:08d}-{k}.pdf"
            if bucket_of(url, MEGA_BUCKET_MOD) == MEGA_BUCKETS[g]:
                break
        else:  # pragma: no cover — P(miss) = (31/32)^10000
            raise AssertionError(f"no bucket-{MEGA_BUCKETS[g]} url for id {i}")
    else:
        url = f"https://example.org/{source}/{i:08d}.{ext}"
    ts = EPOCH + dt.timedelta(seconds=37 * i)

    if i % NULL_EVERY == 7:
        return url, ts, None, None, lang
    if i % PASSTHROUGH_EVERY == 13:
        return url, ts, None, f"pre-extracted text for row {i} " * 8, lang

    if is_pdf:
        from tools.make_html import _sentence

        if i % 90 == 57:  # ~1% encrypted PDFs → distinct 'encrypted' status
            from tools.make_pdf import encrypted_pdf

            return url, ts, encrypted_pdf(), None, lang
        if i % 270 == 111:
            # ~0.4% CJK PDFs with a predefined CID CMap and no ToUnicode.
            # Round 4 decoded the Unicode-coded Uni* family (UTF-16BE);
            # round 5 decodes the legacy-coded family through stdlib
            # codecs (GBK-EUC-H, 90ms-RKSJ-H → 'ok' with real CJK text).
            # Only Hojo-EUC-H (JIS X 0212 supplement, outside both
            # families) keeps the countable 'unsupported_cmap' status —
            # it comes FIRST so the 120-row driver gate still exercises
            # that status end-to-end (r4/r5 review).
            from tools.make_pdf import predefined_cmap_pdf

            enc, hx = [
                ("Hojo-EUC-H", b"4F60597D"),
                ("GBK-EUC-H", b"486920C4E3BAC3A3ACCAC0BDE7"),
                ("90ms-RKSJ-H", b"82B182F182C982BF82CD90A28A45"),
                ("UniGB-UCS2-H", b"4F60597D"),
                ("UniJIS-UTF16-H", b"D842DFB74F60597D"),
            ][(i // 270) % 5]
            return url, ts, predefined_cmap_pdf(
                used=True, encoding=enc, show_hex=hx
            ), None, lang
        if i % 90 == 39:
            # ~1% standard-security PDFs with an EMPTY user password —
            # the kernel decrypts these transparently (status 'ok');
            # round 4 adds an AES-256 V5/R6 slice (ISO 32000-2)
            from tools.make_pdf import build_encrypted_pdf, content_stream_for_lines

            enc_lines = [_sentence(i * 3571 + j, 9) for j in range(12)]
            method = ("aes_256" if i % 360 == 309
                      else "aes_128" if i % 180 == 39 else "rc4_128")
            return url, ts, build_encrypted_pdf(
                [content_stream_for_lines(enc_lines)],
                method=method,
                compress=True,
            ), None, lang
        if i % 270 == 60 and not is_mega:
            # ~0.4% subsetted fonts with NEITHER /ToUnicode nor a named
            # encoding — only the embedded program (TrueType cmap/post
            # or CFF charset/encoding) maps codes to text. Round 6
            # decodes these (kernels/fonts.py, pdfjs parity); i=60 puts
            # one inside the 120-row driver gate. Pre-r6 these rows
            # extracted as latin-1 control-byte mojibake.
            from tools.make_pdf import embedded_font_pdf

            kind = [
                "truetype", "cff", "type1", "truetype_symbol", "type1_pfb",
                "truetype_f12",  # r6: (3,10)-only format-12 cmap
            ][(i // 270) % 6]
            return url, ts, embedded_font_pdf(kind), None, lang
        if i % 270 == 102:
            # ~0.4% damaged-but-COMPLETE PDFs (a real crawl's broken
            # writers and mangled proxies): bad startxref, zeroed xref
            # offsets, or offsets invalidated by injected bytes. The
            # round-5 scan reconstruction recovers all three → 'ok'
            # with real text; i=102 puts one inside the 120-row driver
            # gate. (The i%90==33 TRUNCATED slice below keeps pinning
            # parse_failed — recovery rebuilds tables, not bytes.)
            from tools.make_pdf import damaged_pdf

            base = simple_pdf([[_sentence(i * 677 + j, 8) for j in range(10)]])
            mode = ["bad_startxref", "zeroed_offsets", "shifted_offsets"][
                (i // 270) % 3
            ]
            return url, ts, damaged_pdf(base, mode), None, lang
        if is_mega:
            # genuinely megabyte-scale: 100 pages, uncompressed streams
            # (~1 MB; the skew knob of FIXTURES.md §1)
            html = simple_pdf(
                [
                    [_sentence(i * 7919 + p * 131 + j, 10) for j in range(80)]
                    for p in range(100)
                ],
                compress=False,
            )
        elif i % 9 == 0:
            html = sucursal_report_pdf(5 + i % 11, compress=i % 2 == 0)
        else:
            lines = [
                [
                    _sentence(i * 2741 + p * 53 + j, 8)
                    for j in range(20 + i % 20)
                ]
                for p in range(1 + i % 4)
            ]
            # a realistic crawl mixes writer generations: slices of the
            # corpus use PDF 1.5 xref streams / object streams and the
            # non-Flate filters the round-2 kernel decodes (PDF rows are
            # i%3==0, so index variants by the PDF ordinal i//3)
            variant = (i // 3) % 8
            if variant == 2:
                # round-3 surface: body text inside a Form XObject (`Do`)
                from tools.make_pdf import form_text_pdf

                flat = [ln for p in lines for ln in p]
                html = form_text_pdf(flat[: max(1, len(flat) // 2)],
                                     flat[max(1, len(flat) // 2):] or ["form tail"])
            elif variant == 6:
                # round-3 surface: adversarial inline image between blocks
                from tools.make_pdf import inline_image_text_pdf

                html = inline_image_text_pdf(lines[0])
            elif variant in (1, 3):
                from tools.make_pdf import build_pdf_xref_stream, content_stream_for_lines

                html = build_pdf_xref_stream(
                    [content_stream_for_lines(p) for p in lines],
                    use_objstm=(variant == 1),
                )
            elif variant in (5, 7):
                from tools.make_pdf import build_pdf, content_stream_for_lines

                html = build_pdf(
                    [content_stream_for_lines(p) for p in lines],
                    stream_filter="LZWDecode" if variant == 5 else "ASCII85Decode",
                )
            else:
                html = simple_pdf(
                    lines,
                    style=["td", "tstar", "quote", "tj"][i % 4],
                    compress=i % 2 == 1,
                )
        if i % 90 == 33:  # some corrupt PDFs → parse_failed path
            html = html[: len(html) // 2]
    else:
        html = article_page(i, n_paras=3 + i % 6, para_words=25 + i % 40).encode()
    return url, ts, html, None, lang


def build_pages_pdf(ids: list[int]) -> pd.DataFrame:
    rows = []
    for i in ids:
        url, ts, html, text, lang = _row_payload(i)
        rows.append((url, ts, html, text, lang))
        if i % DUP_EVERY == 21:  # duplicate url, +1 day, same payload
            rows.append((url, ts + dt.timedelta(days=1), html, text, lang))
    return pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])


PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def pages_df(spark, n_rows: int, num_partitions: int | None = None):
    """Distributed synthesis: spark.range over the id space → mapInPandas."""
    num_partitions = num_partitions or max(8, n_rows // 2000)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids = b["id"].tolist()
            # yield in fixed 64-row slices; the byte bound is indirect —
            # ids arrive consecutive from spark.range, so at most one
            # ~1 MB mega row (every MEGA_EVERY-th id) lands per slice.
            # A denser mega cadence or non-consecutive id source would
            # need true byte accounting like udfs._capped
            step = 64
            for s in range(0, len(ids), step):
                yield build_pages_pdf(ids[s : s + step])

    return (
        spark.range(0, n_rows, numPartitions=num_partitions)
        .mapInPandas(gen, schema=PAGES_SCHEMA)
    )


def write_pages(spark, n_rows: int, path: str, num_partitions: int | None = None) -> None:
    pages_df(spark, n_rows, num_partitions).write.mode("overwrite").parquet(path)
