"""WARC ingestion: Common-Crawl archive files → the canonical ``pages`` table.

The engine's contract input is an Iceberg-style table shaped
``(url, warc_ts, html, text, lang)`` (BASELINE.json input_hint), but at
crawl scale that table is *populated from* WARC files — the ISO 28500
container Common Crawl publishes (~1 GB ``.warc.gz`` segments, one gzip
member per record so readers can resync mid-file). This module is that
ingestion edge, built from the public WARC 1.0/1.1 spec:

- ``iter_warc_records`` — pure-bytes record walker (plain or
  member-gzipped), lenient: a malformed record resyncs to the next
  ``WARC/`` magic instead of failing the file.
- ``warc_pages(spark, path)`` — ``binaryFile`` scan → ``mapInPandas``
  over Arrow batches, emitting pages-schema rows for every *response* /
  *conversion* record (request/metadata/warcinfo records are skipped,
  exactly what an extraction corpus wants).
- ``build_warc_bytes`` — deterministic writer used by tests/benchmarks
  to synthesize fixture archives (round-trips byte-identically).

Scale notes (the part that matters at 10^12 docs):

- **Parallelism is per file.** Per-record gzip members are not
  splittable without an external index, so one WARC file = one task —
  Common Crawl's layout (64k × ~1 GB files per crawl) already yields
  ~64k tasks, far above any executor count; no shuffle is introduced.
  ``binaryFile`` gives path-glob/pushdown pruning for free.
- **Memory per task is a small multiple of the DECOMPRESSED file
  size** — the compressed blob (pinned by the Arrow batch), the
  decompressed buffer, and the payload row copies are live together, so
  a ~1 GB Common Crawl segment (~4 GB decompressed) peaks around
  ~9-12 GB per task. Size executors for that (Common Crawl's own
  processing guidance assumes the same), or split segments upstream;
  per-record inflation is hard-capped at ``MAX_RECORD_BYTES`` (bombs
  abort the file, records before them survive). Output rows re-batch
  in genuinely byte-capped (16 MiB) Arrow slices.
- **No per-row Python:** one Python invocation per *file*, vectorized
  pandas construction per slice — same Arrow-batch discipline as the
  extraction kernels.
- **Land to parquet before extracting at crawl scale.**
  run_extraction(warc_pages(...)) is a single pass (its keep-newest
  window runs after the kernel, over the extracted rows), but column
  pruning cannot pass this source's mapInPandas, so every other query
  over the same frame walks every archive again. At crawl scale:
  warc_pages → write parquet → run_extraction over the parquet (the
  ingest/extract split every real crawl pipeline makes anyway).

Reference parity note: the reference (pierotech/pdf-to-text,
src/main.ts:136-149) receives one uploaded file per request; WARC is the
batch-world equivalent of that ingress and is graft-mandated shape, not
a reference operator — hence tested here, not a driver-gate query.
"""

from __future__ import annotations

import datetime as dt
import gzip
import io
import zlib
from collections.abc import Iterator

import pandas as pd

from .pages import PAGES_SCHEMA

# Skip records whose declared Content-Length exceeds this (decompression
# bombs / corrupt length fields must not OOM an executor — same
# philosophy as kernels/pdf.py's MAX_DECODED_STREAM_BYTES).
MAX_RECORD_BYTES = 64 * 1024 * 1024

_CRLF2 = b"\r\n\r\n"


# ── pure-bytes kernel ────────────────────────────────────────────────────────


def _gunzip_members(data: bytes) -> bytes:
    """Decompress a multi-member gzip stream (one member per WARC record,
    the Common Crawl convention). A corrupt member truncates the stream
    there — the records before it still parse.

    Inflation is cap-enforced INSIDE the chunk loop and never calls
    flush(): flush() emits all remaining output uncapped, which let a
    200 KB gzip bomb inflate to 200 MB straight past MAX_RECORD_BYTES
    (r3 review, reproduced). An over-cap member aborts the file — its
    end cannot be located without inflating it.

    Input is fed in bounded windows over a memoryview (r5 review): the
    previous formulation sliced the FULL remaining buffer once per
    member and re-copied it via unconsumed_tail per chunk — quadratic
    memcpy that made a real ~1 GB, 100k-member Common Crawl segment
    effectively unprocessable."""
    out = []
    view = memoryview(data)
    pos = 0
    n = len(data)
    window = 1 << 20
    while pos < n:
        d = zlib.decompressobj(wbits=31)
        member = bytearray()
        ok = True
        feed_pos = pos
        pending: bytes | memoryview = b""
        while True:
            if not len(pending):
                if feed_pos >= n:
                    ok = False  # truncated member: keep its partial output
                    break
                nxt = min(feed_pos + window, n)
                pending = view[feed_pos:nxt]
                feed_pos = nxt
            try:
                chunk = d.decompress(pending, window)
            except zlib.error:
                ok = False
                break
            member += chunk
            pending = d.unconsumed_tail
            if len(member) > MAX_RECORD_BYTES:
                ok = False  # bomb / oversized member
                break
            if d.eof:
                break
        out.append(bytes(member[: MAX_RECORD_BYTES]))
        if not ok:
            break
        consumed = (feed_pos - pos) - len(pending) - len(d.unused_data)
        if consumed <= 0:  # no forward progress → stop, keep prior members
            break
        pos += consumed
    return b"".join(out)


def _parse_headers(block: bytes) -> dict[str, str]:
    """Case-insensitively parse a CRLF header block (no continuation
    lines — WARC named fields are single-line per ISO 28500 §5)."""
    headers: dict[str, str] = {}
    for line in block.split(b"\r\n"):
        k, sep, v = line.partition(b":")
        if sep:
            headers[k.strip().lower().decode("latin-1")] = (
                v.strip().decode("latin-1", "replace")
            )
    return headers


def iter_warc_records(buf: bytes) -> Iterator[tuple[dict[str, str], bytes]]:
    """Yield ``(warc_headers, record_body)`` for each record in ``buf``
    (already decompressed). Lenient: anything that is not a well-formed
    record is skipped by resyncing to the next ``WARC/`` magic, so one
    corrupt record never costs the rest of the file."""
    pos = 0
    n = len(buf)
    while pos < n:
        start = buf.find(b"WARC/", pos)
        if start < 0:
            return
        head_end = buf.find(_CRLF2, start)
        if head_end < 0:
            return
        version_end = buf.find(b"\r\n", start)
        headers = _parse_headers(buf[version_end + 2 : head_end])
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            pos = start + 5  # resync past this magic
            continue
        if length < 0 or length > MAX_RECORD_BYTES:
            pos = start + 5
            continue
        body_start = head_end + 4
        body = buf[body_start : body_start + length]
        if len(body) < length:  # truncated tail record
            return
        yield headers, body
        pos = body_start + length


def _http_payload(body: bytes) -> tuple[bytes, dict[str, str]]:
    """Split an application/http record body into (payload, http_headers).
    Returns the raw body with empty headers when no HTTP envelope is
    present (``conversion`` records carry content directly)."""
    if not body.startswith(b"HTTP/"):
        return body, {}
    split = body.find(_CRLF2)
    if split < 0:
        return body, {}
    return body[split + 4 :], _parse_headers(body[:split])


def _dechunk(payload: bytes) -> bytes | None:
    """Decode HTTP/1.1 Transfer-Encoding: chunked (RFC 9112 §7.1), or
    None when the framing doesn't parse (caller keeps the raw bytes —
    a wrongly-declared encoding must not drop the row)."""
    out = bytearray()
    pos = 0
    n = len(payload)
    while True:
        eol = payload.find(b"\r\n", pos)
        if eol < 0:
            return None
        token = payload[pos:eol].split(b";")[0].strip()
        # Strict hex only: int(x, 16) also accepts '-', '+', '0x' and '_',
        # and a negative size makes pos stop advancing (infinite loop on
        # untrusted crawl bytes) — reject anything but [0-9a-fA-F]+.
        if not token or any(c not in b"0123456789abcdefABCDEF" for c in token):
            return None
        size = int(token, 16)
        if size == 0:
            return bytes(out)  # trailers, if any, are dropped
        start = eol + 2
        end = start + size
        if end > n or len(out) + size > MAX_RECORD_BYTES:
            return None
        out += payload[start:end]
        if payload[end : end + 2] != b"\r\n":
            return None
        pos = end + 2


def _inflate_capped(payload: bytes, wbits: int) -> bytes | None:
    """Single-stream zlib/gzip inflate with the record byte cap; None on
    any error or cap overflow (caller keeps the raw bytes)."""
    d = zlib.decompressobj(wbits=wbits)
    out = bytearray()
    data: bytes = payload
    try:
        while data:
            out += d.decompress(data, 1 << 20)
            if len(out) > MAX_RECORD_BYTES:
                return None
            data = d.unconsumed_tail
            if d.eof:
                break
    except zlib.error:
        return None
    # an EMPTY decompressed body is a valid success (gzip'd empty 200s
    # exist on real crawls) — 'if out' conflated it with failure and the
    # caller kept the raw compressed blob as the page payload, turning a
    # correct empty extraction into parse_failed garbage (r6 review)
    return bytes(out)


def _decode_http_payload(payload: bytes, http: dict[str, str]) -> bytes:
    """Undo the HTTP framings a raw Common Crawl response preserves
    (r5 review — without this a Content-Encoding: gzip page reached the
    kernel as compressed bytes and a chunked page as hex-framed soup):
    Transfer-Encoding: chunked first, then Content-Encoding gzip/deflate.
    Anything undecodable (or brotli, absent from the stdlib) keeps the
    raw bytes — the kernel's per-row status decides, never a drop."""
    if "chunked" in http.get("transfer-encoding", "").lower():
        dec = _dechunk(payload)
        if dec is not None:
            payload = dec
    ce = http.get("content-encoding", "").strip().lower()
    if ce in ("gzip", "x-gzip"):
        dec = _inflate_capped(payload, 31)
        if dec is not None:
            payload = dec
    elif ce == "deflate":
        # both spellings exist in the wild: zlib-wrapped and raw deflate
        dec = _inflate_capped(payload, 15)
        if dec is None:
            dec = _inflate_capped(payload, -15)
        if dec is not None:
            payload = dec
    return payload


def _parse_warc_date(value: str) -> dt.datetime | None:
    try:
        return dt.datetime.fromisoformat(value.replace("Z", "+00:00"))
    except ValueError:
        return None


def warc_to_page_rows(
    data: bytes,
) -> list[tuple[str, dt.datetime, bytes, None, str | None]]:
    """File bytes → pages-shaped rows. Keeps ``response`` and
    ``conversion`` records that have a target URI and a parseable date;
    request/metadata/warcinfo (and HTTP non-200s) are dropped — they are
    crawl bookkeeping, not documents. ``lang`` comes from the HTTP
    ``Content-Language`` header when the server sent one."""
    if data[:2] == b"\x1f\x8b":
        data = _gunzip_members(data)
    rows = []
    for headers, body in iter_warc_records(data):
        rtype = headers.get("warc-type", "")
        if rtype not in ("response", "conversion"):
            continue
        url = headers.get("warc-target-uri")
        ts = _parse_warc_date(headers.get("warc-date", ""))
        if not url or ts is None:
            continue
        if body.startswith(b"HTTP/"):
            status = body.split(b"\r\n", 1)[0].split()
            if len(status) < 2 or status[1] != b"200":
                continue
        payload, http = _http_payload(body)
        if http:
            payload = _decode_http_payload(payload, http)
        lang = http.get("content-language")
        if lang:
            lang = lang.split(",")[0].strip().split("-")[0].lower() or None
        else:
            lang = None  # present-but-empty header must not emit lang=''
        rows.append((url, ts, payload, None, lang))
    return rows


# ── Spark integration ────────────────────────────────────────────────────────


def warc_pages(spark, path: str):
    """Distributed WARC scan → DataFrame in the canonical pages schema.

    ``binaryFile`` assigns one task per file (gzip members are not
    splittable — see module docstring for why that is the right
    granularity at crawl scale); each task walks its file's records and
    yields pages rows in byte-capped pandas slices.
    """
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc*")
        # real crawl layouts nest segments (crawl-data/CC-MAIN-*/
        # segments/*/warc/*.warc.gz); without recursion a directory root
        # lists only top-level files and silently yields ZERO rows (r6
        # review)
        .option("recursiveFileLookup", "true")
        .load(path)
        .select("content")
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["url", "warc_ts", "html", "text", "lang"]
        max_slice_bytes = 16 * 1024 * 1024
        for b in batches:
            for blob in b["content"]:
                rows = warc_to_page_rows(bytes(blob))
                # genuinely byte-capped Arrow slices: a row-count cap
                # alone would let 64 × 64 MB records form one ~4 GB batch
                buf: list[tuple] = []
                size = 0
                for row in rows:
                    buf.append(row)
                    size += len(row[2]) if row[2] is not None else 0
                    if size >= max_slice_bytes or len(buf) >= 64:
                        yield pd.DataFrame(buf, columns=cols)
                        buf, size = [], 0
                if buf:
                    yield pd.DataFrame(buf, columns=cols)

    return files.mapInPandas(gen, schema=PAGES_SCHEMA)


# ── deterministic writer (fixtures / benchmarks) ─────────────────────────────


def _warc_record(
    rtype: str, headers: list[tuple[str, str]], body: bytes
) -> bytes:
    head = [b"WARC/1.0", b"WARC-Type: " + rtype.encode()]
    # latin-1, mirroring _parse_headers' decode — a UTF-8 write here
    # would round-trip non-ASCII URIs as mojibake (r3 review)
    head += [k.encode() + b": " + v.encode("latin-1") for k, v in headers]
    head.append(b"Content-Length: " + str(len(body)).encode())
    return b"\r\n".join(head) + _CRLF2 + body + _CRLF2


def build_warc_bytes(
    rows: list[tuple[str, dt.datetime, bytes | None]],
    gzip_per_record: bool = True,
) -> bytes:
    """Synthesize a WARC file from (url, ts, payload) rows — response
    records wrapped in an HTTP/1.1 200 envelope, Common Crawl layout
    (leading warcinfo record; optional one-gzip-member-per-record).
    Deterministic: no uuids, no wall clock."""
    info_body = b"software: pdf_to_text_spark synthetic crawler\r\n"
    records = [
        _warc_record(
            "warcinfo",
            [("WARC-Date", "2024-01-01T00:00:00Z"),
             ("Content-Type", "application/warc-fields")],
            info_body,
        )
    ]
    for url, ts, payload in rows:
        if payload is None:
            continue
        # WARC-Date is second-granularity UTC ('...Z'); downstream code
        # broadcast-joins metadata back on exact (url, warc_ts), so a ts
        # that does not round-trip is silent row loss, not a formatting
        # nit. Reject sub-second precision rather than truncating (two
        # crawls differing only sub-second would collapse to an exact-ts
        # collision), and CONVERT aware non-UTC to UTC — strftime+'Z'
        # alone stamps local fields with a UTC marker (r6 review).
        if ts.microsecond:
            raise ValueError(
                f"build_warc_bytes: {url!r} ts has sub-second precision "
                f"({ts.isoformat()}) — WARC-Date is whole-second and the "
                f"(url, warc_ts) round-trip would silently miss"
            )
        if ts.tzinfo is not None:
            ts = ts.astimezone(dt.timezone.utc)
        ctype = (
            "application/pdf" if payload[:5] == b"%PDF-" else "text/html"
        )
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: " + ctype.encode()
            + b"\r\nContent-Length: " + str(len(payload)).encode()
            + _CRLF2 + payload
        )
        records.append(
            _warc_record(
                "response",
                [
                    ("WARC-Target-URI", url),
                    ("WARC-Date", ts.strftime("%Y-%m-%dT%H:%M:%SZ")),
                    ("Content-Type", "application/http; msgtype=response"),
                ],
                http,
            )
        )
    if not gzip_per_record:
        return b"".join(records)
    out = io.BytesIO()
    for rec in records:
        with gzip.GzipFile(fileobj=out, mode="wb", mtime=0) as gz:
            gz.write(rec)
    return out.getvalue()
