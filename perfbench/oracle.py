"""Spark-free expected outputs and the output checks of each workload.

The extraction and CSV expectations are digests committed in
``expected.tsv`` (``gen.write_expected``: a plain-Python replay of the
public kernels ``kernels.pdf``, ``kernels.html`` and ``kernels.blocks``
on the reference commit), combined with keep-newest-crawl-per-url. The
curation expectations are replays of the documented rules (exact/near
dedup keep-list, C4 line dedup, the profile's counts), and every
injected duplicate must be flagged as one. Each check returns the number
of output rows that differ from the expectation; any non-zero count
makes the run incorrect.
"""

from __future__ import annotations

import hashlib
import re

MD5 = lambda s: hashlib.md5(s.encode("utf-8")).hexdigest()  # noqa: E731
# the committed digests: the first 64 bits of the md5
DIGEST = lambda s: MD5(s)[:16]  # noqa: E731


def expected_row(url: str | None, html: bytes | None, text: str | None):
    """One pages row → (extracted_text, n_pages, parse_status)."""
    from pdf_to_text_spark.kernels.html import HTMLParseFailed, extract_html_text
    from pdf_to_text_spark.kernels.pdf import (
        PDFEncryptedError,
        PDFParseError,
        PDFUnsupportedCMapError,
        extract_pdf_text,
    )

    if html is None:
        return (text, 1, "passthrough") if text is not None else ("", 0, "empty")
    try:
        if (url or "").endswith(".pdf") and html[:5] == b"%PDF-":
            out, n_pages = extract_pdf_text(html)
            return out, n_pages, "ok"
        return extract_html_text(html), 1, "ok"
    except PDFEncryptedError:
        return "", 0, "encrypted"
    except PDFUnsupportedCMapError:
        return "", 0, "unsupported_cmap"
    except (PDFParseError, HTMLParseFailed):
        return "", 0, "parse_failed"
    except Exception:  # the engine routes any kernel error to this status
        return "", 0, "parse_failed"


# ── extraction tables ──────────────────────────────────────────────────────


def extraction_digest_cols():
    """Spark columns the extraction checks collect (text as a digest)."""
    from pyspark.sql import functions as F

    return [F.col("url"), F.md5(F.col("extracted_text").cast("binary")).alias("md5"),
            F.col("n_pages"), F.col("parse_status")]


def check_extracted(rows, expected: dict) -> int:
    """rows: (url, md5, n_pages, parse_status); expected: url →
    (text digest, n_pages, parse_status). Each expected url must appear
    exactly once with the expected text, page count and status."""
    seen: set = set()
    bad = 0
    for url, md5, n_pages, status in rows:
        if url in seen or expected.get(url) != (md5[:16], n_pages, status):
            bad += 1
        seen.add(url)
    return bad + len(expected.keys() - seen)


def records_csv(text: str) -> tuple[str, int]:
    """An extracted text's CSV document and record count, replaying
    kernels.blocks."""
    from pdf_to_text_spark.kernels.blocks import (
        parse_records,
        records_to_csv,
        segment_blocks,
    )

    recs = [r for b in (segment_blocks(text) if text else []) for r in parse_records(b)]
    return records_to_csv(recs), len(recs)


def check_csv(rows, expected_csv: dict) -> int:
    """rows: (url, md5(csv)); expected_csv: url → (csv digest, n_records)."""
    got = {}
    bad = 0
    for url, md5 in rows:
        if url in got:
            bad += 1
        got[url] = md5
    for url, (csv_md5, _) in expected_csv.items():
        if (got.pop(url, None) or "")[:16] != csv_md5:
            bad += 1
    return bad + len(got)


# ── curation ────────────────────────────────────────────────────────────────


def expected_dedup(docs, sig_of, threshold: float = 0.5, n_perm: int = 64,
                   n_bands: int = 16) -> tuple[dict, dict]:
    """dedup_corpus replayed: exact groups keep the minimum doc_id,
    survivors pair through any shared LSH band, pairs whose signature
    estimate reaches `threshold` drop the larger doc_id. `sig_of(text)`
    gives the text's ``minhash_signature``. Returns (doc_id → reason,
    counters)."""
    import numpy as np

    from pdf_to_text_spark.kernels.textstats import minhash_bands, normalize_text

    rep: dict = {}
    reason = {}
    for doc_id, text, _ in sorted(docs):
        fp = normalize_text(text or "")
        first = rep.setdefault(fp, doc_id)
        reason[doc_id] = "exact_dup" if first != doc_id else "kept"
    survivors = [(d, t) for d, t, _ in docs if reason[d] == "kept"]
    sigs, buckets = {}, {}
    for d, t in survivors:
        s = sig_of(t or "")
        sigs[d] = s
        for b, h in enumerate(minhash_bands(s, n_bands=n_bands)):
            buckets.setdefault((b, h), []).append(d)
    cand = set()
    for members in buckets.values():
        members.sort()
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                cand.add((a, b))
    need = int(np.ceil(threshold * n_perm))
    verified = [(a, b) for a, b in cand
                if int(np.sum(sigs[a] == sigs[b])) >= need]
    for _, b in verified:
        reason[b] = "near_dup"
    return reason, {"candidate_pairs": len(cand), "verified_pairs": len(verified),
                    "exact_groups": len(rep)}


INJECTED_FLAG = {"exact": "exact_dup", "near": "near_dup"}


def check_dedup(rows, reason: dict, docs) -> int:
    """rows: (doc_id, keep, reason). Every doc gets one verdict equal to
    the replay, every injected exact dup reads exact_dup and every
    injected near dup reads near_dup."""
    got = {}
    bad = 0
    for doc_id, keep, why in rows:
        if doc_id in got or keep != (why == "kept"):
            bad += 1
        got[doc_id] = why
    for doc_id, _, kind in docs:
        want = reason[doc_id]
        if kind in INJECTED_FLAG and want != INJECTED_FLAG[kind]:
            want = f"<injected {kind} dup not flagged>"
        if got.pop(doc_id, None) != want:
            bad += 1
    return bad + len(got)


_WS = re.compile("[ \t\n\f\r]+")


def expected_line_dedup(docs, min_words: int = 5) -> tuple[dict, int]:
    """strip_duplicate_lines replayed: lines with ≥ min_words words keep
    only their first occurrence in (doc_id, line position) order."""
    seen: set = set()
    out = {}
    dropped = 0
    for doc_id, text, _ in sorted(docs):
        kept = []
        for line in text.split("\n"):
            if len(_WS.split(line.strip(" "))) < min_words:
                kept.append(line)
            elif line not in seen:
                seen.add(line)
                kept.append(line)
            else:
                dropped += 1
        out[doc_id] = "\n".join(kept)
    return out, dropped


def check_text_by_id(rows, expected: dict) -> int:
    """rows: (doc_id, md5(text))."""
    got = {}
    bad = 0
    for doc_id, md5 in rows:
        if doc_id in got:
            bad += 1
        got[doc_id] = md5
    for doc_id, text in expected.items():
        if got.pop(doc_id, None) != MD5(text):
            bad += 1
    return bad + len(got)


def check_profile(rows, docs) -> int:
    """rows: (doc_id, chars, words) — one row per doc, chars equal to the
    text length and words to its whitespace token count."""
    want = {d: (len(t), len(_WS.split(t.strip(" ").lower()))) for d, t, _ in docs}
    bad = 0
    got: set = set()
    for doc_id, chars, words in rows:
        if doc_id in got or want.get(doc_id) != (chars, words):
            bad += 1
        got.add(doc_id)
    return bad + len(want.keys() - got)
