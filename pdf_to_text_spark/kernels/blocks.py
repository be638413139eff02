"""Block segmentation, record extraction, CSV/JSON serialization.

Pure-Python re-statements of the reference's downstream dataflow:

  * segment_blocks   — src/main.ts:70-109  (extractBlocksFromPDFText)
  * parse_records    — deterministic stand-in for the LLM field-extraction
                       stage (src/main.ts:169-234): same output schema
                       {SucursalName, EAN, CantidadVendida, Importe}, but a
                       regex parser so the pipeline is reproducible
  * records_to_csv   — src/main.ts:39-56 with every quirk preserved:
                       `parseInt(...)||0` / `parseFloat(...)||0` coercions,
                       `.toFixed(2)`, quotes NOT escaped, no trailing newline
  * records_to_pretty_json — JSON.stringify(data, null, 2) equivalent
                       (src/main.ts:242)
  * doc_artifacts    — one upload's blocks, records, CSV and JSON in one
                       pass (src/main.ts:133-263), tagged with their chunk
                       of 10 blocks (src/main.ts:116-124,166); the only
                       segmenter and serializer the Spark artifacts use
"""

from __future__ import annotations

import json
import math
import re
from decimal import ROUND_HALF_UP as _ROUND_HALF_UP
from decimal import Decimal as _Decimal

from ..config import (
    BLOCK_END_REGEX,
    BLOCK_START_PREFIX,
    CSV_HEADER,
    MAX_BLOCKS_PER_CHUNK,
)

__all__ = [
    "segment_blocks",
    "parse_records",
    "records_to_csv",
    "records_to_pretty_json",
    "doc_artifacts",
]

_END_RE = re.compile(BLOCK_END_REGEX, re.IGNORECASE)


def segment_blocks(full_text: str) -> list[str]:
    """Stateful line scan — byte-for-byte the reference's semantics.

    Edge rules (SURVEY.md §2.3, src/main.ts:70-109):
      (a) start match is a lowercase *prefix* test, not word-boundary;
      (b) a start-line while capturing flushes the previous block;
      (c) the end-line is included in its block;
      (d) the end regex requires a number with optional decimals;
      (e) preamble before the first start-line is dropped;
      (f) a trailing unterminated block is kept;
      (g) empty input → [].
    """
    blocks: list[str] = []
    current: list[str] = []
    capturing = False
    for line in full_text.split("\n"):
        if line.lower().startswith(BLOCK_START_PREFIX):
            if current:
                blocks.append("\n".join(current))
            current = [line]
            capturing = True
            continue
        if capturing:
            current.append(line)
            if _END_RE.search(line):
                blocks.append("\n".join(current))
                current = []
                capturing = False
    if capturing and current:
        blocks.append("\n".join(current))
    return blocks


# ── deterministic field extraction (LLM stand-in) ───────────────────────────

_SALE_RE = re.compile(
    r"EAN\s+(\d+)\s+cantidad\s+(\S+)\s+importe\s+(\S+)", re.IGNORECASE
)


def parse_records(block: str) -> list[dict]:
    """One Sucursal block → sale records, reference output schema.

    SucursalName = first line of the block (the 'Sucursal …' line); one
    record per 'EAN … cantidad … importe …' line. Values are kept as raw
    strings — the CSV stage owns the ``||0`` coercions exactly as the
    reference does (src/main.ts:44-45).
    """
    lines = block.split("\n")
    name = lines[0].strip() if lines else ""
    out = []
    for line in lines[1:]:
        m = _SALE_RE.search(line)
        if m:
            out.append(
                {
                    "SucursalName": name,
                    "EAN": m.group(1),
                    "CantidadVendida": m.group(2),
                    "Importe": m.group(3),
                }
            )
    return out


# ── CSV / JSON serialization quirks ─────────────────────────────────────────


def _js_parse_int(v) -> int:
    """JS `parseInt(x, 10) || 0`: leading-prefix integer parse, 0 fallback.

    NOTE `parseInt("0", 10) || 0` is still 0, and NaN||0 → 0, so the
    fallback is indistinguishable — a plain 0-default covers both.
    """
    s = str(v).strip() if v is not None else ""
    # [0-9], not \d: Python \d matches Unicode digits (U+0660 ...) that
    # int() would happily parse, while JS parseInt reads ASCII digits
    # only ('\u0663' → NaN → 0)
    m = re.match(r"^[+-]?[0-9]+", s)
    return int(m.group(0)) if m else 0


def _js_parse_float(v) -> float:
    """JS `parseFloat(x) || 0` — leading-prefix float parse, 0 fallback.

    parseFloat also accepts the Infinity literals ('Infinity'||0 →
    Infinity, which is truthy, so it survives the ||0) — ADVICE r1."""
    s = str(v).strip() if v is not None else ""
    m = re.match(r"^[+-]?Infinity", s)
    if m:
        return float(m.group(0).replace("Infinity", "inf"))
    # ASCII digits only — JS parseFloat, like parseInt, reads no others
    m = re.match(r"^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?", s)
    if not m:
        return 0.0
    f = float(m.group(0))
    # JS `|| 0` also maps NaN and -0/0 to 0 — float() never yields NaN here
    return f if f == f and f != 0 else 0.0


def _to_fixed_2(f: float) -> str:
    """JS Number.prototype.toFixed(2)-shaped formatting, pinned as:
    sign-separated round-half-UP on the SHORTEST-REPR decimal digits of
    the double (decimal.Decimal(repr(f)) scaling — never the double-
    rounding f*100+0.5 of r1, which flipped at .xx5-adjacent values).

    It deviates from spec-exact JS toFixed only where the shortest repr
    sits on a .xx5 boundary the exact binary expansion doesn't (e.g.
    1.005 stored as 1.00499…): pinned out-of-contract, same as the r1
    test note. Non-finite: Infinity/-Infinity/NaN render like JS toFixed.
    Magnitudes ≥ 1e21 are OUT OF CONTRACT: spec toFixed falls back to
    exponent-notation ToString there, while this prints full digits — no
    realistic Importe field reaches 1e21."""
    if f != f:
        return "NaN"
    if math.isinf(f):
        return "Infinity" if f > 0 else "-Infinity"
    sign = "-" if f < 0 else ""
    cents = int(
        (_Decimal(repr(abs(f))) * 100).to_integral_value(rounding=_ROUND_HALF_UP)
    )
    return f"{sign}{cents // 100}.{cents % 100:02d}"


def records_to_csv(records: list[dict]) -> str:
    """src/main.ts:39-56 — header + rows, quirks preserved exactly:
    strings double-quoted with NO escaping of embedded quotes, int/float
    coercion with ``||0`` fallback, 2-decimal formatting, fields joined
    ``,``, rows joined ``\\n``, NO trailing newline.
    """
    rows = []
    for r in records:
        cantidad = _js_parse_int(r.get("CantidadVendida"))
        importe = _js_parse_float(r.get("Importe"))
        # a present-but-null field renders "" — same as a missing key;
        # r.get's default only covers ABSENT keys, so an explicit null used
        # to print the Python repr 'None' (r6 review). Deliberate deviation
        # from the reference's template literal, which prints the JS
        # artifacts 'null'/'undefined' (src/main.ts:48-49).
        sucursal = r.get("SucursalName")
        ean = r.get("EAN")
        rows.append(
            ",".join(
                [
                    f'"{"" if sucursal is None else sucursal}"',
                    f'"{"" if ean is None else ean}"',
                    str(cantidad),
                    _to_fixed_2(importe),
                ]
            )
        )
    return CSV_HEADER + "\n" + "\n".join(rows)


def records_to_pretty_json(records: list[dict]) -> str:
    """JSON.stringify(allJsonData, null, 2) equivalent (src/main.ts:242).

    json.dumps with indent=2 matches JS for our string/number payloads
    given separators pinned to (",", ": ") and ensure_ascii=False.
    """
    return json.dumps(records, indent=2, ensure_ascii=False, separators=(",", ": "))


def doc_artifacts(text: str | None) -> tuple[list[dict], str, str, list[tuple]]:
    """One extracted document → (records, csv, json, blocks), the
    reference's per-upload artifacts in one pass (src/main.ts:133-263).

    blocks: segment_blocks as (block_pos, block, chunk_id), chunk_id =
    block_pos // 10 (src/main.ts:116-124,166) — the one place the chunk
    rule lives. records: parse_records over those blocks, each record
    tagged with its block's chunk_id, block_pos and record_pos. csv/json
    serialize the untagged records in that order, so a document without
    records gets the header-only CSV and '[]'.
    """
    blocks: list[tuple] = []
    tagged: list[dict] = []
    plain: list[dict] = []
    for block_pos, block in enumerate(segment_blocks(text) if text else []):
        chunk_id = block_pos // MAX_BLOCKS_PER_CHUNK
        blocks.append((block_pos, block, chunk_id))
        for record_pos, rec in enumerate(parse_records(block)):
            plain.append(rec)
            tagged.append({"chunk_id": chunk_id, "block_pos": block_pos,
                           "record_pos": record_pos, **rec})
    return tagged, records_to_csv(plain), records_to_pretty_json(plain), blocks
