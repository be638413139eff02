"""From-scratch PDF text extraction kernel.

Re-implements, in pure Python (stdlib only), the extraction semantics the
reference delegates to unpdf/pdfjs (`/root/reference/src/main.ts:149-154`,
deps `package.json:8-9`): xref/object-table walk, page-tree traversal,
/FlateDecode content-stream decompression, and Tj/TJ/'/" show-text
extraction with layout-order reflow. The pinned reflow rules are
SURVEY.md §2.2:

  * text items are emitted in content-stream order;
  * a positioning op that moves down (``Td``/``TD`` with negative ty, or
    ``T*``), a ``'``/``"`` show op, or a new ``BT`` block starts a new line;
  * items on one line are concatenated in stream order (kerning numbers in
    ``TJ`` arrays are ignored);
  * lines within a page are joined with ``"\n"``; pages are joined with
    ``"\n"`` (directly visible in the reference at src/main.ts:152-154).

Format surface (round 2 extensions, closing the gap to pdfjs-dist 4.1 —
reference package.json:8-9):

  * classic ``xref`` tables AND PDF 1.5+ cross-reference streams
    (``/Type /XRef``, /W-packed binary rows, /Index subsections, /Prev
    chains, hybrid /XRefStm trailers);
  * compressed objects in object streams (``/Type /ObjStm``);
  * stream filters: FlateDecode, LZWDecode (variable 9-12 bit codes,
    /EarlyChange), ASCIIHexDecode, ASCII85Decode, RunLengthDecode, with
    /DecodeParms predictors (TIFF 2 and PNG 10-15) and filter chains;
  * font encodings: latin-1 base (pinned for unnamed encodings) plus
    ``/ToUnicode`` CMaps (bfchar/bfrange, pdfjs-precedence), ``/Encoding
    /Differences`` overrides resolved through an AGL-subset glyph table
    and uniXXXX names, and (round 4) explicitly NAMED base encodings —
    /WinAnsiEncoding maps the true CP1252 0x80-0x9F range (smart
    quotes, €, ™) and /MacRomanEncoding the full Mac upper range, via a
    C-level translate fast path; precedence ToUnicode > Differences >
    named base > latin-1. Type0/Identity-H CID fonts decode 2-byte show
    strings through their wide ToUnicode map (the standard embedded-CJK
    layout — unmapped CIDs pin to U+FFFD);
  * standard-security decryption with an EMPTY user password (round 3,
    pdfjs parity): RC4 V1/V2 (R2-R3) and AES-128-CBC V4 /AESV2, with
    per-object keys for strings and streams; password-protected or
    otherwise undecryptable documents raise :class:`PDFEncryptedError`
    (a distinct 'encrypted' row status, not a confusing downstream
    failure);
  * text inside Form XObjects (``Do``, depth- and cycle-guarded
    recursion) and inline-image payload skipping (``BI``/``ID``/``EI``)
    — round 3, closing the remaining byte-divergence vs pdfjs on
    realistic crawls;
  * xref RECONSTRUCTION (round 5, pdfjs recovery parity): when the
    normal xref/trailer load fails — or a recorded offset doesn't hold
    its object — the kernel rebuilds the table by scanning for
    ``num gen obj`` headers, recovers the trailer (or finds /Catalog
    directly, including inside /ObjStm), and retries once. Damaged-but-
    complete crawl files extract; truncated files still fail at object
    access (parse_failed), and encryption refusals are never masked.

Predefined CID CMaps (round 4): the Unicode-coded ``Uni*-UCS2-H/V`` and
``Uni*-UTF16-H/V(-HW)`` family (UniGB-UCS2-H, UniJIS-UCS2-HW-H, …)
decodes without data tables — their character codes ARE UTF-16BE, per
the public Adobe CMap naming convention (see :class:`_Utf16BEMap`).
Round 5 extends this to the common LEGACY-coded predefined CMaps
(GBK-EUC-H, 90ms-RKSJ-H, ETen-B5-H, KSC-EUC-H, …): their character-code
space IS a national legacy encoding that Python's stdlib codecs
implement (GBK, Shift-JIS/CP932, Big5, EUC-KR, …), so show strings
decode through the named codec with no Adobe table shipped (see
:data:`_LEGACY_CMAP_CODECS` for the equivalence argument and its
limits). CMaps outside both families (rare supplements like Hojo-EUC-H,
Hong Kong extensions) remain out of contract (countable
``unsupported_cmap`` status). Any structural error raises
:class:`PDFParseError`;
callers map that to a ``parse_failed`` metric row, never a task failure
(reference behavior #18, src/main.ts:259-262, deliberately softened from
fail-stop to per-row status).
"""

from __future__ import annotations

import re
import zlib
from codecs import charmap_decode as _charmap_decode

__all__ = [
    "PDFParseError",
    "PDFEncryptedError",
    "PDFUnsupportedCMapError",
    "extract_pdf_text",
    "PDFDocument",
]

_WHITESPACE = b"\x00\t\n\x0c\r "
_DELIMS = b"()<>[]{}/%"


class PDFParseError(Exception):
    """Raised on any structural problem in the PDF byte stream."""


class PDFUnsupportedCMapError(PDFParseError):
    """Text was shown through a predefined CID CMap outside BOTH
    decodable families (module docstring: Uni*-UCS2/UTF16 → UTF-16BE
    since round 4; the common legacy-coded maps → stdlib codecs since
    round 5) with no embedded /ToUnicode — e.g. supplement-plane maps
    like Hojo-EUC-H or regional extensions not covered by a stdlib
    codec. Out of contract but COUNTABLE: callers surface a distinct
    'unsupported_cmap' row status instead of folding the gap into
    'parse_failed'. Raised lazily, only when a show op actually uses
    such a font."""


class PDFEncryptedError(PDFParseError):
    """The document is encrypted and CANNOT be decrypted here.

    Standard-security-handler documents that an EMPTY password opens —
    RC4 V1/V2 (R2-R3), AES-128 V4/AESV2, and AES-256 V5/R5/R6 (round
    4), whether the empty password verifies as the USER password or as
    the OWNER password (round 5 adds the legacy R2-R4 owner-side
    Algorithm 7; V5 had both sides from the start) — are decrypted
    transparently: pdfjs parity, reference main.ts:149. This error
    therefore means "cannot decrypt": both passwords non-empty, a
    public-key handler, non-AESV3 V5 crypt filters, or any other
    unsupported scheme. Raised early (at xref load) so callers can
    surface a distinct 'encrypted' row status instead of a confusing
    downstream tokenizer failure. Subclasses PDFParseError so untyped
    callers still treat it as a parse failure."""


# ── stream filters (PDF 32000-1 §7.4) ────────────────────────────────────────


# A crawl-scale kernel must survive adversarial inputs: Flate and LZW
# outputs are unbounded (classic decompression bombs — LZW worst case is
# quadratic in input), so decoded streams are capped. Far above any real
# content stream; a bombed row becomes one parse_failed, not an executor OOM.
MAX_DECODED_STREAM_BYTES = 256 << 20


def _flate_decode(raw: bytes) -> bytes:
    try:
        d = zlib.decompressobj()
        out = d.decompress(raw, MAX_DECODED_STREAM_BYTES)
        if d.unconsumed_tail:
            raise PDFParseError("FlateDecode: decoded stream exceeds cap")
        if not d.eof:
            # truncated deflate data: plain zlib.decompress raised here;
            # returning the partial prefix would mislabel the row 'ok'
            raise PDFParseError("FlateDecode: truncated stream")
        return out
    except zlib.error as e:
        raise PDFParseError(f"FlateDecode failed: {e}") from None


def _lzw_decode(raw: bytes, early: int = 1) -> bytes:
    """LZWDecode (§7.4.4): 9→12-bit MSB-first codes, 256=clear, 257=EOD.

    `early` is /EarlyChange (default 1): the code width grows one code
    early, matching TIFF/PDF writers. Pinned against the spec's worked
    example in tests (45×5 65 45×3 66 ⇄ 80 0B 60 50 22 0C 0C 85 01)."""
    out = bytearray()
    base = [bytes([i]) for i in range(256)] + [b"", b""]  # 256/257 control
    table = list(base)
    prev: bytes | None = None
    width = 9
    mask = (1 << width) - 1
    threshold = (1 << width) - early
    buf = 0
    bits = 0
    for byte in raw:
        buf = (buf << 8) | byte
        bits += 8
        while bits >= width:
            bits -= width
            code = (buf >> bits) & mask
            if code == 256:
                table = list(base)
                width = 9
                mask = 511
                threshold = 512 - early
                prev = None
                continue
            if code == 257:
                return bytes(out)
            next_code = len(table)
            if prev is None:
                if code >= next_code:
                    raise PDFParseError(f"LZW: bad first code {code}")
                entry = table[code]
                out += entry
                prev = entry
            else:
                if code < next_code:
                    entry = table[code]
                elif code == next_code:
                    entry = prev + prev[:1]  # the KwKwK case
                else:
                    raise PDFParseError(f"LZW: code {code} out of range")
                out += entry
                if len(out) > MAX_DECODED_STREAM_BYTES:
                    raise PDFParseError("LZWDecode: decoded stream exceeds cap")
                table.append(prev + entry[:1])
                prev = entry
                if len(table) >= threshold and width < 12:
                    width += 1
                    mask = (1 << width) - 1
                    threshold = (1 << width) - early
        buf &= mask  # keep the residue bounded
    return bytes(out)  # missing EOD: tolerate (spec writers always emit it)


def _ascii_hex_decode(raw: bytes) -> bytes:
    end = raw.find(b">")
    body = raw[:end] if end >= 0 else raw
    digits = bytes(c for c in body if c not in _WHITESPACE)
    if len(digits) % 2:
        digits += b"0"
    try:
        return bytes.fromhex(digits.decode("ascii"))
    except (ValueError, UnicodeDecodeError):
        raise PDFParseError("ASCIIHexDecode: bad hex digit") from None


def _ascii85_decode(raw: bytes) -> bytes:
    """Vectorized fast path (numpy base-85 per 5-char group); the strict
    per-char path handles 'z' groups and reports malformed input."""
    body = raw[2:] if raw.startswith(b"<~") else raw
    end = body.find(b"~")
    if end >= 0:
        body = body[:end]
    compact = bytes(body).translate(None, _WHITESPACE)  # C-level ws strip
    if b"z" not in compact and len(compact) != 1:
        import numpy as np

        vals = np.frombuffer(compact, dtype=np.uint8).astype(np.int64) - 33
        if len(vals) and (vals.min() < 0 or vals.max() > 84):
            raise PDFParseError("ASCII85Decode: bad char")
        k = len(vals) % 5
        if k == 1:
            raise PDFParseError("ASCII85Decode: dangling single char")
        pad = (5 - k) % 5
        if pad:
            vals = np.concatenate([vals, np.full(pad, 84, dtype=np.int64)])
        groups = vals.reshape(-1, 5)
        weights = np.array([85**4, 85**3, 85**2, 85, 1], dtype=np.int64)
        v = groups @ weights
        if len(v) and v.max() > 0xFFFFFFFF:
            raise PDFParseError("ASCII85Decode: group overflow")
        out = v.astype(">u4").tobytes()
        return out[: len(out) - pad] if pad else out
    return _ascii85_decode_strict(compact)


def _ascii85_decode_strict(compact: bytes) -> bytes:
    out = bytearray()
    group: list[int] = []
    for c in compact:
        if c == 0x7A:  # 'z' — four zero bytes (only between groups)
            if group:
                raise PDFParseError("ASCII85Decode: 'z' inside group")
            out += b"\x00\x00\x00\x00"
            continue
        if not 0x21 <= c <= 0x75:
            raise PDFParseError(f"ASCII85Decode: bad char {c:#x}")
        group.append(c - 33)
        if len(group) == 5:
            v = 0
            for g in group:
                v = v * 85 + g
            if v > 0xFFFFFFFF:
                raise PDFParseError("ASCII85Decode: group overflow")
            out += v.to_bytes(4, "big")
            group = []
    if group:
        if len(group) == 1:
            raise PDFParseError("ASCII85Decode: dangling single char")
        k = len(group)
        group += [84] * (5 - k)
        v = 0
        for g in group:
            v = v * 85 + g
        if v > 0xFFFFFFFF:  # as the fast path reports it
            raise PDFParseError("ASCII85Decode: group overflow")
        out += v.to_bytes(4, "big")[: k - 1]
    return bytes(out)


def _runlength_decode(raw: bytes) -> bytes:
    # RLE expands ≤128× per stage and its OUTPUT bytes can themselves be
    # valid repeat headers, so a chained /Filter [/RL /RL …] compounds
    # exponentially — the cap must hold inside the decoder, not just at
    # the Flate/LZW stages (ADVICE r2 #1).
    out = bytearray()
    i = 0
    n = len(raw)
    while i < n:
        length = raw[i]
        i += 1
        if length == 128:  # EOD
            return bytes(out)
        if length < 128:
            chunk = raw[i : i + length + 1]
            if len(chunk) != length + 1:
                raise PDFParseError("RunLengthDecode: literal run truncated")
            out += chunk
            i += length + 1
        else:
            if i >= n:
                raise PDFParseError("RunLengthDecode: repeat run truncated")
            out += bytes([raw[i]]) * (257 - length)
            i += 1
        # after every run, so a stream with no EOD stops at the cap too
        if len(out) > MAX_DECODED_STREAM_BYTES:
            raise PDFParseError("RunLengthDecode: decoded stream exceeds cap")
    return bytes(out)  # missing EOD: tolerate


def _apply_predictor(data: bytes, predictor: int, colors: int, bpc: int,
                     columns: int) -> bytes:
    """Undo /DecodeParms predictors: 2 = TIFF horizontal, ≥10 = PNG row
    filters (None/Sub/Up/Average/Paeth) — needed by virtually every xref
    stream in the wild."""
    if predictor <= 1:
        return data
    if colors < 1 or bpc < 1 or columns < 1:
        # a row length of zero or less divides by zero or skips every row
        raise PDFParseError("predictor: /Colors, /BitsPerComponent and "
                            "/Columns must be positive")
    bpp = max(1, (colors * bpc) // 8)
    row_len = (columns * colors * bpc + 7) // 8
    if predictor == 2:
        if bpc != 8:
            raise PDFParseError("TIFF predictor: only 8-bit components supported")
        out = bytearray(data)
        for r in range(0, len(out) - row_len + 1, row_len):
            for j in range(r + bpp, r + row_len):
                out[j] = (out[j] + out[j - bpp]) & 0xFF
        return bytes(out)
    if predictor < 10:
        raise PDFParseError(f"unsupported predictor {predictor}")
    # PNG predictors: each row prefixed with a filter-type byte
    stride = row_len + 1
    if len(data) % stride:
        raise PDFParseError("PNG predictor: data not a whole number of rows")
    out = bytearray()
    prev_row = bytearray(row_len)
    for r in range(0, len(data), stride):
        ftype = data[r]
        row = bytearray(data[r + 1 : r + stride])
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub
            for j in range(bpp, row_len):
                row[j] = (row[j] + row[j - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for j in range(row_len):
                row[j] = (row[j] + prev_row[j]) & 0xFF
        elif ftype == 3:  # Average
            for j in range(row_len):
                left = row[j - bpp] if j >= bpp else 0
                row[j] = (row[j] + ((left + prev_row[j]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for j in range(row_len):
                a = row[j - bpp] if j >= bpp else 0
                b = prev_row[j]
                c = prev_row[j - bpp] if j >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[j] = (row[j] + pred) & 0xFF
        else:
            raise PDFParseError(f"PNG predictor: bad filter type {ftype}")
        out += row
        prev_row = row
    return bytes(out)


_FILTER_ALIASES = {
    "Fl": "FlateDecode",
    "LZW": "LZWDecode",
    "AHx": "ASCIIHexDecode",
    "A85": "ASCII85Decode",
    "RL": "RunLengthDecode",
}


class _StdCrypt:
    """Standard security handler, empty password only — verified as the
    user password OR, failing that, as the owner password (§7.6.3,
    Algorithm 7; ISO 32000-2 §7.6.4 for V5).

    Supports V1/V2 (RC4, R2-R3), V4 with /StdCF /CFM /V2 (RC4) or
    /AESV2 (AES-128-CBC), and V5 R5/R6 /AESV3 (AES-256-CBC, round 4 —
    hardened-hash /U verification, /UE file-key retrieval, /Perms
    check; the file key encrypts every object directly, no per-object
    derivation). /Identity crypt filters pass through. Anything else —
    a non-empty user password, public-key handlers — raises
    PDFEncryptedError at construction, which callers surface as the
    distinct 'encrypted' row status."""

    def __init__(self, enc: dict, id0: bytes):
        from . import crypto

        if str(enc.get("Filter", "")) != "Standard":
            raise PDFEncryptedError("unsupported security handler")
        v = enc.get("V", 0)
        r = enc.get("R", 2)
        if not isinstance(v, int) or not isinstance(r, int):
            raise PDFEncryptedError("bad /Encrypt dict")
        o = enc.get("O")
        u = enc.get("U")
        p = enc.get("P")
        if not isinstance(o, (bytes, bytearray)) or not isinstance(
            u, (bytes, bytearray)
        ) or not isinstance(p, int):
            # encrypted but not decryptable here (incl. degenerate
            # /Encrypt dicts) → the distinct 'encrypted' row status
            raise PDFEncryptedError("bad /Encrypt dict (O/U/P)")
        length = enc.get("Length", 40)
        self.encrypt_metadata = enc.get("EncryptMetadata", True) is not False
        self.aes_strings = False
        self.aes_streams = False
        self.aes_stdcf = False  # the StdCF method, independent of StmF/StrF
        self.identity_strings = False
        self.identity_streams = False
        self.v5 = False
        if v == 5 and r in (5, 6):
            self._init_v5(enc, crypto, bytes(o), bytes(u), r)
            return
        if v in (1, 2) and r in (2, 3):
            key_bits = 40 if v == 1 else (length if isinstance(length, int) else 40)
            # spec bounds (40-128, byte-aligned): /Length 0 would derive
            # an EMPTY file key and rc4 would ZeroDivisionError its way
            # into parse_failed instead of the 'encrypted' status (r3
            # review) — out-of-range lengths are "cannot decrypt"
            if not 40 <= key_bits <= 128 or key_bits % 8:
                raise PDFEncryptedError(f"invalid /Length {key_bits}")
        elif v == 4 and r == 4:
            cf = enc.get("CF")
            cf = cf if isinstance(cf, dict) else {}
            stdcf = cf.get("StdCF")
            stdcf = stdcf if isinstance(stdcf, dict) else {}
            cfm = str(stdcf.get("CFM", ""))
            if cfm == "AESV2":
                aes = True
            elif cfm == "V2":
                aes = False
            else:
                raise PDFEncryptedError(f"unsupported crypt filter method {cfm!r}")
            stmf = str(enc.get("StmF", "Identity"))
            strf = str(enc.get("StrF", "Identity"))
            # same refusal the V5 path got in r4: a custom crypt-filter
            # name must surface 'encrypted', not be decrypted with
            # StdCF's method into mojibake marked 'ok'
            for name in (stmf, strf):
                if name not in ("Identity", "StdCF"):
                    raise PDFEncryptedError(f"unsupported V4 crypt filter /{name}")
            self.identity_streams = stmf == "Identity"
            self.identity_strings = strf == "Identity"
            self.aes_stdcf = aes
            self.aes_streams = aes and not self.identity_streams
            self.aes_strings = aes and not self.identity_strings
            # V4 key length lives in the crypt-filter dict, in BYTES per
            # ISO 32000-1 Table 25 (legacy writers used bits); the
            # top-level /Length is a fallback, and AESV2 is 128-bit
            stdcf_len = stdcf.get("Length")
            if isinstance(stdcf_len, int) and stdcf_len > 0:
                # CF /Length is BYTES (5-16) per Table 25; legacy writers
                # used bits — pivot at 16, not 40: a legacy bits-value 40
                # must read as 40-bit RC4, not 40 bytes = 320 bits
                key_bits = stdcf_len * 8 if stdcf_len <= 16 else stdcf_len
            elif isinstance(length, int) and length >= 40:
                key_bits = length
            else:
                key_bits = 128
            if not 40 <= key_bits <= 128 or key_bits % 8:
                raise PDFEncryptedError(f"invalid V4 key length {key_bits}")
        else:
            raise PDFEncryptedError(f"unsupported encryption V={v} R={r}")
        key = crypto.file_key(
            b"", bytes(o), p, id0, r, key_bits, self.encrypt_metadata
        )
        if not crypto.verify_user_password(key, bytes(u), id0, r):
            # The empty password is not the USER password — try it as
            # the OWNER password (Algorithm 7, §7.6.3.4.8; round 5,
            # pdfjs tries both sides too): decrypt /O with the
            # owner-derived RC4 key to recover the padded user
            # password, then run the normal user chain with it. Opens
            # the (real, writer-emitted) corner where /O was computed
            # from a literally-empty owner password while the user
            # password is set; the V5 path has had its owner side since
            # round 4. A wrong recovery simply fails the /U check.
            recovered = crypto.recover_user_password(b"", bytes(o), r, key_bits)
            key = crypto.file_key(
                recovered, bytes(o), p, id0, r, key_bits, self.encrypt_metadata
            )
            if not crypto.verify_user_password(key, bytes(u), id0, r):
                raise PDFEncryptedError("document requires a password")
        self.key = key
        self.r = r
        self._crypto = crypto
        self._okeys: dict[tuple[int, int, bool], bytes] = {}

    def _init_v5(self, enc: dict, crypto, o: bytes, u: bytes, r: int) -> None:
        """AES-256 (ISO 32000-2 §7.6.4): verify the empty password against
        /U (user) or /O (owner, udata = the 48-byte /U), retrieve the
        256-bit file key from /UE or /OE, and sanity-check /Perms."""
        cf = enc.get("CF")
        cf = cf if isinstance(cf, dict) else {}
        stdcf = cf.get("StdCF")
        stdcf = stdcf if isinstance(stdcf, dict) else {}
        cfm = str(stdcf.get("CFM", "AESV3"))  # V5 default per §7.6.4.2
        if cfm != "AESV3":
            raise PDFEncryptedError(f"unsupported V5 crypt filter method {cfm!r}")
        stmf = str(enc.get("StmF", "Identity"))
        strf = str(enc.get("StrF", "Identity"))
        # only the named StdCF (validated AESV3 above) or Identity are
        # decryptable — a custom crypt-filter name must refuse with the
        # distinct 'encrypted' status, not be decrypted with the AESV3
        # file key into garbage (r4 review)
        for name in (stmf, strf):
            if name not in ("Identity", "StdCF"):
                raise PDFEncryptedError(f"unsupported V5 crypt filter /{name}")
        self.identity_streams = stmf == "Identity"
        self.identity_strings = strf == "Identity"
        self.aes_stdcf = True
        self.aes_streams = not self.identity_streams
        self.aes_strings = not self.identity_strings
        ue = enc.get("UE")
        oe = enc.get("OE")
        if len(u) >= 48 and crypto.verify_user_password_r6(b"", u, r):
            if not isinstance(ue, (bytes, bytearray)) or len(ue) < 32:
                raise PDFEncryptedError("V5: missing /UE")
            key = crypto.retrieve_file_key_r6(b"", u, bytes(ue), r)
        elif crypto.verify_owner_password_r6(b"", o, u, r):
            if not isinstance(oe, (bytes, bytearray)) or len(oe) < 32:
                raise PDFEncryptedError("V5: missing /OE")
            key = crypto.retrieve_file_key_r6_owner(b"", o, u, bytes(oe), r)
        else:
            raise PDFEncryptedError("document requires a user password")
        perms = enc.get("Perms")
        if isinstance(perms, (bytes, bytearray)):
            if not crypto.check_perms_r6(bytes(perms), key):
                # a verified password with an inconsistent /Perms means a
                # corrupt or tampered key chain — refuse rather than emit
                # garbage plaintext
                raise PDFEncryptedError("V5: /Perms check failed")
        self.key = key
        self.r = r
        self.v5 = True
        self._crypto = crypto
        self._okeys = {}

    def _okey(self, num: int, gen: int, aes: bool) -> bytes:
        k = (num, gen, aes)
        out = self._okeys.get(k)
        if out is None:
            out = self._crypto.object_key(self.key, num, gen, aes)
            self._okeys[k] = out
        return out

    def _apply(self, num: int, gen: int, data: bytes, aes: bool) -> bytes:
        if aes:
            if len(data) < 32:
                # sub-block AES data (e.g. a writer storing an empty
                # string as 0 bytes instead of IV+pad block) decrypts to
                # empty in pdfjs — match that leniency instead of failing
                # the whole document (ADVICE r3)
                return b""
            key = self.key if self.v5 else self._okey(num, gen, True)
            try:
                return self._crypto.aes128_cbc_decrypt(key, data)
            except ValueError as e:
                raise PDFParseError(f"AES stream decryption failed: {e}") from None
        return self._crypto.rc4(self._okey(num, gen, False), data)

    def decrypt_stream(
        self, num: int, gen: int, data: bytes, *, force_stdcf: bool = False
    ) -> bytes:
        """`force_stdcf` applies the StdCF method even when the document
        default StmF is /Identity — a per-stream /Filter /Crypt
        /Name /StdCF overrides the default (§7.4.10)."""
        if force_stdcf:
            return self._apply(num, gen, data, self.aes_stdcf)
        if self.identity_streams:
            return data
        return self._apply(num, gen, data, self.aes_streams)

    def decrypt_string(self, num: int, gen: int, data: bytes) -> bytes:
        if self.identity_strings:
            return data
        return self._apply(num, gen, data, self.aes_strings)


class _Ref:
    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int):
        self.num = num
        self.gen = gen

    def __repr__(self):  # pragma: no cover
        return f"{self.num} {self.gen} R"


class _MissingObjectError(PDFParseError):
    """An object number with NO table entry at all (dangling reference).
    Distinct from every offset-lie failure class because it must NOT
    trigger xref reconstruction (r5 review) — tolerant callers treat it
    like the spec's null object."""


# xref-reconstruction scan (round 5): an indirect-object header at a
# line start. The newline anchor (plus the digit lookbehind guarding
# against splitting a longer number) is what keeps in-stream false
# positives rare; a rare survivor only poisons its own objnum at access
# time (see _reconstruct_xref).
_RECON_OBJ_RE = re.compile(
    rb"(?:^|[\r\n])[\x00\t\x0c ]*(?<![0-9])"
    rb"(\d{1,10})[\x00\t\x0c ]+(\d{1,5})[\x00\t\x0c ]+obj"
    rb"(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$)"
)


class _Name(str):
    """A PDF name token (/Foo) — distinct from a string value."""


class _Stream:
    __slots__ = ("dict", "raw", "objnum", "gen")

    def __init__(self, d: dict, raw: bytes):
        self.dict = d
        self.raw = raw
        # owning indirect object, recorded at load time — the per-object
        # decryption key needs it; None for streams parsed outside the
        # object table (xref streams are never encrypted, §7.5.8.2)
        self.objnum: int | None = None
        self.gen: int = 0


# object-lexer patterns: one C-level match per whitespace/comment run,
# bare token or name (the same byte classes as _WHITESPACE and _DELIMS)
_WS_RUN = rb"(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)*+"
_REGULAR = rb"([^\x00\t\n\x0c\r ()<>\[\]{}/%]*+)"
_WS_RUN_RE = re.compile(_WS_RUN)
_TOKEN_RE = re.compile(_WS_RUN + _REGULAR)
_NAME_RE = re.compile(rb"/" + _REGULAR)

# Simple dictionary entries and array elements at one match each. A
# value is a name, an `N G R` ref, an int, a real, true/false/null or a
# literal with no parens and no backslash; anything else (a container,
# a hex string, a `#` name, a comment inside a ref, a `1_0` gen, an int
# over 32 digits) fails the match and the recursive parser takes over
# at that byte. Exactness against the recursive parser:
#   * every bare token must end at whitespace, a delimiter or the end
#     (_END), exactly where read_token would stop;
#   * an int is not taken where _parse_object_inner would read a ref:
#     its lookahead is that parser's gen token (anything int() accepts,
#     `[+-]?\d+(?:_\d+)*`) followed by a standalone `R`;
#   * ints are capped at 32 digits, so int()'s digit limit still raises
#     on the recursive path, and a name with `#` falls back for its
#     escapes.
# Group numbers line up in both patterns (_ARRAY_ELEM_RE opens with an
# empty group 1 in place of the key), so _simple_value serves both.
_END = rb"(?![^\x00\t\n\x0c\r ()<>\[\]{}/%])"
_SIMPLE_VALUE = (
    rb"(?:/([^\x00\t\n\x0c\r ()<>\[\]{}/%#]*+)(?!#)"  # 2 name
    rb"|([+-]?\d{1,32}+)" + _END + _WS_RUN  # 3 ref num
    + rb"([+-]?\d{1,32}+)" + _END + _WS_RUN + rb"R" + _END  # 4 ref gen
    + rb"|([+-]?\d{1,32}+)" + _END  # 5 int, not the head of a ref
    + rb"(?!" + _WS_RUN + rb"[+-]?\d+(?:_\d+)*" + _END + _WS_RUN + rb"R" + _END + rb")"
    rb"|([+-]?(?:\d++\.\d*+|\.\d++))" + _END  # 6 real
    + rb"|(true|false|null)" + _END  # 7 keyword
    + rb"|\(([^()\\]*+)\))"  # 8 literal
    + _WS_RUN
)
_DICT_ENTRY_RE = re.compile(
    rb"/([^\x00\t\n\x0c\r ()<>\[\]{}/%#]*+)(?!#)" + _WS_RUN + _SIMPLE_VALUE
)
_ARRAY_ELEM_RE = re.compile(rb"()" + _SIMPLE_VALUE)
_KEYWORDS = {b"true": True, b"false": False, b"null": None}


def _simple_value(m: re.Match):
    """The value of a _DICT_ENTRY_RE / _ARRAY_ELEM_RE match."""
    gi = m.lastindex
    if gi == 2:
        return _Name(m.group(2).decode("latin-1"))
    if gi == 4:
        return _Ref(int(m.group(3)), int(m.group(4)))
    if gi == 5:
        return int(m.group(5))
    if gi == 6:
        return float(m.group(6))
    if gi == 7:
        return _KEYWORDS[m.group(7)]
    return m.group(8)


# one classic xref row, `offset gen n|f`, as plain digits
_XREF_ROW_RE = re.compile(
    _WS_RUN + rb"(\d{1,32}+)" + _END + _WS_RUN + rb"\d{1,32}+" + _END + _WS_RUN
    + rb"([nf])" + _END
)


class _Lexer:
    """Cursor-based tokenizer over the raw PDF bytes."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos
        self.depth = 0  # container-nesting guard (see parse_object)

    def _skip_ws(self) -> None:
        # match() clamps a past-the-end pos back to len: leave it alone
        if self.pos < len(self.data):
            self.pos = _WS_RUN_RE.match(self.data, self.pos).end()

    def peek_bytes(self, k: int) -> bytes:
        return self.data[self.pos : self.pos + k]

    def expect_keyword(self, kw: bytes) -> None:
        self._skip_ws()
        if not self.data.startswith(kw, self.pos):
            raise PDFParseError(f"expected {kw!r} at offset {self.pos}")
        self.pos += len(kw)

    def read_int(self) -> int:
        tok = self.read_token()
        try:
            return int(tok)
        except ValueError:
            raise PDFParseError(f"expected integer, got {tok[:20]!r}") from None

    def read_token(self) -> bytes:
        """Read a bare regular token (keyword or number)."""
        d = self.data
        if self.pos < len(d):
            m = _TOKEN_RE.match(d, self.pos)
            self.pos, end = m.span(1)  # past the ws/comments
            if end > self.pos:
                self.pos = end
                return m.group(1)
        if self.pos >= len(d):
            raise PDFParseError("unexpected EOF")
        raise PDFParseError(f"unexpected delimiter at {self.pos}: {d[self.pos:self.pos+1]!r}")

    # ── object parsing ──────────────────────────────────────────────────

    def parse_object(self):
        # crafted '[[[[…' / '<<<<…' nesting must yield PDFParseError, not
        # a RecursionError escaping the kernel's error contract
        self.depth += 1
        if self.depth > 200:
            raise PDFParseError("object nesting too deep")
        try:
            return self._parse_object_inner()
        finally:
            self.depth -= 1

    def _parse_object_inner(self):
        self._skip_ws()
        d, n = self.data, len(self.data)
        if self.pos >= n:
            raise PDFParseError("unexpected EOF while parsing object")
        c = d[self.pos]
        if d.startswith(b"<<", self.pos):
            return self._parse_dict()
        if c == 0x3C:  # '<' hex string
            return self._parse_hex_string()
        if c == 0x28:  # '('
            return self._parse_literal_string()
        if c == 0x2F:  # '/'
            return self._parse_name()
        if c == 0x5B:  # '['
            return self._parse_array()
        tok = self.read_token()
        if tok == b"true":
            return True
        if tok == b"false":
            return False
        if tok == b"null":
            return None
        # number — possibly the start of an indirect reference "N G R"
        try:
            if b"." in tok:
                return float(tok)
            num = int(tok)
        except ValueError:
            raise PDFParseError(f"bad token {tok!r} at {self.pos}") from None
        save = self.pos
        try:
            self._skip_ws()
            gen_tok = self.read_token()
            gen = int(gen_tok)
            self._skip_ws()
            if d.startswith(b"R", self.pos) and (
                self.pos + 1 >= n or d[self.pos + 1] in _WHITESPACE or d[self.pos + 1] in _DELIMS
            ):
                self.pos += 1
                return _Ref(num, gen)
        except (ValueError, PDFParseError):
            pass
        self.pos = save
        return num

    def _parse_name(self) -> _Name:
        m = _NAME_RE.match(self.data, self.pos)
        raw = m.group(1)
        if b"#" not in raw:
            self.pos = m.end()
            return _Name(raw.decode("latin-1"))
        # '#xx' escapes keep the per-byte loop: its int(…, 16) slice may
        # take in a delimiter past the name ('/A#1 ' is 'A\x01')
        self.pos += 1  # '/'
        d, n = self.data, len(self.data)
        out = bytearray()
        while self.pos < n and d[self.pos] not in _WHITESPACE and d[self.pos] not in _DELIMS:
            if d[self.pos] == 0x23 and self.pos + 2 < n:  # '#xx' escape
                try:
                    out.append(int(d[self.pos + 1 : self.pos + 3], 16))
                    self.pos += 3
                    continue
                except ValueError:
                    pass
            out.append(d[self.pos])
            self.pos += 1
        return _Name(out.decode("latin-1"))

    def _parse_array(self) -> list:
        self.pos += 1  # '['
        d = self.data
        out = []
        # an element one level down must still trip parse_object's guard
        elem = _ARRAY_ELEM_RE.match if self.depth < 200 else None
        while True:
            self._skip_ws()
            if elem is not None:
                while (m := elem(d, self.pos)) is not None:
                    out.append(_simple_value(m))
                    self.pos = m.end()
            if self.pos >= len(d):
                raise PDFParseError("unterminated array")
            if d[self.pos] == 0x5D:  # ']'
                self.pos += 1
                return out
            out.append(self.parse_object())

    def _parse_dict(self):
        self.pos += 2  # '<<'
        d = self.data
        out: dict = {}
        entry = _DICT_ENTRY_RE.match if self.depth < 200 else None
        while True:
            self._skip_ws()
            if entry is not None:
                while (m := entry(d, self.pos)) is not None:
                    out[m.group(1).decode("latin-1")] = _simple_value(m)
                    self.pos = m.end()
            if self.data.startswith(b">>", self.pos):
                self.pos += 2
                break
            if self.pos >= len(self.data):
                raise PDFParseError("unterminated dict")
            key = self.parse_object()
            if not isinstance(key, _Name):
                raise PDFParseError(f"dict key is not a name at {self.pos}")
            out[str(key)] = self.parse_object()
        # stream?
        save = self.pos
        self._skip_ws()
        if self.data.startswith(b"stream", self.pos):
            self.pos += 6
            if self.data.startswith(b"\r\n", self.pos):
                self.pos += 2
            elif self.data.startswith(b"\n", self.pos):
                self.pos += 1
            length = out.get("Length")
            if isinstance(length, _Ref):
                # resolved later by the document; locate endstream textually
                end = self.data.find(b"endstream", self.pos)
                if end < 0:
                    raise PDFParseError("unterminated stream")
                raw = self.data[self.pos : end]
                self.pos = end + len(b"endstream")
                # strip exactly ONE pre-endstream EOL: rstrip would eat
                # payload bytes when the stream data itself ends in \n or
                # \r (~1/64 of compressed streams — r3 review)
                if raw.endswith(b"\r\n"):
                    raw = raw[:-2]
                elif raw.endswith((b"\n", b"\r")):
                    raw = raw[:-1]
                return _Stream(out, raw)
            if not isinstance(length, int):
                raise PDFParseError("stream without integer /Length")
            raw = self.data[self.pos : self.pos + length]
            if len(raw) != length:
                raise PDFParseError("stream truncated")
            self.pos += length
            self.expect_keyword(b"endstream")
            return _Stream(out, raw)
        self.pos = save
        return out

    def _parse_literal_string(self) -> bytes:
        d, n = self.data, len(self.data)
        self.pos += 1  # '('
        out = bytearray()
        depth = 1
        while self.pos < n:
            c = d[self.pos]
            if c == 0x5C:  # backslash
                self.pos += 1
                if self.pos >= n:
                    break
                e = d[self.pos]
                if e in b"nrtbf":
                    out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}[e])
                    self.pos += 1
                elif e in b"()\\":
                    out.append(e)
                    self.pos += 1
                elif e in b"\r\n":  # line continuation
                    self.pos += 1
                    if e == 0x0D and self.pos < n and d[self.pos] == 0x0A:
                        self.pos += 1
                elif 0x30 <= e <= 0x37:  # octal, 1-3 digits
                    oct_digits = bytearray()
                    while len(oct_digits) < 3 and self.pos < n and 0x30 <= d[self.pos] <= 0x37:
                        oct_digits.append(d[self.pos])
                        self.pos += 1
                    out.append(int(oct_digits, 8) & 0xFF)
                else:
                    out.append(e)
                    self.pos += 1
            elif c == 0x28:  # '('
                depth += 1
                out.append(c)
                self.pos += 1
            elif c == 0x29:  # ')'
                depth -= 1
                if depth == 0:
                    self.pos += 1
                    return bytes(out)
                out.append(c)
                self.pos += 1
            else:
                out.append(c)
                self.pos += 1
        raise PDFParseError("unterminated literal string")

    def _parse_hex_string(self) -> bytes:
        d, n = self.data, len(self.data)
        self.pos += 1  # '<'
        digits = bytearray()
        while self.pos < n:
            c = d[self.pos]
            if c == 0x3E:  # '>'
                self.pos += 1
                if len(digits) % 2:
                    digits.append(0x30)
                try:
                    return bytes.fromhex(digits.decode("ascii"))
                except ValueError:
                    raise PDFParseError("bad hex string") from None
            if c not in _WHITESPACE:
                digits.append(c)
            self.pos += 1
        raise PDFParseError("unterminated hex string")


class PDFDocument:
    """Minimal PDF document model: xref walk + object resolution + page tree."""

    def __init__(self, data: bytes):
        h = data[:1024].find(b"%PDF-")
        if h < 0:
            raise PDFParseError("missing %PDF- header")
        if h:
            # preamble-prefixed file (saved HTTP headers, mail wrapper):
            # writers compute xref offsets relative to the header, so
            # rebase — admitting the header without rebasing made every
            # such file a guaranteed parse_failed (r3 review; pdfjs
            # rebases the same way)
            data = data[h:]
        self.data = data
        self.xref: dict[int, int] = {}
        # obj num → (container ObjStm number, index inside it) — PDF 1.5+
        self._xref_objstm: dict[int, tuple[int, int]] = {}
        self.trailer: dict = {}
        self._cache: dict[int, object] = {}
        self._objstm_cache: dict[int, tuple[bytes, int, list[tuple[int, int]]]] = {}
        self._objstm_loading: set[int] = set()
        self._crypt: _StdCrypt | None = None
        self._form_cache: dict[tuple, tuple] = {}
        self._form_decodes = 0
        self._page_count = 0
        self._font_dec_cache: dict[int, object] = {}
        self._recon_tried = False  # one scan-recovery attempt per doc
        self._load_xref()

    # ── xref / trailer ──────────────────────────────────────────────────

    def _load_xref(self) -> None:
        """Normal xref load; on structural failure, fall back to full
        reconstruction by scanning for object headers (round 5 — pdfjs
        does the same recovery for crawl-damaged files: bad startxref,
        corrupt tables, wrong offsets, missing trailer). Encryption
        refusals are NOT recoverable and propagate as-is."""
        try:
            self._load_xref_normal()
        except PDFEncryptedError:
            raise
        except PDFParseError as e:
            self._recon_tried = True
            self._reconstruct_xref(e)

    def _load_xref_normal(self) -> None:
        tail = self.data[-2048:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m is None:
            raise PDFParseError("startxref not found")
        offset = int(m.group(1))
        seen = set()
        while True:
            if offset in seen or offset >= len(self.data):
                break
            seen.add(offset)
            trailer = self._load_xref_section(offset)
            for k, v in trailer.items():
                self.trailer.setdefault(k, v)
            prev = trailer.get("Prev")
            if not isinstance(prev, int):
                break
            offset = prev
        if "Encrypt" in self.trailer:
            self._setup_encryption()
        if "Root" not in self.trailer:
            raise PDFParseError("trailer has no /Root")

    def _reconstruct_xref(self, orig: PDFParseError) -> None:
        """Rebuild the object table by scanning raw bytes for
        ``num gen obj`` headers (newest duplicate wins — incremental
        updates append later versions), recover the trailer from the
        last ``trailer`` dict (or by locating the /Catalog object when
        none parses), and register objects inside any /ObjStm found.

        A header-shaped byte run inside a binary stream can record a
        bogus offset; that objnum then fails at ACCESS time exactly like
        any other damaged object (one parse_failed row), so the scan
        needs no stream-skipping state machine. Truncated objects keep
        failing at access too — reconstruction recovers the TABLE, not
        the bytes, so a half-downloaded crawl row stays parse_failed."""
        # reset EVERYTHING the failed normal load (or prior extraction
        # against the bad table) derived — leaving decoded-ObjStm, form,
        # or font caches keyed by object numbers the scan is about to
        # redefine would mix two inconsistent views of the document in
        # one 'ok' row (r5 review). _objstm_loading is cleared too:
        # recovery can fire from INSIDE an _objstm frame (before its
        # finally-discard runs), and the stale guard entry would block
        # re-registration of that very stream's contents.
        self.xref.clear()
        self._xref_objstm.clear()
        self.trailer = {}
        self._cache.clear()
        self._objstm_cache.clear()
        self._objstm_loading.clear()
        self._form_cache.clear()
        self._font_dec_cache.clear()
        self._crypt = None
        data = self.data
        for m in _RECON_OBJ_RE.finditer(data):
            self.xref[int(m.group(1))] = m.start(1)  # last (newest) wins
        if not self.xref:
            raise orig
        # newest trailer dict wins; older ones fill gaps (mirrors the
        # normal path's setdefault-walk from newest to oldest)
        trailers = []
        for m in re.finditer(rb"trailer", data):
            try:
                t = _Lexer(data, m.end()).parse_object()
            except PDFParseError:
                continue
            if isinstance(t, dict):
                trailers.append(t)
        for t in reversed(trailers):
            for k, v in t.items():
                self.trailer.setdefault(k, v)
        self.trailer.pop("Prev", None)
        # full-object sweep, only when it can matter: xref-STREAM files
        # keep trailer keys (/Root /Encrypt /ID) in the XRef stream dict
        # and may compress the catalog into an /ObjStm — both invisible
        # to the keyword scans above. A classic file whose trailer
        # already supplied /Root skips the sweep entirely (r5 review:
        # don't parse-and-cache a 100-page megadoc just to learn it has
        # no object streams).
        objstms: list[int] = []
        xref_stream_dicts: list[tuple[int, dict]] = []
        if "Root" not in self.trailer or b"/ObjStm" in data:
            for num in sorted(self.xref):
                try:
                    obj = self._load_object(num)
                except PDFParseError:
                    continue
                if not isinstance(obj, _Stream):
                    continue
                try:
                    t = str(self.resolve(obj.dict.get("Type", "")) or "")
                except PDFParseError:
                    continue
                if t == "ObjStm":
                    objstms.append(num)
                elif t == "XRef":
                    # xref streams are never encrypted (§7.5.8.2), so
                    # these values are safe to read pre-decryption
                    xref_stream_dicts.append((self.xref[num], obj.dict))
        # newest-wins for XRef-stream trailer keys too: an incremental
        # update appends later in the file, so walk byte offset
        # DESCENDING with setdefault (mirrors reversed(trailers) above;
        # object number is not an update-order signal).
        for _off, d in sorted(xref_stream_dicts, reverse=True, key=lambda p: p[0]):
            for k in ("Root", "Encrypt", "Info", "ID"):
                if k in d:
                    self.trailer.setdefault(k, d[k])
        if "Encrypt" in self.trailer:
            # AFTER the harvest (an encrypted xref-stream file must
            # surface 'encrypted'/decrypt, not silently parse_fail on
            # ciphertext — r5 review), BEFORE ObjStm registration
            # (their payloads need the armed key to decode). Arming also
            # clears the raw-string object cache the sweep built.
            self._setup_encryption()
        for num in objstms:
            try:
                _, _, pairs = self._objstm(num)
            except PDFParseError:
                continue
            for idx, (onum, _off) in enumerate(pairs):
                if not self._known(onum):
                    self._xref_objstm[onum] = (num, idx)
        if "Root" not in self.trailer:
            # no parseable trailer: locate the document catalog directly
            for num in sorted(
                list(self.xref) + list(self._xref_objstm), reverse=True
            ):
                try:
                    obj = self.resolve(_Ref(num, 0))
                    # /Type may itself be indirect (same leniency as the
                    # ObjStm check above — r5 review)
                    is_cat = isinstance(obj, dict) and str(
                        self.resolve(obj.get("Type", "")) or ""
                    ) == "Catalog"
                except PDFParseError:
                    continue
                if is_cat:
                    self.trailer["Root"] = _Ref(num, 0)
                    break
        if "Root" not in self.trailer:
            raise orig

    def _setup_encryption(self) -> None:
        """Empty-user-password standard-security decryption (pdfjs
        parity); raises PDFEncryptedError when the document genuinely
        needs a password or uses an unsupported scheme. The /Encrypt
        dict itself is loaded while self._crypt is still None, so its
        /O /U strings are (correctly) left raw."""
        enc = self.resolve(self.trailer["Encrypt"])
        if not isinstance(enc, dict):
            raise PDFEncryptedError("/Encrypt is not a dict")
        # writers may store O/U/P/Length/CF as indirect references —
        # shallow-resolve the dict (and the CF/StdCF level) before the
        # handler reads it
        enc = {k: self.resolve(v) for k, v in enc.items()}
        if isinstance(enc.get("CF"), dict):
            enc["CF"] = {
                k: ({kk: self.resolve(vv) for kk, vv in self.resolve(v).items()}
                    if isinstance(self.resolve(v), dict) else self.resolve(v))
                for k, v in enc["CF"].items()
            }
        id0 = b""
        ids = self.trailer.get("ID")
        if isinstance(ids, list) and ids:
            first = self.resolve(ids[0])
            if isinstance(first, (bytes, bytearray)):
                id0 = bytes(first)
        self._crypt = _StdCrypt(enc, id0)
        # any object loaded pre-setup was cached with raw (encrypted)
        # strings; only the Encrypt dict itself should stay that way
        keep = self.trailer["Encrypt"].num if isinstance(self.trailer["Encrypt"], _Ref) else None
        self._cache = {k: v for k, v in self._cache.items() if k == keep}

    def _known(self, num: int) -> bool:
        """Newest xref section wins: later (older) sections must not
        override an entry of EITHER kind recorded by a newer one."""
        return num in self.xref or num in self._xref_objstm

    def _load_xref_section(self, offset: int) -> dict:
        lx = _Lexer(self.data, offset)
        lx._skip_ws()
        if not lx.data.startswith(b"xref", lx.pos):
            # PDF 1.5+: the xref is itself a stream object (§7.5.8)
            return self._load_xref_stream_at(offset)
        lx.expect_keyword(b"xref")
        pending: list[tuple[int, int]] = []
        while True:
            lx._skip_ws()
            if lx.data.startswith(b"trailer", lx.pos):
                lx.pos += len(b"trailer")
                trailer = lx.parse_object()
                if not isinstance(trailer, dict):
                    raise PDFParseError("trailer is not a dict")
                # hybrid-reference file (§7.5.8.4): the classic trailer may
                # point at a supplemental xref stream whose entries take
                # PRECEDENCE over this section's table entries — so the
                # table's rows were buffered and are recorded only after it
                xstm = trailer.get("XRefStm")
                if isinstance(xstm, int):
                    self._load_xref_stream_at(xstm)
                for num, off in pending:
                    if not self._known(num):
                        self.xref[num] = off
                return trailer
            first = lx.read_int()
            count = lx.read_int()
            if count < 0 or count > 10_000_000:
                raise PDFParseError(f"implausible xref section count {count}")
            d = lx.data
            for i in range(count):
                m = _XREF_ROW_RE.match(d, lx.pos)
                if m is not None:
                    if m.group(2) == b"n":
                        pending.append((first + i, int(m.group(1))))
                    lx.pos = m.end()
                    continue
                off = lx.read_int()
                _gen = lx.read_int()
                kind = lx.read_token()
                if kind == b"n":
                    pending.append((first + i, off))
                elif kind != b"f":
                    raise PDFParseError(f"bad xref entry kind {kind!r}")

    def _load_xref_stream_at(self, offset: int) -> dict:
        if offset < 0 or offset >= len(self.data):
            raise PDFParseError(f"xref stream offset {offset} out of range")
        lx = _Lexer(self.data, offset)
        lx.read_int()
        lx.read_int()
        lx.expect_keyword(b"obj")
        st = lx.parse_object()
        if not isinstance(st, _Stream) or str(st.dict.get("Type", "")) != "XRef":
            raise PDFParseError("startxref does not point at an xref table or stream")
        data = self._decode_stream(st)
        w = st.dict.get("W")
        size = st.dict.get("Size")
        if not (
            isinstance(w, list)
            and len(w) >= 2
            and all(isinstance(x, int) and x >= 0 for x in w)
        ):
            raise PDFParseError("xref stream: bad /W")
        if not isinstance(size, int):
            raise PDFParseError("xref stream: bad /Size")
        index = st.dict.get("Index", [0, size])
        if not (isinstance(index, list) and len(index) % 2 == 0
                and all(isinstance(x, int) for x in index)):
            raise PDFParseError("xref stream: bad /Index")
        row_len = sum(w)
        pos = 0
        for p in range(0, len(index), 2):
            first, count = index[p], index[p + 1]
            if count < 0 or count > 10_000_000:
                raise PDFParseError(f"implausible xref stream count {count}")
            for i in range(count):
                if pos + row_len > len(data):
                    raise PDFParseError("xref stream data truncated")
                fields = []
                for width in w:
                    fields.append(int.from_bytes(data[pos : pos + width], "big"))
                    pos += width
                num = first + i
                etype = fields[0] if w[0] else 1  # width-0 type defaults to 1
                if etype == 1 and not self._known(num):
                    self.xref[num] = fields[1]
                elif etype == 2 and not self._known(num):
                    self._xref_objstm[num] = (fields[1], fields[2] if len(w) > 2 else 0)
                # type 0 (free) and unknown types: skip (spec: treat as free)
        return st.dict

    # ── object resolution ───────────────────────────────────────────────

    def resolve(self, obj):
        # an indirect-reference cycle (1 0 obj → 6 0 R, 6 0 obj → 1 0 R)
        # must be a parse_failed row, not an executor hang (ADVICE r2 #2);
        # real chains are 1-2 hops, so 64 is far outside any legal file
        hops = 0
        while isinstance(obj, _Ref):
            hops += 1
            if hops > 64:
                raise PDFParseError("indirect-reference chain cyclic or too long")
            obj = self._load_object(obj.num)
        return obj

    def _load_object(self, num: int):
        try:
            return self._load_object_inner(num)
        except PDFEncryptedError:
            raise
        except _MissingObjectError:
            # a number simply ABSENT from the table is a dangling
            # reference — the spec says treat it as null, and tolerant
            # callers (e.g. the /ToUnicode fallback) already do. It is
            # NOT evidence the table lies, so it must not trigger
            # destructive whole-table reconstruction mid-extraction
            # (r5 review: that could silently change text of documents
            # that extract fine today).
            raise
        except PDFParseError:
            # a recorded offset that doesn't hold the object it claims
            # (lied-about /Prev chains, off-by-header rebases, zeroed
            # tables) — pdfjs falls back to its scan-recovery here too
            # (round 5). One attempt per document; if the scan-built
            # table still can't serve the object, the original failure
            # class stands.
            if self._recon_tried:
                raise
            self._recon_tried = True
            self._reconstruct_xref_keep_errors()
            return self._load_object_inner(num)

    def _reconstruct_xref_keep_errors(self) -> None:
        try:
            self._reconstruct_xref(PDFParseError("object table unusable"))
        except PDFEncryptedError:
            raise
        except PDFParseError:
            # reconstruction found nothing better — the retry below will
            # surface the per-object failure against whatever table
            # survived the reset
            pass

    def _load_object_inner(self, num: int):
        if num in self._cache:
            return self._cache[num]
        off = self.xref.get(num)
        if off is None:
            loc = self._xref_objstm.get(num)
            if loc is None:
                raise _MissingObjectError(f"object {num} not in xref")
            obj = self._load_from_objstm(num, *loc)
            self._cache[num] = obj
            return obj
        if off < 0 or off >= len(self.data):
            raise PDFParseError(f"xref offset {off} out of range")
        lx = _Lexer(self.data, off)
        got_num = lx.read_int()
        gen = lx.read_int()
        lx.expect_keyword(b"obj")
        if got_num != num:
            raise PDFParseError(f"xref points to object {got_num}, wanted {num}")
        obj = lx.parse_object()
        if self._crypt is not None:
            obj = self._decrypt_loaded(obj, num, gen)
        self._cache[num] = obj
        return obj

    def _decrypt_loaded(self, obj, num: int, gen: int):
        """Decrypt every string in a directly-loaded object and stamp
        streams with their owning (num, gen) for lazy raw decryption.
        Objects inside an ObjStm are NOT re-encrypted (§7.5.7) and never
        pass through here — _load_from_objstm returns directly."""
        if isinstance(obj, (bytes, bytearray)):
            return self._crypt.decrypt_string(num, gen, bytes(obj))
        if isinstance(obj, list):
            return [self._decrypt_loaded(x, num, gen) for x in obj]
        if isinstance(obj, _Stream):
            obj.objnum = num
            obj.gen = gen
            obj.dict = self._decrypt_loaded(obj.dict, num, gen)
            return obj
        if isinstance(obj, dict):
            return {k: self._decrypt_loaded(v, num, gen) for k, v in obj.items()}
        return obj

    # ── object streams (§7.5.7): compressed non-stream objects ──────────

    def _objstm(self, stm_num: int) -> tuple[bytes, int, list[tuple[int, int]]]:
        if stm_num in self._objstm_cache:
            return self._objstm_cache[stm_num]
        if stm_num in self._objstm_loading:
            raise PDFParseError(f"object stream {stm_num} references itself")
        self._objstm_loading.add(stm_num)
        try:
            st = self.resolve(_Ref(stm_num, 0))
            if not isinstance(st, _Stream) or str(st.dict.get("Type", "")) != "ObjStm":
                raise PDFParseError(f"object {stm_num} is not an /ObjStm")
            data = self._decode_stream(st)
            n = self.resolve(st.dict.get("N"))
            first = self.resolve(st.dict.get("First"))
            if not isinstance(n, int) or not isinstance(first, int) or n < 0:
                raise PDFParseError("object stream: bad /N or /First")
            if n > 1_000_000:  # adversarial /N must not allocate unbounded
                raise PDFParseError(f"object stream: implausible /N {n}")
            lx = _Lexer(data)
            pairs = [(lx.read_int(), lx.read_int()) for _ in range(n)]
            self._objstm_cache[stm_num] = (data, first, pairs)
            return self._objstm_cache[stm_num]
        finally:
            self._objstm_loading.discard(stm_num)

    def _load_from_objstm(self, num: int, stm_num: int, idx: int):
        data, first, pairs = self._objstm(stm_num)
        if idx < len(pairs) and pairs[idx][0] == num:
            off = pairs[idx][1]
        else:  # tolerate a stale index: search the header by object number
            for objnum, o in pairs:
                if objnum == num:
                    off = o
                    break
            else:
                raise PDFParseError(f"object {num} not in object stream {stm_num}")
        if first + off >= len(data):
            raise PDFParseError("object stream offset out of range")
        return _Lexer(data, first + off).parse_object()

    # ── font encodings (§9.6.6): /Differences + single-byte /ToUnicode ───

    def page_font_decoders(self, page: dict) -> dict[str, dict[int, str]] | None:
        """Per-font code→char overrides for this page, or None when every
        font uses a plain base encoding (the latin-1 fast path).

        Two override sources, in pdfjs precedence order: /ToUnicode CMaps
        (single-byte bfchar/bfrange; the authoritative text mapping for
        embedded/subset fonts) win over /Encoding /Differences glyph
        names (AGL subset + uniXXXX). Base stays the pinned latin-1
        superset of WinAnsi — SURVEY.md §2.2.2; multi-byte CID codespaces
        remain out of contract."""
        res = self.resolve(page.get("Resources"))
        return self._font_decoders_from_res(res)

    def _font_decoders_from_res(self, res) -> dict[str, dict[int, str]] | None:
        if not isinstance(res, dict):
            return None
        fonts = self.resolve(res.get("Font"))
        if not isinstance(fonts, dict):
            return None
        out: dict[str, dict[int, str]] = {}
        for fname, fref in fonts.items():
            # decoder depends only on the font object, not page context —
            # cache per object number so a 500-page doc parses its CJK
            # /ToUnicode CMap once, not 500 times (r3 review; same
            # rationale as _form_cache)
            fnum = fref.num if isinstance(fref, _Ref) else None
            if fnum is not None and fnum in self._font_dec_cache:
                cached = self._font_dec_cache[fnum]
                if cached is not None:
                    out[str(fname)] = cached
                continue
            f = self.resolve(fref)
            if not isinstance(f, dict):
                if fnum is not None:
                    self._font_dec_cache[fnum] = None
                continue
            is_type0 = str(f.get("Subtype", "")) == "Type0"
            m: dict[int, str] = {}
            enc = self.resolve(f.get("Encoding"))
            if isinstance(enc, dict):
                diffs = self.resolve(enc.get("Differences"))
                if isinstance(diffs, list):
                    code = 0
                    for item in diffs:
                        item = self.resolve(item)
                        if isinstance(item, bool):
                            continue
                        if isinstance(item, (int, float)):
                            code = int(item)
                        elif isinstance(item, _Name):
                            if 0 <= code <= 255:
                                m[code] = _glyph_to_char(str(item))
                            code += 1
            narrow: dict[int, str] = {}
            wide: dict[int, str] = {}
            tu = self.resolve(f.get("ToUnicode"))
            if isinstance(tu, _Stream):
                try:
                    narrow, wide = _parse_tounicode(self._decode_stream(tu))
                except PDFParseError:
                    pass  # malformed CMap: fall back to what we have
            if is_type0:
                # Type0/Identity-H: show strings are 2-byte CIDs; decode
                # pairwise through the wide ToUnicode map (unmapped → �,
                # which is honest — latin-1 on CID bytes is mojibake).
                # A PREDEFINED CMap with no ToUnicode splits four ways:
                # Identity keeps the raw-CID wide map; the Unicode-coded
                # Uni*-UCS2/UTF16 family decodes as UTF-16BE (round 4 —
                # codes ARE Unicode, no data table needed); the common
                # legacy-coded maps (GBK-EUC-H, 90ms-RKSJ-H, …) decode
                # through the stdlib codec their codespace is defined
                # over (round 5, _LEGACY_CMAP_CODECS); anything else
                # marks the font so a show op raises the countable
                # unsupported_cmap status.
                enc_name = str(enc) if isinstance(enc, _Name) else None
                codec = (
                    _legacy_cmap_codec(enc_name)
                    if enc_name not in (None, "Identity-H", "Identity-V")
                    else None
                )
                if codec is not None:
                    # legacy-coded codespaces (GBK/Shift-JIS/Big5/EUC)
                    # are VARIABLE-width: _WideMap's fixed 2-byte
                    # pairing mis-splits 1-byte ASCII codes even when a
                    # /ToUnicode exists, so the codec path wins
                    # regardless (second r6 review — 'Hi 你' extracted
                    # as two U+FFFDs through a perfectly good
                    # ToUnicode). A conforming writer's ToUnicode
                    # describes the same text the codec decodes.
                    dec = _LegacyCodecMap(codec)
                elif enc_name not in (
                    None, "Identity-H", "Identity-V",
                ) and _UNI_UNICODE_CMAP_RE.match(enc_name):
                    # Unicode-coded: ToUnicode overrides where present,
                    # every other code decodes as itself — a partial
                    # ToUnicode used to send the rest to U+FFFD
                    dec = _UniWideMap(wide) if wide else _Utf16BEMap()
                elif not wide and enc_name not in (
                    None, "Identity-H", "Identity-V",
                ):
                    dec = _UnsupportedCMap(enc_name)
                else:
                    dec = _WideMap(wide)
            else:
                base_name = None
                if isinstance(enc, _Name):
                    base_name = str(enc)
                elif isinstance(enc, dict):
                    be = self.resolve(enc.get("BaseEncoding"))
                    if isinstance(be, _Name):
                        base_name = str(be)
                base = (
                    _base_encoding_overrides(base_name) if base_name else None
                )
                has_ff = self._has_font_file(f)
                if base is None and base_name is None and not has_ff:
                    # Symbolic Standard-14 fonts carry their encoding
                    # BUILT IN, selected by BaseFont name (round 6,
                    # Annex D.5/D.6 — a /Symbol show string under
                    # latin-1 is mojibake: 0x61 is alpha, not 'a').
                    # Subset prefixes (ABCDEF+Symbol) are stripped. A
                    # font that EMBEDS a program skips this: its own
                    # cmap wins (pdfjs parity), via the lazy path below
                    # — key-presence check only, no parse (r6 review #6).
                    bf = str(self.resolve(f.get("BaseFont")) or "")
                    bf = bf.rsplit("+", 1)[-1]
                    if bf in ("Symbol", "ZapfDingbats"):
                        base_name = bf
                        base = _base_encoding_overrides(bf)
                if base and not m and not narrow:
                    # declared base encoding only: C-level decode path
                    dec = _base_encoding_trans(base_name)
                else:
                    if base:
                        full = dict(base)
                        full.update(m)       # Differences override base
                        full.update(narrow)  # ToUnicode wins over both
                        m = full
                        dec = m or None
                    else:
                        # No named base: the embedded font program is
                        # the mapping layer under /Differences and
                        # /ToUnicode (round 6 — pdfjs parity for
                        # custom-encoded subsetted TrueType/CFF/Type1,
                        # reference main.ts:149 via pdfjs-dist). The
                        # program is parsed LAZILY on the first code
                        # the overlay misses — a complete /ToUnicode
                        # (the common subset-writer shape) never pays
                        # the parse; a PARTIAL one still falls back
                        # per-code; codes neither maps keep latin-1.
                        m.update(narrow)  # ToUnicode wins over Differences
                        if has_ff:
                            dec = _LazyProgramMap(
                                m, lambda f=f: self._embedded_font_map(f)
                            )
                        else:
                            dec = m or None
            if fnum is not None:
                self._font_dec_cache[fnum] = dec
            if dec is not None:
                out[str(fname)] = dec
        return out or None

    def _has_font_file(self, f: dict) -> bool:
        """Key-presence probe (no stream decode, no parse) — gates the
        lazy program path and the Symbol-name table (r6 review #5/#6).
        The probe is OPTIONAL metadata: a dangling /FontDescriptor ref
        must degrade to 'no program' (latin-1 fallback), not fail a
        document that extracted fine pre-round-6 (second r6 review).
        PDFEncryptedError still propagates — never masked."""
        try:
            fd = self.resolve(f.get("FontDescriptor"))
        except PDFEncryptedError:
            raise
        except PDFParseError:
            return False
        return isinstance(fd, dict) and any(
            k in fd for k in ("FontFile2", "FontFile3", "FontFile")
        )

    def _embedded_font_map(self, f: dict) -> dict[int, str] | None:
        """code→unicode fallback parsed from the font's embedded program
        (/FontFile2 TrueType, /FontFile3 CFF/OpenType, /FontFile Type1
        cleartext /Encoding — kernels/fonts.py). Returns None on any
        parse failure so callers keep the pre-round-6 behavior; the
        result is cached by the caller via _font_dec_cache."""
        from .fonts import embedded_font_code_to_unicode

        # every resolve here chases OPTIONAL refs a broken writer may
        # leave dangling (or pointing at a lying xref offset): fail soft
        # to None — the pre-round-6 latin-1 behavior — rather than
        # failing the document for a fallback probe (second r6 review);
        # PDFEncryptedError is never masked
        try:
            fd = self.resolve(f.get("FontDescriptor"))
            if not isinstance(fd, dict):
                return None
            for key in ("FontFile2", "FontFile3", "FontFile"):
                ff = self.resolve(fd.get(key))
                if isinstance(ff, _Stream):
                    data = self._decode_stream(ff)
                    return embedded_font_code_to_unicode(data, _glyph_to_char)
        except PDFEncryptedError:
            raise
        except PDFParseError:
            return None
        return None

    # ── form XObjects (§8.10): text drawn via the `Do` operator ─────────

    def page_extraction_context(self, page):
        """(fonts, form_xobjects) for one page — everything
        _extract_page_text needs to recurse into /Subtype /Form streams
        (pdfjs parity: getTextContent walks form XObjects too).

        Decoded form triples are cached per document by object number:
        real crawls repeat one header/footer form on every page, and
        re-decoding it per page would be O(pages × form bytes)."""
        res = self.resolve(page.get("Resources"))
        return self._font_decoders_from_res(res), self._form_xobjects(res, 0, frozenset())

    # adversarial guard: a page may reference k inheriting sibling forms
    # whose shared resources re-expose all k — without a memo the triple
    # tree is k^depth nodes. The memo collapses repeated (form, resource-
    # context) pairs, and the budget fail-louds anything still pathological
    # (parse_failed row, never an executor hang — same contract as the
    # ref-cycle and RLE-bomb guards).
    _MAX_FORMS_PER_DOC = 256

    def _form_xobjects(self, res, depth: int, seen: frozenset):
        """name → (content, fonts, nested_xobjects) for every /Subtype
        /Form entry of res's /XObject dict. A form without /Resources
        inherits its parent's (spec-permitted legacy layout). Depth-capped
        and cycle-guarded on the stream's object number; image XObjects
        are skipped (no text). Structural faults in a referenced form
        propagate as PDFParseError — partial text with status 'ok' would
        be silent divergence.

        Triples are memoized per (form, resource-context) and total
        decodes are budgeted (_MAX_FORMS_PER_DOC, fail-loud) so sibling
        inheritance graphs cannot go k^depth. Known trade: a memoized
        inheriting form built under one ancestor chain reuses its pruned
        nested map in other chains, so MUTUALLY-referencing sibling forms
        (a drawing-undefined construct) may skip one nesting level."""
        if not isinstance(res, dict) or depth >= _MAX_FORM_DEPTH:
            return None
        xo = self.resolve(res.get("XObject"))
        if not isinstance(xo, dict):
            return None
        out: dict[str, tuple] = {}
        for name, ref in xo.items():
            num = ref.num if isinstance(ref, _Ref) else -1
            if num in seen:
                continue  # self/ancestor reference: drawing is undefined; skip
            # memo key: the form plus its effective resource context —
            # self-contained forms (own /Resources) depend only on num;
            # inheriting forms depend on the caller's resolved res dict.
            # Collapses the sibling DAG that would otherwise be k^depth.
            memo_key = (num, None) if num >= 0 else None
            st = self.resolve(ref)
            if not isinstance(st, _Stream):
                continue
            if str(st.dict.get("Subtype", "")) != "Form":
                continue
            sub_res_raw = st.dict.get("Resources")
            if sub_res_raw is None and memo_key is not None:
                memo_key = (num, id(res))
            if memo_key is not None and memo_key in self._form_cache:
                out[str(name)] = self._form_cache[memo_key]
                continue
            self._form_decodes += 1
            # page-scaled: a valid long doc with one inheriting form per
            # page (fresh direct /Resources per page → memo miss) needs
            # O(pages) decodes and must not trip the adversarial guard
            cap = max(self._MAX_FORMS_PER_DOC, 4 * self._page_count)
            if self._form_decodes > cap:
                raise PDFParseError(
                    f"more than {cap} form XObject "
                    "decodes in one document (adversarial nesting)"
                )
            content = self._decode_stream(st)
            sub_res = self.resolve(sub_res_raw) if sub_res_raw is not None else res
            triple = (
                content,
                self._font_decoders_from_res(sub_res),
                self._form_xobjects(sub_res, depth + 1, seen | {num}),
            )
            if memo_key is not None:
                self._form_cache[memo_key] = triple
            out[str(name)] = triple
        return out or None

    # ── page tree ───────────────────────────────────────────────────────

    def pages(self) -> list[dict]:
        root = self.resolve(self.trailer["Root"])
        if not isinstance(root, dict):
            raise PDFParseError("/Root is not a dict")
        pages_node = self.resolve(root.get("Pages"))
        out: list[dict] = []
        self._walk_pages(pages_node, out, depth=0)
        if not out:
            raise PDFParseError("document has no pages")
        # the form-decode budget scales with page count: per-page direct
        # /Resources dicts legitimately miss the memo, so a long valid
        # doc with one letterhead form per page needs O(pages) decodes
        self._page_count = max(self._page_count, len(out))
        return out

    def _walk_pages(self, node, out: list, depth: int, inherited_res=None) -> None:
        if depth > 64:
            raise PDFParseError("page tree too deep")
        node = self.resolve(node)
        if not isinstance(node, dict):
            raise PDFParseError("bad page-tree node")
        t = str(node.get("Type", ""))
        # /Resources is an INHERITABLE page attribute (ISO 32000-1
        # §7.7.3.4): a Page without its own takes the nearest ancestor's.
        # Ignoring that silently dropped parent-defined fonts and form
        # XObjects with status 'ok' (r3 review; pdfjs walks the chain).
        own_res = node.get("Resources", None)
        eff_res = own_res if own_res is not None else inherited_res
        if t == "Page":
            if own_res is None and inherited_res is not None:
                node = dict(node)  # copy — never mutate the object cache
                node["Resources"] = inherited_res
            out.append(node)
        elif t == "Pages" or "Kids" in node:
            for kid in self.resolve(node.get("Kids", [])):
                self._walk_pages(kid, out, depth + 1, eff_res)
        else:
            raise PDFParseError(f"unknown page-tree node type {t!r}")

    # ── content streams ─────────────────────────────────────────────────

    def page_content(self, page: dict) -> bytes:
        contents = self.resolve(page.get("Contents"))
        if contents is None:
            return b""
        parts = contents if isinstance(contents, list) else [contents]
        chunks: list[bytes] = []
        for part in parts:
            part = self.resolve(part)
            if not isinstance(part, _Stream):
                raise PDFParseError("page /Contents is not a stream")
            chunks.append(self._decode_stream(part))
        return b"\n".join(chunks)

    def _explicit_crypt_name(self, st: _Stream) -> str | None:
        """The /Name of the stream's explicit /Crypt filter (default
        'Identity' when the filter has no parms), or None when the stream
        has no /Crypt filter and the document default applies."""
        filt = self.resolve(st.dict.get("Filter"))
        filters = filt if isinstance(filt, list) else [filt]
        if not any(str(self.resolve(f)) == "Crypt" for f in filters if f is not None):
            return None
        parms = self.resolve(st.dict.get("DecodeParms", st.dict.get("DP")))
        parms_list = parms if isinstance(parms, list) else [parms]
        for f, p in zip(filters, parms_list + [None] * len(filters)):
            if str(self.resolve(f)) == "Crypt":
                p = self.resolve(p)
                return str(p.get("Name", "Identity")) if isinstance(p, dict) else "Identity"
        return "Identity"

    def _decode_stream(self, st: _Stream) -> bytes:
        filt = self.resolve(st.dict.get("Filter"))
        raw = st.raw
        length = self.resolve(st.dict.get("Length"))
        if isinstance(length, int) and len(raw) > length:
            raw = raw[:length]
        if self._crypt is not None and st.objnum is not None:
            # streams parsed outside the object table (xref streams)
            # have objnum None and are never encrypted (§7.5.8.2); an
            # explicit /Crypt filter overrides the document default
            # (§7.4.10): /Identity opts out, /StdCF opts IN even when
            # the default StmF is /Identity
            explicit = self._explicit_crypt_name(st)
            if explicit == "StdCF":
                raw = self._crypt.decrypt_stream(
                    st.objnum, st.gen, raw, force_stdcf=True
                )
            elif explicit is None:
                raw = self._crypt.decrypt_stream(st.objnum, st.gen, raw)
            # explicit Identity (or an unknown name, rejected below): no-op
        if filt is None:
            return raw
        filters = filt if isinstance(filt, list) else [filt]
        if len(filters) > 8:  # real chains are ≤3; bound bomb compounding
            raise PDFParseError(f"filter chain too long ({len(filters)})")
        parms = self.resolve(st.dict.get("DecodeParms", st.dict.get("DP")))
        if isinstance(parms, list):
            # pad a short /DecodeParms array: zip truncation would silently
            # SKIP trailing filters and hand encoded bytes downstream
            parms_list = parms + [None] * (len(filters) - len(parms))
        else:
            parms_list = [parms] * len(filters)
        for f, p in zip(filters, parms_list):
            f = _FILTER_ALIASES.get(str(self.resolve(f)), str(self.resolve(f)))
            p = self.resolve(p)
            p = p if isinstance(p, dict) else {}
            if f == "FlateDecode":
                raw = _flate_decode(raw)
            elif f == "LZWDecode":
                early = self.resolve(p.get("EarlyChange", 1))
                raw = _lzw_decode(raw, early=early if isinstance(early, int) else 1)
            elif f == "ASCIIHexDecode":
                raw = _ascii_hex_decode(raw)
            elif f == "ASCII85Decode":
                raw = _ascii85_decode(raw)
            elif f == "RunLengthDecode":
                raw = _runlength_decode(raw)
            elif f == "Crypt":
                # Identity was honored pre-filter (no decryption) and is
                # defined as a no-op (§7.4.10) — legal even in an
                # UNENCRYPTED document (ADVICE r3); StdCF was applied as
                # the default handler above and needs a handler to exist
                name = str(p.get("Name", "Identity"))
                if name != "Identity" and (
                    self._crypt is None or name != "StdCF"
                ):
                    raise PDFEncryptedError("unsupported /Crypt filter")
            else:
                raise PDFParseError(f"unsupported stream filter /{f}")
            if len(raw) > MAX_DECODED_STREAM_BYTES:
                raise PDFParseError("decoded stream exceeds cap")
            pred = self.resolve(p.get("Predictor", 1))
            if isinstance(pred, int) and pred > 1 and f in ("FlateDecode", "LZWDecode"):
                raw = _apply_predictor(
                    raw,
                    pred,
                    int(self.resolve(p.get("Colors", 1)) or 1),
                    int(self.resolve(p.get("BitsPerComponent", 8)) or 8),
                    int(self.resolve(p.get("Columns", 1)) or 1),
                )
        return raw


# ── glyph names (pinned AGL subset + uniXXXX) ────────────────────────────────

# Adobe Glyph List subset covering Latin-1/WinAnsi-range names plus the
# common typographic extras; single-char names map to themselves and
# uniXXXX / uXXXX(XX) forms are parsed. Unknown names pin to U+FFFD.
_GLYPH_MAP: dict[str, str] = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    # WinAnsi upper range
    "exclamdown": "¡", "cent": "¢", "sterling": "£", "currency": "¤",
    "yen": "¥", "brokenbar": "¦", "section": "§", "dieresis": "¨",
    "copyright": "©", "ordfeminine": "ª", "guillemotleft": "«",
    "logicalnot": "¬", "registered": "®", "macron": "¯", "degree": "°",
    "plusminus": "±", "acute": "´", "mu": "µ", "paragraph": "¶",
    "periodcentered": "·", "cedilla": "¸", "ordmasculine": "º",
    "guillemotright": "»", "onequarter": "¼", "onehalf": "½",
    "threequarters": "¾", "questiondown": "¿",
    "Agrave": "À", "Aacute": "Á", "Acircumflex": "Â", "Atilde": "Ã",
    "Adieresis": "Ä", "Aring": "Å", "AE": "Æ", "Ccedilla": "Ç",
    "Egrave": "È", "Eacute": "É", "Ecircumflex": "Ê", "Edieresis": "Ë",
    "Igrave": "Ì", "Iacute": "Í", "Icircumflex": "Î", "Idieresis": "Ï",
    "Eth": "Ð", "Ntilde": "Ñ", "Ograve": "Ò", "Oacute": "Ó",
    "Ocircumflex": "Ô", "Otilde": "Õ", "Odieresis": "Ö", "multiply": "×",
    "Oslash": "Ø", "Ugrave": "Ù", "Uacute": "Ú", "Ucircumflex": "Û",
    "Udieresis": "Ü", "Yacute": "Ý", "Thorn": "Þ", "germandbls": "ß",
    "agrave": "à", "aacute": "á", "acircumflex": "â", "atilde": "ã",
    "adieresis": "ä", "aring": "å", "ae": "æ", "ccedilla": "ç",
    "egrave": "è", "eacute": "é", "ecircumflex": "ê", "edieresis": "ë",
    "igrave": "ì", "iacute": "í", "icircumflex": "î", "idieresis": "ï",
    "eth": "ð", "ntilde": "ñ", "ograve": "ò", "oacute": "ó",
    "ocircumflex": "ô", "otilde": "õ", "odieresis": "ö", "divide": "÷",
    "oslash": "ø", "ugrave": "ù", "uacute": "ú", "ucircumflex": "û",
    "udieresis": "ü", "yacute": "ý", "thorn": "þ", "ydieresis": "ÿ",
    # typographic extras (WinAnsi 0x80-0x9F region and friends)
    "Euro": "€", "quotesinglbase": "‚", "florin": "ƒ",
    "quotedblbase": "„", "ellipsis": "…", "dagger": "†", "daggerdbl": "‡",
    "circumflex": "ˆ", "perthousand": "‰", "Scaron": "Š",
    "guilsinglleft": "‹", "OE": "Œ", "Zcaron": "Ž", "quoteleft": "‘",
    "quoteright": "’", "quotedblleft": "“", "quotedblright": "”",
    "bullet": "•", "endash": "–", "emdash": "—", "tilde": "˜",
    "trademark": "™", "scaron": "š", "guilsinglright": "›", "oe": "œ",
    "zcaron": "ž", "Ydieresis": "Ÿ", "nbspace": " ",
    # Apple's name for U+00A0 in the standard Macintosh glyph order
    # (post-table index 172), distinct from AGL's "nbspace"
    "nonbreakingspace": " ",
    "softhyphen": "­", "minus": "−", "fraction": "⁄",
    "dotlessi": "ı", "lslash": "ł", "Lslash": "Ł",
    # Adobe StandardEncoding names absent from WinAnsi (AGL: fi U+FB01,
    # fl U+FB02, and the spacing accents U+02D8-U+02DD/U+02C7/U+02DB) —
    # needed by the r6 CFF/Type1 predefined-StandardEncoding decode
    "fi": "ﬁ", "fl": "ﬂ", "breve": "˘", "dotaccent": "˙", "ring": "˚",
    "hungarumlaut": "˝", "ogonek": "˛", "caron": "ˇ",
    # a few Greek names (seen in formula-bearing Type1 fonts)
    "Alpha": "Α", "Beta": "Β", "Gamma": "Γ", "Delta": "Δ", "Omega": "Ω",
    "alpha": "α", "beta": "β", "gamma": "γ", "delta": "δ", "epsilon": "ε",
    "pi": "π", "sigma": "σ", "omega": "ω",
}


def _glyph_to_char(name: str) -> str:
    if len(name) == 1:
        return name
    ch = _GLYPH_MAP.get(name)
    if ch is not None:
        return ch
    # surrogate codepoints (D800-DFFF) are clamped to U+FFFD exactly like
    # _parse_tounicode: a lone surrogate in extracted text is unencodable
    # and would kill the task at Arrow-serialization time, OUTSIDE the
    # per-row except (r3 review)
    if name.startswith("uni") and len(name) >= 7:
        try:
            cp = int(name[3:7], 16)
            return chr(cp) if not 0xD800 <= cp <= 0xDFFF else "�"
        except ValueError:
            pass
    if name.startswith("u") and 5 <= len(name) <= 7:
        try:
            cp = int(name[1:], 16)
            return chr(cp) if not 0xD800 <= cp <= 0xDFFF else "�"
        except ValueError:
            pass
    return "�"


_LATIN1_TABLE = [chr(i) for i in range(256)]


# ── /ToUnicode CMap parsing (single-byte bfchar/bfrange) ─────────────────────

_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_HEXPAIR_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
_HEXRANGE_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(?:<([0-9A-Fa-f]+)>|\[(.*?)\])", re.S
)
_HEXTOK_RE = re.compile(rb"<([0-9A-Fa-f]+)>")


def _utf16be_hex_to_str(h: bytes) -> str:
    if len(h) % 4:
        h = h[: len(h) - len(h) % 4]
    try:
        # a writer mapping a code to <0000> means "no text" — strip the
        # NUL rather than carrying it into extracted_text (r6 fuzz)
        return (
            bytes.fromhex(h.decode("ascii"))
            .decode("utf-16-be", "replace")
            .replace("\x00", "")
        )
    except (ValueError, UnicodeDecodeError):
        return "�"


class _WideMap(dict):
    """code→str map keyed by 2-byte codes (Type0/Identity-H CIDs) — the
    extractor consumes show-string bytes pairwise when it sees one."""


class _UniWideMap(_WideMap):
    """_WideMap over a Unicode-coded predefined CMap (Uni*-UCS2/UTF16)
    with a PARTIAL /ToUnicode: codes the ToUnicode misses ARE Unicode,
    so they fall back to the code point itself instead of pinning U+FFFD
    (pdfjs merges both sources; r6 review follow-up). Surrogate halves
    stay U+FFFD — pairs split across 2-byte units are the UTF16
    variants' rare tail and a lone half is unencodable downstream."""


class _LazyProgramMap(dict):
    """Override dict whose misses fall back to the font's embedded
    program map, parsed ON FIRST MISS only (r6 review #5): a subsetted
    font whose /ToUnicode already covers every shown code — the
    overwhelmingly common crawl shape — never pays the program
    decompression/parse. The dict itself holds the overlay
    (Differences < ToUnicode); the loader result fills gaps UNDER it."""

    __slots__ = ("_loader",)

    def __init__(self, overlay: dict, loader):
        super().__init__(overlay)
        self._loader = loader

    def get(self, key, default=None):
        v = dict.get(self, key)
        if v is not None:
            return v
        if self._loader is not None:
            loader, self._loader = self._loader, None
            for k, vv in (loader() or {}).items():
                if k not in self:  # overlay wins over the program
                    self[k] = vv
            return dict.get(self, key, default)
        return default

    def __bool__(self):  # an empty overlay must still reach the loader
        return True


class _Translate:
    """Sentinel font map for a declared base encoding, decoded in C.

    Used when a font names a base encoding (/WinAnsiEncoding,
    /MacRomanEncoding) with NO /Differences and no narrow /ToUnicode —
    the common declared-encoding case — so the hot path stays a C
    operation instead of a per-char dict lookup. When every code maps
    to exactly one character, `chars` is a 256-char codecs.charmap_decode
    table (one pass); otherwise (Symbol blanks five codes to '') `chars`
    is None and strings take latin-1 decode + str.translate(`table`)."""

    __slots__ = ("table", "chars")

    def __init__(self, table: dict):
        self.table = table
        chars = [chr(c) for c in range(256)]
        for c, v in table.items():
            chars[c] = v
        self.chars = "".join(chars) if all(len(v) == 1 for v in chars) else None


def _base_encoding_overrides(name: str) -> dict[int, str] | None:
    """code→char overrides vs the pinned latin-1 base for an explicitly
    NAMED simple-font encoding (round 4, pdfjs parity):

      * WinAnsiEncoding == CP1252: differs from latin-1 only in
        0x80-0x9F (smart quotes, dashes, €, ™, …); the five undefined
        codes keep latin-1 passthrough.
      * MacRomanEncoding: differs across 0x80-0xFF (ü é ¢ ∞ …).

    An UNNAMED encoding keeps the pinned latin-1 fast path untouched
    (golden contract — SURVEY §2.2.2)."""
    cached = _BASE_ENC_CACHE.get(name, False)
    if cached is not False:
        return cached
    out = _base_encoding_overrides_build(name)
    _BASE_ENC_CACHE[name] = out
    return out


_BASE_ENC_CACHE: dict[str, dict[int, str] | None] = {}
_BASE_ENC_TRANS: dict[str, _Translate] = {}


def _base_encoding_trans(name: str) -> _Translate:
    t = _BASE_ENC_TRANS.get(name)
    if t is None:
        t = _Translate(str.maketrans(_base_encoding_overrides(name) or {}))
        _BASE_ENC_TRANS[name] = t
    return t


def _base_encoding_overrides_build(name: str) -> dict[int, str] | None:
    if name == "WinAnsiEncoding":
        out = {}
        for c in range(0x80, 0xA0):
            try:
                out[c] = bytes([c]).decode("cp1252")
            except UnicodeDecodeError:
                pass  # 81/8D/8F/90/9D undefined in CP1252
        # PDF Annex D (and pdfjs) assign /space to 0xA0 and /hyphen to
        # 0xAD — the glyphs, not CP1252's NBSP/soft-hyphen control
        # semantics (ADVICE r4)
        out[0xA0] = " "
        out[0xAD] = "-"
        return out
    if name == "MacRomanEncoding":
        out = {c: bytes([c]).decode("mac_roman") for c in range(0x80, 0x100)}
        # PDF Annex D pins the PRE-euro Mac OS Roman table (r4 review;
        # pdfjs agrees): 0xDB is /currency not €, 0xCA is /space not
        # NBSP, and 0xF0 (the Apple-logo private-use char in the modern
        # codec) is undefined — latin-1 passthrough like WinAnsi's
        # undefined codes.
        out[0xDB] = "¤"
        out[0xCA] = " "
        del out[0xF0]
        return out
    # Round 6 (VERDICT r5 #4): the two SYMBOLIC Standard-14 encodings.
    # These are built-in font encodings (Annex D.5/D.6), selected by
    # BaseFont name, not via /Encoding — a Symbol show string under
    # latin-1 was pure mojibake (0x61 is alpha, not 'a').
    if name == "Symbol":
        return _symbol_encoding_build()
    if name == "ZapfDingbats":
        return _zapf_dingbats_build()
    if name == "StandardEncoding":
        # Not a legal Table-114 value, but old TeX-era writers emit it
        # and pdfjs accepts it (its getEncoding serves the Annex D
        # StandardEncoding column). Overrides vs latin-1 derive from
        # the same spec table the r6 embedded-CFF path uses; codes
        # Standard leaves undefined keep latin-1 passthrough, same
        # lenient convention as WinAnsi's five undefined codes.
        from .fonts import _standard_encoding_map

        # one SID-walk implementation (kernels/fonts.py) serves both the
        # embedded-CFF path and this named-encoding branch; only the
        # not-identical-to-latin-1 entries are overrides (r6 review)
        return {
            c: ch
            for c, ch in _standard_encoding_map(_glyph_to_char).items()
            if ch != chr(c)
        }
    return None


def _symbol_encoding_build() -> dict[int, str]:
    """Adobe Symbol built-in encoding → Unicode (Annex D.5 glyph names
    resolved through the public AGL). ASCII positions that differ from
    ASCII (Greek letters, math operators) are all remapped; codes whose
    glyphs are bracket/integral EXTENDER pieces (0xE6-0xEE, 0xF4,
    0xF6-0xFE — decorative multi-row composition artwork) are left
    unmapped on purpose: they carry no text content."""
    greek_upper = {
        0x41: "Α", 0x42: "Β", 0x43: "Χ", 0x44: "Δ", 0x45: "Ε", 0x46: "Φ",
        0x47: "Γ", 0x48: "Η", 0x49: "Ι", 0x4A: "ϑ", 0x4B: "Κ", 0x4C: "Λ",
        0x4D: "Μ", 0x4E: "Ν", 0x4F: "Ο", 0x50: "Π", 0x51: "Θ", 0x52: "Ρ",
        0x53: "Σ", 0x54: "Τ", 0x55: "Υ", 0x56: "ς", 0x57: "Ω", 0x58: "Ξ",
        0x59: "Ψ", 0x5A: "Ζ",
    }
    greek_lower = {
        0x61: "α", 0x62: "β", 0x63: "χ", 0x64: "δ", 0x65: "ε", 0x66: "φ",
        0x67: "γ", 0x68: "η", 0x69: "ι", 0x6A: "ϕ", 0x6B: "κ", 0x6C: "λ",
        0x6D: "μ", 0x6E: "ν", 0x6F: "ο", 0x70: "π", 0x71: "θ", 0x72: "ρ",
        0x73: "σ", 0x74: "τ", 0x75: "υ", 0x76: "ϖ", 0x77: "ω", 0x78: "ξ",
        0x79: "ψ", 0x7A: "ζ",
    }
    rest = {
        0x22: "∀", 0x24: "∃", 0x27: "∋", 0x2A: "∗", 0x2D: "−", 0x40: "≅",
        0x5C: "∴", 0x5E: "⊥", 0x60: "",  # radicalex (PUA, AGL)
        0x7E: "∼",
        0xA0: "€", 0xA1: "ϒ", 0xA2: "′", 0xA3: "≤", 0xA4: "⁄", 0xA5: "∞",
        0xA6: "ƒ", 0xA7: "♣", 0xA8: "♦", 0xA9: "♥", 0xAA: "♠", 0xAB: "↔",
        0xAC: "←", 0xAD: "↑", 0xAE: "→", 0xAF: "↓",
        0xB0: "°", 0xB1: "±", 0xB2: "″", 0xB3: "≥", 0xB4: "×", 0xB5: "∝",
        0xB6: "∂", 0xB7: "•", 0xB8: "÷", 0xB9: "≠", 0xBA: "≡", 0xBB: "≈",
        0xBC: "…", 0xBF: "↵",
        0xC0: "ℵ", 0xC1: "ℑ", 0xC2: "ℜ", 0xC3: "℘", 0xC4: "⊗", 0xC5: "⊕",
        0xC6: "∅", 0xC7: "∩", 0xC8: "∪", 0xC9: "⊃", 0xCA: "⊇", 0xCB: "⊄",
        0xCC: "⊂", 0xCD: "⊆", 0xCE: "∈", 0xCF: "∉",
        0xD0: "∠", 0xD1: "∇", 0xD2: "®", 0xD3: "©", 0xD4: "™", 0xD5: "∏",
        0xD6: "√", 0xD7: "⋅", 0xD8: "¬", 0xD9: "∧", 0xDA: "∨", 0xDB: "⇔",
        0xDC: "⇐", 0xDD: "⇑", 0xDE: "⇒", 0xDF: "⇓",
        0xE0: "◊", 0xE1: "⟨", 0xE2: "®", 0xE3: "©", 0xE4: "™", 0xE5: "∑",
        0xF1: "⟩", 0xF2: "∫", 0xF3: "⌠", 0xF5: "⌡",
    }
    # extender pieces map to EMPTY, like 0x60 radicalex above — leaving
    # them out of the dict meant latin-1 passthrough, fabricating
    # 'æ'/'÷'… for decorative bracket artwork the page never shows as
    # text (second r6 review; third pass added arrowvertex/arrowhorizex
    # 0xBD/0xBE and braceex 0xEF, the center-piece of multi-row braces)
    for c in (0xBD, 0xBE, *range(0xE6, 0xF0), 0xF4, *range(0xF6, 0xFF)):
        rest[c] = ""
    out = dict(greek_upper)
    out.update(greek_lower)
    out.update(rest)
    # Codes absent from this dict keep latin-1 passthrough — correct
    # for the ASCII-identical slots (space ! # % digits brackets …) and
    # an accepted, rare divergence for Annex-D-undefined codes (pdfjs
    # renders .notdef there).
    return out


def _zapf_dingbats_build() -> dict[int, str]:
    """ZapfDingbats built-in encoding → Unicode (Annex D.6 / AGL for
    dingbats): the Unicode Dingbats block mirrors the font order, so
    the table is three sequential runs plus pinned irregulars."""
    out = {0x20: " "}
    # 0x21-0x7E → U+2701.. sequential — EXCEPT the nine codes whose
    # glyphs Unicode unified outside the Dingbats block, leaving holes
    # at their sequential positions (U+2705/270A/270B/2728/274C/274E/
    # 2753-2755 were empty until emoji reused them): mapping those
    # sequentially emitted ✨/❌/❓ for a page showing ★/●/❓-less
    # shapes (second r6 review — only the first three were pinned)
    for c in range(0x21, 0x7F):
        out[c] = chr(0x2701 + (c - 0x21))
    out[0x25] = "☎"   # a4  → U+260E
    out[0x2A] = "☛"   # a11 → U+261B
    out[0x2B] = "☞"   # a12 → U+261E
    out[0x48] = "★"   # U+2605 BLACK STAR
    out[0x6C] = "●"   # U+25CF BLACK CIRCLE
    out[0x6E] = "■"   # U+25A0 BLACK SQUARE
    out[0x73] = "▲"   # U+25B2 BLACK UP-POINTING TRIANGLE
    out[0x74] = "▼"   # U+25BC BLACK DOWN-POINTING TRIANGLE
    out[0x75] = "◆"   # U+25C6 BLACK DIAMOND
    out[0x77] = "◗"   # U+25D7 RIGHT HALF BLACK CIRCLE (hole U+2757)
    # 0xA1-0xA7 → U+2761-2767; suits; circled digits (three series)
    for c in range(0xA1, 0xA8):
        out[c] = chr(0x2761 + (c - 0xA1))
    out.update({0xA8: "♣", 0xA9: "♦", 0xAA: "♥", 0xAB: "♠"})
    for k in range(10):
        out[0xAC + k] = chr(0x2460 + k)   # ①-⑩
        out[0xB6 + k] = chr(0x2776 + k)   # ❶-❿
        out[0xC0 + k] = chr(0x2780 + k)   # ➀-➉
        out[0xCA + k] = chr(0x278A + k)   # ➊-➓
    out.update({0xD4: "➔", 0xD5: "→", 0xD6: "↔", 0xD7: "↕"})
    # final runs: U+2798-27AF for 0xD8-0xEF, then U+27B1-27BE for
    # 0xF1-0xFE — position 0xF0 is UNDEFINED in the font (U+27B0 has no
    # dingbat), so it keeps the latin-1 passthrough like every other
    # Annex-D-undefined slot (r6 review #3)
    for c in range(0xD8, 0xF0):
        out[c] = chr(0x2798 + (c - 0xD8))
    for c in range(0xF1, 0xFF):
        out[c] = chr(0x27B1 + (c - 0xF1))
    return out


class _Utf16BEMap:
    """Sentinel font map: show-string bytes ARE big-endian Unicode.

    Adobe's predefined ``Uni<Registry>-UCS2-*`` / ``Uni<Registry>-UTF16-*``
    CMaps (UniGB-UCS2-H, UniJIS-UCS2-HW-H, UniKS-UTF16-V, …) map
    UCS-2/UTF-16BE *character codes* to CIDs — so for text extraction the
    code itself is the Unicode value and no CID→Unicode data table is
    needed (public Adobe CMap naming convention; pdfjs ships the full
    map files but extracts the same text for these encodings). UTF16
    variants may carry surrogate pairs; Python's utf-16-be decoder
    recombines them, and errors='replace' turns a lone surrogate or an
    odd trailing byte into U+FFFD instead of failing the page."""

    __slots__ = ()


# The Unicode-coded predefined CMap family (extractable without data
# tables — see _Utf16BEMap).
_UNI_UNICODE_CMAP_RE = re.compile(r"^Uni[A-Za-z0-9]+-(UCS2|UTF16)(-HW)?-[HV]$")


class _LegacyCodecMap:
    """Sentinel font map: show-string bytes are a national legacy
    encoding that a stdlib codec decodes (see _LEGACY_CMAP_CODECS)."""

    __slots__ = ("codec",)

    def __init__(self, codec: str):
        self.codec = codec


# Legacy-coded predefined CID CMaps → the stdlib codec whose byte space
# they are defined over (round 5). Adobe's published CMap files map
# character CODES in a named national encoding to CIDs in a registry
# (Adobe-GB1/Japan1/CNS1/Korea1); the companion *-UCS2 tables map those
# CIDs to Unicode. For TEXT EXTRACTION the composition code→CID→Unicode
# is the round-trip of the legacy encoding itself — the CMap's name
# states which encoding its codespace is (GBK-EUC-* is GBK/EUC-CN bytes,
# 90ms-RKSJ-* is Microsoft Shift-JIS, ETen-B5-* is Big5 with ETen
# extensions, KSCms-UHC-* is Unified Hangul Code, … — public Adobe CMap
# naming convention, CID font spec #5099), and Python's codecs implement
# exactly those encodings. So decoding the show string with the named
# codec (errors='replace') extracts the same text pdfjs gets by shipping
# the full table chain, without any data tables, for the shared
# codespace. Known limits, accepted: a handful of codepoints where
# Adobe's table picks a variant form (vertical/rotated presentation
# forms in -V maps, a few compatibility ideographs) may differ, and
# codes outside the codec's repertoire become U+FFFD instead of a
# table-driven CID fallback — both far rarer on a crawl than the whole
# class being dropped as unsupported_cmap was.
_LEGACY_CMAP_CODECS = {
    # Adobe-GB1 (Simplified Chinese)
    "GB-EUC": "gb2312",      # EUC-CN
    "GBK-EUC": "gbk",
    "GBKp-EUC": "gbk",
    "GBK2K": "gb18030",
    # Adobe-Japan1
    "90ms-RKSJ": "cp932",    # Microsoft Shift-JIS (the 'ms' in the name)
    "90msp-RKSJ": "cp932",   # proportional variant, same byte space
    "90pv-RKSJ": "shift_jis",  # classic Mac Shift-JIS base plane
    "Ext-RKSJ": "cp932",     # NEC-extended Shift-JIS ⊂ CP932
    "Add-RKSJ": "cp932",
    "EUC": "euc_jp",
    # Adobe-CNS1 (Traditional Chinese)
    "ETen-B5": "cp950",      # Big5 + ETen extensions == CP950
    "ETenms-B5": "cp950",
    "B5pc": "big5",
    "B5": "big5",
    # Adobe-Korea1 / Adobe-KR
    "KSC-EUC": "euc_kr",
    "KSCms-UHC": "cp949",    # Unified Hangul Code
    "KSCms-UHC-HW": "cp949",
}


def _legacy_cmap_codec(name: str) -> str | None:
    """stdlib codec for a legacy-coded predefined CMap name, or None.

    Names end in -H (horizontal) or -V (vertical); the byte space — all
    extraction cares about — is identical for both."""
    if name.endswith(("-H", "-V")):
        return _LEGACY_CMAP_CODECS.get(name[:-2])
    return None


class _UnsupportedCMap:
    """Sentinel font map: a show op through it raises (lazily, so a doc
    merely EMBEDDING such a font without using it still extracts)."""

    __slots__ = ("name",)

    def __init__(self, name: str):
        self.name = name


def _parse_tounicode(cmap: bytes) -> tuple[dict[int, str], dict[int, str]]:
    """bfchar/bfrange sections of a /ToUnicode CMap → (narrow, wide):
    1-byte source codes land in `narrow`, 2-byte codes (CID fonts) in
    `wide`. Longer codespaces are skipped (out of contract)."""
    narrow: dict[int, str] = {}
    wide: dict[int, str] = {}

    def sink(src_hex: bytes) -> dict[int, str] | None:
        if len(src_hex) == 2:
            return narrow
        if len(src_hex) == 4:
            return wide
        return None

    for body in _BFCHAR_RE.findall(cmap):
        for src, dst in _HEXPAIR_RE.findall(body):
            m = sink(src)
            if m is not None:
                m[int(src, 16)] = _utf16be_hex_to_str(dst)
    for body in _BFRANGE_RE.findall(cmap):
        for lo, hi, dst, arr in _HEXRANGE_RE.findall(body):
            m = sink(lo)
            if m is None or len(hi) != len(lo):
                continue
            lo_i, hi_i = int(lo, 16), int(hi, 16)
            if hi_i < lo_i or hi_i - lo_i > 65535:
                continue
            if arr:
                dsts = _HEXTOK_RE.findall(arr)
                for off, d in enumerate(dsts[: hi_i - lo_i + 1]):
                    m[lo_i + off] = _utf16be_hex_to_str(d)
            elif dst:
                base = _utf16be_hex_to_str(dst)
                if base and base != "�":
                    cp = ord(base[-1])
                    prefix = base[:-1]
                    for off in range(hi_i - lo_i + 1):
                        c = cp + off
                        # clamp: past U+10FFFF chr() raises, and lone
                        # surrogates poison any later utf-8 encode
                        if c > 0x10FFFF or 0xD800 <= c <= 0xDFFF:
                            m[lo_i + off] = "�"
                        else:
                            m[lo_i + off] = prefix + chr(c)
    return narrow, wide


# ── content-stream text extraction ───────────────────────────────────────────

# Regex-driven tokenizer for content streams: one C-level match per token
# instead of per-byte Python stepping. Its first alternative fuses a whole
# shown text line, `tx ty Td (literal) Tj` — five tokens, the shape most
# generated and real text takes — into one match. A perfbench seed's 891
# PDFs draw 116k lines this way, of ~590k tokens; over the pool's 1,782
# PDFs in one warm process (4-vCPU Xeon VM) the fused match and the
# regex object lexer took the kernel from 3.8–5.0 s to 1.9–2.9 s, and
# perfbench extract_crawl from 1693 to 2184 docs/s. Literal strings take the
# regex fast path when they contain no nested parens; the slow path falls
# back to the exact _Lexer parser, so semantics are byte-identical to the
# reference rules either way.
#
# The fused alternative must stay token-equivalent: wherever it matches,
# the per-token branches would read the same five tokens (numbers end at
# whitespace, ints over 32 digits fall back so int()'s digit limit raises
# where it always did, `Tj` ends at a delimiter or the end of the stream).
# Comments and anything else between the tokens fall back to them.
_CTOK_RE = re.compile(
    rb"""(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)*+  # ws/comments folded into every
                                       # token (halves hot-loop iterations)
    (?: [+-]?(?:\d++\.\d*+|\.\d++|\d{1,32}+)[\x00\t\n\x0c\r ]++  # tx
        (?P<ty>[+-]?(?:\d++\.\d*+|\.\d++|\d{1,32}+))[\x00\t\n\x0c\r ]++
        Td[\x00\t\n\x0c\r ]*+
        \((?P<line>[^()\\]*+(?:\\.[^()\\]*+)*+)\)[\x00\t\n\x0c\r ]*+
        Tj(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|\Z)
      | (?P<str>\([^()\\]*+(?:\\.[^()\\]*+)*+\))  # literal, no nested parens
      | (?P<strop>\()                  # literal string needing full parse
      | <<                             # dict open (operand soup; skipped)
      | >>
      | (?P<hex><[^>]*>)               # hex string
      | (?P<arro>\[) | (?P<arrc>\])
      | (?P<name>/[^\x00\t\n\x0c\r ()<>\[\]{}/%]*)  # name
      | (?P<num>[+-]?(?:\d+\.?\d*|\.\d+))
      | (?P<brace>[{}])                # PostScript-calculator braces (type-4
                                       # function bodies): explicit no-op
      | (?P<op>[^\x00\t\n\x0c\r ()<>\[\]{}/%]+)
    )?
    """,
    re.VERBOSE,
)

# The run of fused lines after a fused line, at one match: lines whose
# literal has no backslash, with only whitespace between tokens, and
# whose ty is negative with a non-zero digit, so each one flushes the
# line before it (`-0` and `-0.0` do not). Every line in the run is a
# line _CTOK_RE's fused alternative would match on its own; ty is capped
# at 32 digits each side of the point, so float() neither underflows to
# -0.0 nor meets int()'s digit limit. One findall over the run yields
# the bodies (tx, ty, Td and Tj hold no parens). Over a perfbench seed's
# 891 PDFs in one warm process (4-vCPU VM, min of 9 reps, three
# alternating sets), this run path and the object layer's one-match
# entries took the kernel from 0.83–0.87 s to 0.57–0.63 s.
_RUN_RE = re.compile(
    rb"""(?:[\x00\t\n\x0c\r ]*+
        [+-]?(?:\d++\.\d*+|\.\d++|\d{1,32}+)[\x00\t\n\x0c\r ]++  # tx
        -(?=[.0-9]*[1-9])(?:\d{1,32}+(?:\.\d{0,32}+)?|\.\d{1,32}+)  # ty < 0
        [\x00\t\n\x0c\r ]++
        Td[\x00\t\n\x0c\r ]*+
        \([^()\\]*+\)[\x00\t\n\x0c\r ]*+
        Tj(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|\Z)
    )*+""",
    re.VERBOSE,
)
_RUN_BODY_RE = re.compile(rb"\(([^()\\]*)\)")

# group indices for the int-dispatch hot loop in _extract_page_text
_CTOK_GI = tuple(
    _CTOK_RE.groupindex[g]
    for g in ("line", "ty", "str", "strop", "hex", "arro", "arrc", "name",
              "num", "brace", "op")
)

# inline-image payload terminator (§8.9.7): EI preceded by whitespace and
# followed by a token boundary. The binary payload between ID and EI must
# never reach the tokenizer — a stray '(' inside image bytes would open a
# bogus literal string and swallow subsequent show operators.
_EI_RE = re.compile(rb"[\x00\t\n\x0c\r ]EI(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$)")
# lenient fallback: some writers emit the payload ABUTTING EI (the spec
# only mandates whitespace after ID) — without this, such a page would
# silently drop every operator after the image
_EI_BARE_RE = re.compile(rb"EI(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$)")

_MAX_FORM_DEPTH = 8  # Form-XObject recursion guard (cycles break out earlier)

_STR_ESCAPE_RE = re.compile(rb"\\(?:[nrtbf()\\]|[0-7]{1,3}|\r\n|\r|\n|.)")
_ESC_MAP = {0x6E: b"\n", 0x72: b"\r", 0x74: b"\t", 0x62: b"\x08", 0x66: b"\x0c"}


def _unescape_literal(body: bytes) -> bytes:
    """Unescape a (...)-literal body (no unescaped nested parens inside)."""
    if b"\\" not in body:
        return body

    def sub(m: re.Match) -> bytes:
        e = m.group(0)[1:]
        c = e[0]
        if c in _ESC_MAP:
            return _ESC_MAP[c]
        if 0x30 <= c <= 0x37:  # octal
            return bytes([int(e, 8) & 0xFF])
        if e in (b"\r\n", b"\r", b"\n"):  # line continuation
            return b""
        return e

    return _STR_ESCAPE_RE.sub(sub, body)


def _extract_page_text(
    content: bytes,
    fonts: dict[str, dict[int, str]] | None = None,
    xobjects: dict | None = None,
    depth: int = 0,
) -> str:
    """Apply the pinned reflow rules (module docstring) to one content stream.

    `fonts` maps a resource font name (e.g. "F1") to a /Differences
    code→char override; when None or the current font has no override,
    strings decode latin-1 (the pinned fast path — byte-identical to the
    pre-Differences kernel).

    `xobjects` maps a resource XObject name to a (content, fonts,
    xobjects) triple for /Subtype /Form streams; a `Do` of such a name
    recurses (pdfjs's getTextContent does the same — text drawn inside
    form XObjects is real page text, reference main.ts:149-150). Depth-
    and cycle-guarded; image XObjects never appear in the map."""
    lines: list[str] = []
    cur: list[str] = []
    last_str: bytes | None = None   # most recent string operand
    last_num: float | None = None   # most recent numeric operand
    last_name: str | None = None    # most recent name operand (for Tf)
    arr: list | None = None         # open TJ-style array, or None
    arr_strs: list[bytes] = []
    cur_map: dict[int, str] | None = None  # active font's code overrides

    def dec(b: bytes) -> str:
        if cur_map is None:
            return b.decode("latin-1")
        m = cur_map
        if type(m) is _UnsupportedCMap:
            raise PDFUnsupportedCMapError(
                f"text shown through predefined CID CMap /{m.name} "
                "without ToUnicode"
            )
        # NUL codes (a 0x00 show byte is VALID in the legacy codespaces
        # and UTF-16BE) must not put raw \x00 into the extracted-text
        # surface — same contract as the _UniWideMap branch below
        # (r6 fuzz finding)
        if type(m) is _Utf16BEMap:  # Uni*-UCS2/UTF16: codes ARE Unicode
            return b.decode("utf-16-be", "replace").replace("\x00", "�")
        if type(m) is _LegacyCodecMap:  # GBK-EUC/RKSJ/…: codes ARE the
            return b.decode(m.codec, "replace").replace("\x00", "�")
        if type(m) is _Translate:  # declared WinAnsi/MacRoman base
            if m.chars is not None:
                return _charmap_decode(b, None, m.chars)[0]
            return b.decode("latin-1").translate(m.table)
        if type(m) is _UniWideMap:  # Uni* cmap + partial ToUnicode:
            # `is None`, not `or`: an explicit empty ToUnicode mapping
            # must stay blank (same falsy bug as the single-byte path
            # below); NUL (code 0) degrades to U+FFFD — raw \x00 must
            # never reach the golden/oracle text surface (r6 review)
            return "".join(  # unmapped codes ARE the Unicode value
                v
                if (v := m.get(c)) is not None
                else (chr(c) if c and not 0xD800 <= c <= 0xDFFF else "�")
                for i in range(0, len(b) - 1, 2)
                for c in ((b[i] << 8) | b[i + 1],)
            )
        if type(m) is _WideMap:  # Type0: consume 2-byte CIDs
            return "".join(
                m.get((b[i] << 8) | b[i + 1], "�")
                for i in range(0, len(b) - 1, 2)
            )
        t = _LATIN1_TABLE
        # `is None` check, not truthiness: Symbol maps its decorative
        # extender/radicalex codes to EMPTY, and `m.get(x) or t[x]`
        # silently resurrected latin-1 for them (second r6 review)
        return "".join(c if (c := m.get(x)) is not None else t[x] for x in b)

    def flush() -> None:
        if cur:
            lines.append("".join(cur))
            cur.clear()

    n = len(content)
    pos = 0
    # hot loop: int dispatch on m.lastindex (group numbers, see _CTOK_GI)
    # instead of string-comparing m.lastgroup — one C-level match + one
    # int compare chain per token, ordered by token frequency
    match = _CTOK_RE.match
    run_match = _RUN_RE.match
    (GI_LINE, GI_TY, GI_STR, GI_STROP, GI_HEX, GI_ARRO, GI_ARRC, GI_NAME,
     GI_NUM, GI_BRACE, GI_OP) = _CTOK_GI
    while pos < n:
        m = match(content, pos)
        end = m.end()
        if end == pos:  # stray delimiter the grammar rejects — skip one byte
            pos += 1
            continue
        pos = end
        gi = m.lastindex
        if gi is None:  # trailing ws / comment / << >>
            continue
        if gi == GI_LINE:  # fused `tx ty Td (literal) Tj`: Td's flush, Tj's show
            ty, body = m.group(GI_TY, GI_LINE)
            if (float(ty) if b"." in ty else int(ty)) < 0:
                flush()
            cur.append(dec(_unescape_literal(body)))
            run_end = run_match(content, pos).end()
            if run_end > pos:  # each line flushes: one line of text per body
                bodies = _RUN_BODY_RE.findall(content, pos, run_end)
                pos = run_end
                flush()
                if cur_map is None:
                    cur.append(b"\n".join(bodies).decode("latin-1"))
                elif (type(cur_map) is _Translate and cur_map.chars is not None
                      and cur_map.chars[10] == "\n"):  # a 1:1 charmap keeps \n
                    cur.append(_charmap_decode(b"\n".join(bodies), None, cur_map.chars)[0])
                else:
                    cur.append("\n".join([dec(b) for b in bodies]))
            last_str = last_num = last_name = None
            arr = None
            arr_strs = []
            continue
        if gi == GI_NUM:
            tok = m.group(GI_NUM)
            last_num = float(tok) if (b"." in tok) else int(tok)
            continue
        if gi == GI_STR:
            s = _unescape_literal(m.group(GI_STR)[1:-1])
            if arr is not None:
                arr_strs.append(s)
            last_str = s
        elif gi == GI_NAME:
            raw_name = m.group(GI_NAME)[1:]
            if b"#" in raw_name:
                # #xx escapes are legal in ANY name, including operands —
                # resource-dict keys are unescaped by _Lexer._parse_name,
                # so an escaped /F#31 Tf must also resolve to 'F1' or the
                # font/XObject lookup silently misses (r3 review)
                raw_name = re.sub(
                    rb"#([0-9A-Fa-f]{2})",
                    lambda mm: bytes([int(mm.group(1), 16)]),
                    raw_name,
                )
            last_name = raw_name.decode("latin-1")
            continue
        elif gi == GI_STROP:
            lx = _Lexer(content, m.start(GI_STROP))
            s = lx._parse_literal_string()
            pos = lx.pos
            if arr is not None:
                arr_strs.append(s)
            last_str = s
        elif gi == GI_HEX:
            digits = re.sub(rb"[\x00\t\n\x0c\r ]", b"", m.group(GI_HEX)[1:-1])
            if len(digits) % 2:
                digits += b"0"
            try:
                s = bytes.fromhex(digits.decode("ascii"))
            except ValueError:
                continue
            if arr is not None:
                arr_strs.append(s)
            last_str = s
        elif gi == GI_ARRO:
            arr = []
            arr_strs = []
        elif gi == GI_ARRC:
            arr = None
        elif gi == GI_OP:
            op = m.group("op")
            if op == b"BT" or op == b"T*":
                flush()
            elif op in (b"Td", b"TD"):
                if isinstance(last_num, (int, float)) and last_num < 0:
                    flush()
            elif op == b"Tj":
                if last_str is not None:
                    cur.append(dec(last_str))
            elif op == b"TJ":
                for s in arr_strs:
                    cur.append(dec(s))
                arr_strs = []
            elif op == b"'" or op == b'"':
                flush()
                if last_str is not None:
                    cur.append(dec(last_str))
            elif op == b"Tf" and fonts is not None:
                cur_map = fonts.get(last_name) if last_name is not None else None
            elif op == b"Do" and xobjects is not None and last_name is not None:
                sub = xobjects.get(last_name)
                if sub is not None and depth < _MAX_FORM_DEPTH:
                    # form text is emitted in stream order at the Do site;
                    # the form's own BT blocks would flush anyway, and the
                    # caller's text state is untouched by the recursion
                    flush()
                    sub_text = _extract_page_text(sub[0], sub[1], sub[2], depth + 1)
                    if sub_text:
                        lines.extend(sub_text.split("\n"))
            elif op == b"ID":
                # inline image (BI … ID <binary> EI): skip the payload to
                # the whitespace-delimited EI so image bytes never reach
                # the tokenizer; fall back to a bare token-boundary EI for
                # writers whose payload abuts the delimiter
                m2 = _EI_RE.search(content, pos) or _EI_BARE_RE.search(content, pos)
                pos = m2.end() if m2 is not None else n
            # BX/EX compatibility sections are explicit no-ops: they only
            # toggle unknown-operator tolerance, which this lenient
            # tokenizer already has
            last_str = None
            last_num = None
            last_name = None
            arr = None
            arr_strs = []
    flush()
    return "\n".join(lines)


def extract_pdf_text(data: bytes) -> tuple[str, int]:
    """bytes → (extracted_text, n_pages).

    Pages are joined with "\\n" — the reference's mergePages + join
    (src/main.ts:150-154). Raises PDFParseError on any structural fault.
    """
    if not isinstance(data, (bytes, bytearray)):
        raise PDFParseError("input is not bytes")
    doc = PDFDocument(bytes(data))
    page_texts = []
    for p in doc.pages():
        fonts, xobjs = doc.page_extraction_context(p)
        page_texts.append(_extract_page_text(doc.page_content(p), fonts, xobjs))
    return "\n".join(page_texts), len(page_texts)
