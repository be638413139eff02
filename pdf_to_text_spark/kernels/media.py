"""Real stdlib-only media codecs (round 6 — VERDICT r5 #3).

PNG, TIFF, BMP, baseline JPEG and WAV-PCM (incl. G.711 telephony)
decode with zero external dependencies (JPEG leans on numpy — baked
into the runtime — for the IDCT), so features are computed over REAL
pixels and samples instead of the contract-sanctioned stub (which
remains the fallback for formats that genuinely need external
libraries — MP3, video — and is reported distinctly as
decode_status='stub'; progressive/arithmetic JPEG is RECOGNIZED and
surfaces the countable decode_failed class instead).

Public specs implemented:
* PNG (RFC 2083 / W3C PNG): signature, IHDR/PLTE/IDAT/IEND chunk walk,
  zlib inflate, the five scanline filters (None/Sub/Up/Average/Paeth),
  the full spec depth matrix (r6): 8- and 16-bit (16-bit samples
  reduce to the 8-bit analysis domain by their high byte — same
  rationale as 24-bit WAV) plus sub-byte 1/2/4 gray-or-palette
  (MSB-first unpack, grayscale scaled 255/(2^d-1) per the spec's
  sample expansion), color types 0/2/3/4/6, interlace 0 and Adam7
  (seven independently-filtered passes scattered onto the pass
  grid).
* TIFF (baseline TIFF 6.0): both byte orders, first-IFD walk, strip
  organization, compression none/PackBits/LZW (the PDF kernel's
  MSB-first early-change LZW reused — §13 and PDF LZWDecode share the
  algorithm), Predictor-2 horizontal differencing, 8-bit chunky gray
  (WhiteIsZero inverted) / RGB / RGBA. Tiles, planar config 2,
  sub-byte bilevel/palette TIFFs and JPEG-in-TIFF are documented
  scope cuts that surface as countable decode_failed (same rule as
  progressive JPEG — the magic is recognized).
* BMP (BITMAPINFOHEADER, BI_RGB): 8-bpp palette, 24-bpp BGR and
  32-bpp BGRA, bottom-up and top-down row orders, 4-byte row padding.
  RLE and bitfields are scope cuts (countable decode_failed).
* WAV (RIFF/WAVE, PCM): fmt/data chunk walk, 8-bit unsigned, 16-bit
  signed LE and 24-bit signed LE PCM (24-bit scaled into the 16-bit
  analysis domain), WAVE_FORMAT_EXTENSIBLE unwrapped when its
  SubFormat GUID names PCM, any channel count.

Encoding (for the resize sink) writes the simplest valid PNG: filter-0
scanlines, one IDAT, CRC32 per chunk.

Features are 16-dim, computed from decoded content with
order-independent integer/streaming math and rounded to 6 decimals so
they survive the float32 cast bit-identically.

No engine path imports this module; it is exercised by its own tests
(tests/test_media_kernel.py, tests/test_fuzz_media.py) against the
writers in tools/make_media.py.
"""

from __future__ import annotations

import struct
import zlib

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
FEATURE_DIM = 16
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# Decompression-bomb caps, same spirit as the PDF filter caps: a tiny
# crawl payload must not force unbounded executor allocations. 4 MP
# bounds both memory AND the pure-Python unfilter time (the per-byte
# loops would take minutes at 64 MP); beyond-cap media surfaces the
# countable decode_failed status (r6 review #1).
MAX_PIXELS = 4_000_000
# WAV samples materialize as a Python int list (~28 bytes/element):
# 4M samples ≈ 112 MB worst-case per row, the accepted ceiling
# (r6 review #2). ~4 minutes of 16-bit mono at 16 kHz.
MAX_SAMPLES = 4_000_000


class MediaDecodeError(ValueError):
    """Payload is not decodable by these codecs (caller falls back)."""


# ── PNG decode ───────────────────────────────────────────────────────────────


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _unfilter(raw: bytes, width: int, height: int, bpp: int) -> bytearray:
    stride = width * bpp
    if len(raw) < height * (stride + 1):
        raise MediaDecodeError("short pixel data")
    out = bytearray(height * stride)
    prev_off = -stride
    pos = 0
    for y in range(height):
        ftype = raw[pos]
        pos += 1
        row_off = y * stride
        line = raw[pos : pos + stride]
        pos += stride
        if ftype == 0:
            out[row_off : row_off + stride] = line
        elif ftype == 1:  # Sub
            for x in range(stride):
                left = out[row_off + x - bpp] if x >= bpp else 0
                out[row_off + x] = (line[x] + left) & 0xFF
        elif ftype == 2:  # Up
            if y == 0:
                out[row_off : row_off + stride] = line
            else:
                for x in range(stride):
                    out[row_off + x] = (line[x] + out[row_off + prev_off + x]) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                left = out[row_off + x - bpp] if x >= bpp else 0
                up = out[row_off + prev_off + x] if y > 0 else 0
                out[row_off + x] = (line[x] + ((left + up) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                left = out[row_off + x - bpp] if x >= bpp else 0
                up = out[row_off + prev_off + x] if y > 0 else 0
                ul = out[row_off + prev_off + x - bpp] if (y > 0 and x >= bpp) else 0
                out[row_off + x] = (line[x] + _paeth(left, up, ul)) & 0xFF
        else:
            raise MediaDecodeError(f"unknown filter type {ftype}")
    return out


# Adam7 pass grid: (x_start, y_start, x_step, y_step) per pass — W3C
# PNG §8.2. Each pass is an independently-filtered sub-image.
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """PNG bytes → (width, height, channels, pixels row-major).

    Palette images are expanded to RGB through PLTE; Adam7-interlaced
    images (r6) are de-interlaced — each of the seven passes is
    unfiltered as its own sub-image, then scattered onto the pass grid.
    Raises MediaDecodeError for anything outside the supported
    profile."""
    if not data.startswith(PNG_MAGIC):
        raise MediaDecodeError("not a PNG")
    pos = 8
    width = height = None
    color_type = bit_depth = interlace = None
    idat = bytearray()
    plte = b""
    while pos + 8 <= len(data):
        (length,), ctype = struct.unpack_from(">I", data, pos), data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + crc (crc not verified: crawl leniency)
        if ctype == b"IHDR":
            if len(body) < 13:
                raise MediaDecodeError("short IHDR")
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack_from(">IIBBBBB", body, 0)
            )
        elif ctype == b"PLTE":
            plte = bytes(body)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
    if width is None or not idat:
        raise MediaDecodeError("missing IHDR/IDAT")
    if (
        bit_depth not in (1, 2, 4, 8, 16)
        or interlace not in (0, 1)
        or color_type not in _CHANNELS
        or (bit_depth == 16 and color_type == 3)  # no 16-bit palettes (spec)
        or (bit_depth < 8 and color_type not in (0, 3))  # gray/palette only
    ):
        raise MediaDecodeError(
            f"unsupported profile depth={bit_depth} color={color_type} "
            f"interlace={interlace}"
        )
    if width == 0 or height == 0 or width * height > MAX_PIXELS:
        raise MediaDecodeError("dimension bomb")
    ch = _CHANNELS[color_type]
    # Sample-depth normalization into the 8-bit analysis domain (r6):
    # 16-bit samples reduce to their HIGH byte after unfiltering (same
    # rationale as 24-bit WAV's >>8 — the feature/resize contract is
    # 8-bit and photographic LSBs carry no analysis signal); sub-byte
    # samples (1/2/4-bit gray or palette indices) unpack MSB-first and
    # grayscale ones scale by 255/(2^d-1) per the spec's sample
    # expansion. Filters ALWAYS operate on bytes: at depth 16 the
    # left-neighbor offset is 2x per channel, at sub-byte depths it is
    # one byte (W3C PNG §9.2) — both shapes _unfilter's bpp/width
    # parameters express (for sub-byte rows the byte-stride is passed
    # as the width with bpp=1).
    sw = bit_depth // 8  # bytes per sample (0 for sub-byte depths)
    bpp = max(1, ch * sw)

    def _row_bytes(pw: int) -> int:
        return (pw * ch * bit_depth + 7) // 8

    def _normalize(sub: bytearray, pw: int, ph: int) -> bytearray:
        """Unfiltered scanline bytes of a (sub-)image → one byte per
        sample in the 8-bit domain."""
        if bit_depth == 8:
            return sub
        if bit_depth == 16:
            return sub[::2]
        mask = (1 << bit_depth) - 1
        per = 8 // bit_depth
        scale = 0 if color_type == 3 else 255 // mask  # indices unscaled
        stride = _row_bytes(pw)
        out = bytearray(pw * ph)
        at = 0
        for ry in range(ph):
            base = ry * stride
            for rx in range(pw):
                b = sub[base + rx // per]
                v = (b >> (8 - bit_depth * (rx % per + 1))) & mask
                out[at] = v * scale if scale else v
                at += 1
        return out

    # Inflate AT MOST the geometry the IHDR declares (+1 slack byte to
    # detect overlong streams) — zlib.decompress alone is unbounded, so
    # a 200 KB IDAT could otherwise inflate to hundreds of MB before
    # the length check (r6 review #1, confirmed experimentally).
    if interlace == 1:
        passes = []
        expected = 0
        for x0, y0, xs, ys in _ADAM7:
            pw = (width - x0 + xs - 1) // xs
            ph = (height - y0 + ys - 1) // ys
            if pw <= 0 or ph <= 0:
                continue  # pass is empty for this geometry
            passes.append((x0, y0, xs, ys, pw, ph))
            expected += ph * (_row_bytes(pw) + 1)
    else:
        expected = height * (_row_bytes(width) + 1)
    d = zlib.decompressobj()
    try:
        raw = d.decompress(bytes(idat), expected + 1)
    except zlib.error as e:
        raise MediaDecodeError(f"bad IDAT: {e}") from None
    if len(raw) > expected:
        raise MediaDecodeError("IDAT inflates past declared geometry")
    if interlace == 1:
        pixels = bytearray(width * height * ch)
        pos = 0
        for x0, y0, xs, ys, pw, ph in passes:
            stride = _row_bytes(pw)
            size = ph * (stride + 1)
            if bit_depth < 8:
                sub = _unfilter(raw[pos : pos + size], stride, ph, 1)
            else:
                sub = _unfilter(raw[pos : pos + size], pw, ph, bpp)
            pos += size
            sub = _normalize(sub, pw, ph)
            for ry in range(ph):
                src = ry * pw * ch
                row = (y0 + ry * ys) * width
                for rx in range(pw):
                    dst = (row + x0 + rx * xs) * ch
                    s = src + rx * ch
                    pixels[dst : dst + ch] = sub[s : s + ch]
    else:
        if bit_depth < 8:
            pixels = _unfilter(raw, _row_bytes(width), height, 1)
        else:
            pixels = _unfilter(raw, width, height, bpp)
        pixels = _normalize(pixels, width, height)
    if color_type == 3:
        if not plte:
            raise MediaDecodeError("palette image without PLTE")
        rgb = bytearray(width * height * 3)
        for i, idx in enumerate(pixels):
            off = idx * 3
            if off + 3 > len(plte):
                raise MediaDecodeError("palette index out of range")
            rgb[3 * i : 3 * i + 3] = plte[off : off + 3]
        return width, height, 3, bytes(rgb)
    return width, height, ch, bytes(pixels)


# ── JPEG decode (baseline sequential DCT, ITU-T T.81) ────────────────────────

JPEG_MAGIC = b"\xff\xd8\xff"


def _jpeg_zigzag() -> list[int]:
    """Natural (row-major) index for each zigzag position (T.81 Fig. 5):
    generated, not hand-typed — anti-diagonal walk alternating up-right
    (even sums) and down-left (odd sums)."""
    out = []
    for s in range(15):
        rng = range(max(0, s - 7), min(s, 7) + 1)
        for r in (rng if s % 2 else reversed(rng)):
            out.append(r * 8 + (s - r))
    return out


_JPEG_ZZ = _jpeg_zigzag()


def _jpeg_huff_table(bits: list[int], vals: bytes) -> tuple[list, int]:
    """Canonical JPEG Huffman (T.81 Annex C) as a flat peek-LUT:
    (lut, maxlen) where lut[first-maxlen-bits] = (symbol, code_length).
    One list index per symbol instead of up-to-16 bit-at-a-time reads —
    without it a legal MAX_PIXELS image drives ~10^8 Python-level loop
    iterations, a CPU-bomb asymmetry the C-speed zlib PNG path doesn't
    have (r6 review)."""
    maxlen = max((ln for ln in range(1, 17) if bits[ln - 1]), default=0)
    if maxlen == 0:
        raise MediaDecodeError("empty DHT")
    lut: list = [None] * (1 << maxlen)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if k >= len(vals):
                raise MediaDecodeError("DHT counts exceed symbols")
            base = code << (maxlen - length)
            if base + (1 << (maxlen - length)) > len(lut):
                raise MediaDecodeError("DHT code overflow")
            entry = (vals[k], length)
            for s in range(1 << (maxlen - length)):
                lut[base + s] = entry
            code += 1
            k += 1
        code <<= 1
    return lut, maxlen


class _JpegBits:
    """MSB-first bit reader over entropy-coded data: un-stuffs 0xFF00,
    stops at markers, and surfaces RSTn for restart-interval resets."""

    __slots__ = ("data", "pos", "acc", "nbits", "marker")

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker = None  # pending marker code (RSTn / EOI / next seg)

    def _fill(self) -> bool:
        d = self.data
        p = self.pos
        while True:
            if p >= len(d):
                return False
            b = d[p]
            if b != 0xFF:
                self.pos = p + 1
                break
            if p + 1 >= len(d):
                return False
            nxt = d[p + 1]
            if nxt == 0x00:  # stuffed data byte
                self.pos = p + 2
                break
            if nxt == 0xFF:  # fill byte before a marker (T.81 B.1.1.2)
                p += 1
                self.pos = p
                continue
            self.marker = nxt  # restart / EOI / next segment
            self.pos = p
            return False
        self.acc = (self.acc << 8) | b
        self.nbits += 8
        return True

    def read(self, n: int) -> int:
        while self.nbits < n:
            if not self._fill():
                raise MediaDecodeError("truncated entropy data")
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def huff(self, table: tuple[list, int]) -> int:
        lut, maxlen = table
        while self.nbits < maxlen:
            if not self._fill():
                break
        if self.nbits >= maxlen:
            idx = (self.acc >> (self.nbits - maxlen)) & ((1 << maxlen) - 1)
        elif self.nbits:
            idx = (self.acc << (maxlen - self.nbits)) & ((1 << maxlen) - 1)
        else:
            raise MediaDecodeError("truncated entropy data")
        entry = lut[idx]
        if entry is None:
            raise MediaDecodeError("invalid Huffman code")
        sym, ln = entry
        if ln > self.nbits:
            raise MediaDecodeError("truncated entropy data")
        self.nbits -= ln
        self.acc &= (1 << self.nbits) - 1
        return sym

    def restart(self) -> None:
        """Byte-align and consume the pending RSTn marker."""
        self.acc = 0
        self.nbits = 0
        if self.marker is None:
            # marker not yet seen: it must be the next bytes (possibly
            # behind 0xFF fill padding, T.81 B.1.1.2 — r6 review)
            d, p = self.data, self.pos
            while p + 1 < len(d) and not (d[p] == 0xFF and d[p + 1] != 0x00):
                p += 1
            while p + 1 < len(d) and d[p + 1] == 0xFF:
                p += 1
            if p + 1 >= len(d) or not 0xD0 <= d[p + 1] <= 0xD7:
                raise MediaDecodeError("missing restart marker")
            self.pos = p + 2
            return
        if not 0xD0 <= self.marker <= 0xD7:
            raise MediaDecodeError("expected restart marker")
        self.marker = None
        self.pos += 2  # past FF Dn


def _jpeg_extend(v: int, n: int) -> int:
    """T.81 F.2.2.1 EXTEND: map an n-bit magnitude to its signed value."""
    if n == 0:
        return 0
    return v if v >= (1 << (n - 1)) else v - (1 << n) + 1


def decode_jpeg(data: bytes) -> tuple[int, int, int, bytes]:
    """Typed front door: every malformed-stream failure mode inside the
    parser (short segments, bad lengths, absent tables) surfaces as
    MediaDecodeError — the per-row decode_failed contract, like the
    other codecs' explicit bounds checks."""
    try:
        return _decode_jpeg(data)
    except MediaDecodeError:
        raise
    except (struct.error, IndexError, KeyError, ValueError,
            ZeroDivisionError, OverflowError) as e:
        raise MediaDecodeError(f"malformed JPEG: {e}") from e


def _decode_jpeg(data: bytes) -> tuple[int, int, int, bytes]:
    """Baseline JPEG (SOF0/SOF1, Huffman, 8-bit) → (w, h, ch, pixels).

    Grayscale (1 component) and 3-component color with sampling factors
    in {1, 2} — covers 4:4:4, 4:2:2 and 4:2:0, the crawl-common shapes;
    restart intervals (DRI/RSTn) and 0xFF fill padding are honored;
    Adobe APP14 transform 0 keeps the planes RGB (no color matrix).
    Progressive (SOF2), arithmetic coding, 12-bit precision and
    non-interleaved multi-scan sequential files raise MediaDecodeError
    (→ the countable decode_failed class, same contract as the other
    codecs). IDCT is the orthonormal separable matrix product (numpy),
    bit-exactness is NOT part of the contract — JPEG is lossy and T.81
    Annex A only bounds IDCT error."""
    import numpy as np

    if not data.startswith(JPEG_MAGIC):
        raise MediaDecodeError("not a JPEG")
    qt: dict[int, list[int]] = {}
    huff_dc: dict[int, tuple[list, int]] = {}
    huff_ac: dict[int, tuple[list, int]] = {}
    dht_builds = 0
    comps: list[tuple[int, int, int, int]] = []  # (id, H, V, Tq)
    w = h = 0
    restart_interval = 0
    adobe_transform: int | None = None
    pos = 2
    scan: list[tuple[int, int, int]] | None = None  # (comp idx, Td, Ta)
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise MediaDecodeError("marker expected")
        m = data[pos + 1]
        if m == 0xFF:  # fill byte before a marker (T.81 B.1.1.2)
            pos += 1
            continue
        if m == 0xD8 or 0xD0 <= m <= 0xD7 or m == 0x01:  # SOI / RST / TEM
            pos += 2
            continue
        if m == 0xD9:  # EOI before any scan
            break
        seglen = struct.unpack_from(">H", data, pos + 2)[0]
        seg = data[pos + 4 : pos + 2 + seglen]
        if len(seg) != seglen - 2:
            raise MediaDecodeError("truncated segment")
        if m == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0x0F
                i += 1
                n = 64 * (2 if pq else 1)
                if i + n > len(seg):
                    raise MediaDecodeError("short DQT")
                raw = (
                    list(struct.unpack_from(">64H", seg, i))
                    if pq
                    else list(seg[i : i + 64])
                )
                if 0 in raw:
                    # T.81 requires 1..255/65535: a zero entry multiplies
                    # every coefficient away and the malformed stream
                    # would decode to flat gray with status 'ok' instead
                    # of the decode_failed class (r6 review)
                    raise MediaDecodeError("zero DQT entry")
                tbl = [0] * 64
                for z, v in enumerate(raw):
                    tbl[_JPEG_ZZ[z]] = v
                qt[tq] = tbl
                i += n
        elif m == 0xC4:  # DHT
            i = 0
            while i + 17 <= len(seg):
                # each build costs up to 2^maxlen LUT fills (~2 ms for a
                # 16-bit table): without a cap, a payload of repeated
                # tiny DHT segments is a header-stage CPU bomb — the
                # exact asymmetry the LUT was added to remove (second
                # r6 review). Baseline files define at most 8 tables
                # (4 DC + 4 AC slots).
                dht_builds += 1
                if dht_builds > 16:
                    raise MediaDecodeError("too many DHT tables")
                tc, th = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1 : i + 17])
                n = sum(bits)
                vals = seg[i + 17 : i + 17 + n]
                if len(vals) != n:
                    raise MediaDecodeError("short DHT")
                (huff_ac if tc else huff_dc)[th] = _jpeg_huff_table(bits, vals)
                i += 17 + n
        elif m in (0xC0, 0xC1):  # SOF0 / SOF1 (both baseline-decodable)
            if seg[0] != 8:
                raise MediaDecodeError("only 8-bit precision")
            h, w = struct.unpack_from(">HH", seg, 1)
            nc = seg[5]
            if nc not in (1, 3):
                raise MediaDecodeError(f"{nc}-component JPEG unsupported")
            if w == 0 or h == 0 or w * h > MAX_PIXELS:
                raise MediaDecodeError("dimension bomb")
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                H, V = hv >> 4, hv & 0x0F
                if H not in (1, 2) or V not in (1, 2):
                    raise MediaDecodeError("sampling factor outside {1,2}")
                comps.append((cid, H, V, tq))
        elif m in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise MediaDecodeError("non-baseline JPEG (progressive/arith)")
        elif m == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", seg, 0)[0]
        elif m == 0xEE and seg[:5] == b"Adobe" and len(seg) >= 12:
            # APP14: transform 0 = the planes are RGB, not YCbCr —
            # applying the color matrix anyway silently mangles every
            # pixel under status 'ok' (r6 review)
            adobe_transform = seg[11]
        elif m == 0xDA:  # SOS
            ns = seg[0]
            scan = []
            for c in range(ns):
                cid, tda = seg[1 + 2 * c], seg[2 + 2 * c]
                idx = next(
                    (k for k, comp in enumerate(comps) if comp[0] == cid), None
                )
                if idx is None:
                    raise MediaDecodeError("scan names unknown component")
                scan.append((idx, tda >> 4, tda & 0x0F))
            pos += 2 + seglen
            break
        pos += 2 + seglen
    if not comps or scan is None or not w:
        raise MediaDecodeError("missing SOF/SOS")
    if len(scan) != len(comps):
        # non-interleaved sequential files (one SOS per component) are a
        # documented scope cut — rare writer output; the overwhelmingly
        # common baseline shape is one interleaved scan (r6 review: the
        # docstring now names this class alongside progressive)
        raise MediaDecodeError("non-interleaved multi-scan unsupported")

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    # orthonormal DCT-II basis: row k is c(k)/2 * cos((2n+1)kπ/16)
    n_idx = np.arange(8)
    D = np.cos((2 * n_idx[None, :] + 1) * n_idx[:, None] * np.pi / 16) / 2.0
    D[0, :] /= np.sqrt(2.0)
    planes = [
        np.zeros((mcuy * 8 * V, mcux * 8 * H), dtype=np.float64)
        for _, H, V, _ in comps
    ]
    pred = [0] * len(comps)
    bits = _JpegBits(data, pos)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                bits.restart()
                pred = [0] * len(comps)
            mcu_count += 1
            for (ci, td, ta) in scan:
                _, H, V, tq = comps[ci]
                if tq not in qt or td not in huff_dc or ta not in huff_ac:
                    raise MediaDecodeError("scan references missing table")
                q = qt[tq]
                for v in range(V):
                    for u in range(H):
                        coefs = np.zeros(64, dtype=np.float64)
                        s = bits.huff(huff_dc[td])
                        diff = _jpeg_extend(bits.read(s), s) if s else 0
                        pred[ci] += diff
                        coefs[0] = pred[ci] * q[0]
                        k = 1
                        while k < 64:
                            rs = bits.huff(huff_ac[ta])
                            r, sz = rs >> 4, rs & 0x0F
                            if sz == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise MediaDecodeError("AC run overflow")
                            nat = _JPEG_ZZ[k]
                            coefs[nat] = _jpeg_extend(bits.read(sz), sz) * q[nat]
                            k += 1
                        block = D.T @ coefs.reshape(8, 8) @ D + 128.0
                        y0 = (my * V + v) * 8
                        x0 = (mx * H + u) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = block
    out_planes = []
    for ci, (_, H, V, _) in enumerate(comps):
        p = planes[ci]
        if H < hmax:
            p = np.repeat(p, hmax // H, axis=1)
        if V < vmax:
            p = np.repeat(p, vmax // V, axis=0)
        out_planes.append(p[:h, :w])
    if len(comps) == 1:
        gray = np.clip(np.rint(out_planes[0]), 0, 255).astype(np.uint8)
        return w, h, 1, gray.tobytes()
    comp_ids = tuple(c[0] for c in comps)
    is_rgb = adobe_transform == 0 or comp_ids == (0x52, 0x47, 0x42)  # 'R','G','B'
    if is_rgb:
        r, g, b = out_planes
    else:
        Y, Cb, Cr = out_planes
        r = Y + 1.402 * (Cr - 128.0)
        g = Y - 0.344136 * (Cb - 128.0) - 0.714136 * (Cr - 128.0)
        b = Y + 1.772 * (Cb - 128.0)
    rgb = np.stack(
        [np.clip(np.rint(c), 0, 255).astype(np.uint8) for c in (r, g, b)],
        axis=-1,
    )
    return w, h, 3, rgb.tobytes()


# ── PNG encode (filter-0 scanlines) ──────────────────────────────────────────


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body)) + ctype + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def encode_png(width: int, height: int, channels: int, pixels: bytes) -> bytes:
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}.get(channels)
    if color_type is None or len(pixels) != width * height * channels:
        raise ValueError("bad encode geometry")
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    stride = width * channels
    raw = b"".join(
        b"\x00" + pixels[y * stride : (y + 1) * stride] for y in range(height)
    )
    return (
        PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )


# ── BMP decode ───────────────────────────────────────────────────────────────

BMP_MAGIC = b"BM"


def decode_bmp(data: bytes) -> tuple[int, int, int, bytes]:
    """BMP bytes → (width, height, channels, pixels row-major top-down).

    BITMAPINFOHEADER (and the longer V4/V5 headers, which extend it
    compatibly), uncompressed BI_RGB at 8 bpp (palette → RGB), 24 bpp
    (BGR → RGB) and 32 bpp (BGRx → RGB; the fourth byte is RESERVED
    under BI_RGB, not alpha); bottom-up (positive height) and top-down
    (negative) row orders; 4-byte row padding. RLE4/RLE8, bitfields
    and sub-byte depths raise MediaDecodeError (documented scope cuts
    — countable decode_failed, the recognized-magic rule)."""
    if len(data) < 54 or data[:2] != BMP_MAGIC:
        raise MediaDecodeError("not a BMP")
    (px_off,) = struct.unpack_from("<I", data, 10)
    (hdr_size,) = struct.unpack_from("<I", data, 14)
    if hdr_size < 40:
        raise MediaDecodeError(f"unsupported DIB header size {hdr_size}")
    width, height = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    (compression,) = struct.unpack_from("<I", data, 30)
    top_down = height < 0
    height = abs(height)
    if planes != 1 or compression != 0:
        raise MediaDecodeError(
            f"unsupported BMP planes={planes} compression={compression}"
        )
    if bpp not in (8, 24, 32):
        raise MediaDecodeError(f"unsupported BMP bit depth {bpp}")
    # BI_RGB 32-bpp: the 4th byte is RESERVED, not alpha (alpha needs
    # BITFIELDS/V4+ headers) — real writers store 0 there, which an
    # alpha interpretation would render fully transparent (r6 review,
    # confirmed by execution). Decode as RGB, dropping the byte.
    if width <= 0 or height == 0 or width * height > MAX_PIXELS:
        raise MediaDecodeError("dimension bomb")
    stride = (width * bpp // 8 + 3) & ~3  # rows pad to 4 bytes
    if px_off + stride * height > len(data):
        raise MediaDecodeError("short BMP pixel data")
    palette = b""
    if bpp == 8:
        (n_colors,) = struct.unpack_from("<I", data, 46)
        n_colors = n_colors or 256
        pal_off = 14 + hdr_size
        if pal_off + 4 * n_colors > px_off:
            raise MediaDecodeError("palette overruns pixel data")
        palette = data[pal_off : pal_off + 4 * n_colors]
    out = bytearray(width * height * 3)
    for y in range(height):
        src = px_off + (y if top_down else height - 1 - y) * stride
        dst = y * width * 3
        if bpp == 8:
            for x in range(width):
                q = data[src + x] * 4
                if q + 3 > len(palette):
                    raise MediaDecodeError("palette index out of range")
                # palette quads are BGRx
                out[dst : dst + 3] = (
                    palette[q + 2], palette[q + 1], palette[q],
                )
                dst += 3
        else:
            step = bpp // 8
            for x in range(width):
                s = src + step * x
                out[dst] = data[s + 2]      # BGR(x) → RGB
                out[dst + 1] = data[s + 1]
                out[dst + 2] = data[s]
                dst += 3
    return width, height, 3, bytes(out)


# ── TIFF decode ──────────────────────────────────────────────────────────────

TIFF_MAGICS = (b"II*\x00", b"MM\x00*")

# field-type byte widths we accept (TIFF 6.0 §2): BYTE, SHORT, LONG
_TIFF_TYPE_SIZE = {1: 1, 3: 2, 4: 4}


def _packbits_decode(src: bytes, max_out: int) -> bytearray:
    """PackBits (TIFF 6.0 §9 / Apple RLE): n in 0..127 → copy n+1
    literal bytes, n in 129..255 → repeat next byte 257-n times,
    n == 128 → no-op. Truncated runs raise."""
    out = bytearray()
    i = 0
    n_src = len(src)
    while i < n_src:
        n = src[i]
        i += 1
        if n < 128:
            end = i + n + 1
            if end > n_src:
                raise MediaDecodeError("PackBits: truncated literal run")
            out += src[i:end]
            i = end
        elif n > 128:
            if i >= n_src:
                raise MediaDecodeError("PackBits: truncated repeat run")
            out += bytes([src[i]]) * (257 - n)
            i += 1
        if len(out) > max_out:
            raise MediaDecodeError("PackBits: output exceeds cap")
    return out


def decode_tiff(data: bytes) -> tuple[int, int, int, bytes]:
    """Baseline TIFF 6.0 bytes → (width, height, channels, pixels).

    Both byte orders (II/MM), first IFD (multi-page files decode their
    first image), strip organization,
    compression none(1)/LZW(5)/PackBits(32773) — the LZW is the same
    MSB-first early-change-1 code the PDF kernel implements
    (kernels/pdf.py _lzw_decode; TIFF 6.0 §13 and PDF LZWDecode share
    the algorithm) — 8 bits per sample, chunky planar config, gray
    (PhotometricInterpretation 1, or 0 inverted), RGB and RGBA.
    LZW strips under Predictor 2 (horizontal differencing, what libtiff
    pairs with LZW) integrate back per row. Anything else raises
    MediaDecodeError — tiles, planar=2, sub-byte bilevel/palette TIFFs
    and JPEG-in-TIFF are documented scope cuts that surface as the
    countable decode_failed status, the same rule as progressive JPEG
    (the TIFF magic is recognized, so the stub path is never reached;
    r6 review aligned these docs with the dispatch reality)."""
    if len(data) < 8 or data[:4] not in TIFF_MAGICS:
        raise MediaDecodeError("not a TIFF")
    fmt = "<" if data[:2] == b"II" else ">"
    (ifd_off,) = struct.unpack_from(fmt + "I", data, 4)
    if ifd_off + 2 > len(data):
        raise MediaDecodeError("IFD offset out of range")
    (n_entries,) = struct.unpack_from(fmt + "H", data, ifd_off)
    tags: dict[int, list[int]] = {}
    for k in range(n_entries):
        at = ifd_off + 2 + 12 * k
        if at + 12 > len(data):
            raise MediaDecodeError("truncated IFD")
        tag, ftype, count = struct.unpack_from(fmt + "HHI", data, at)
        size = _TIFF_TYPE_SIZE.get(ftype)
        if size is None or count > 1_000_000:
            continue  # RATIONAL metadata etc. — not layout-bearing
        total = size * count
        if total <= 4:
            voff = at + 8
        else:
            (voff,) = struct.unpack_from(fmt + "I", data, at + 8)
        if voff + total > len(data):
            raise MediaDecodeError(f"tag {tag} value out of range")
        code = {1: "B", 3: "H", 4: "I"}[ftype]
        tags[tag] = list(struct.unpack_from(fmt + code * count, data, voff))
    def one(tag, default=None):
        v = tags.get(tag)
        if not v:  # absent OR a crafted count=0 entry: both typed, not
            # an IndexError escaping the kernel's error contract (r6
            # review)
            if default is None:
                raise MediaDecodeError(f"missing required TIFF tag {tag}")
            return default
        return v[0]
    width, height = one(256), one(257)
    if not width or not height or width * height > MAX_PIXELS:
        raise MediaDecodeError("dimension bomb")
    spp = one(277, 1)
    if spp not in (1, 3, 4):
        raise MediaDecodeError(f"unsupported samples/pixel {spp}")
    bits = tags.get(258, [1])
    if set(bits) != {8}:
        raise MediaDecodeError(f"unsupported bits/sample {bits}")
    compression = one(259, 1)
    photometric = one(262)
    if (photometric in (0, 1)) != (spp == 1) or photometric > 2:
        raise MediaDecodeError(f"unsupported photometric {photometric}")
    if one(284, 1) != 1:
        raise MediaDecodeError("planar TIFF unsupported")
    predictor = one(317, 1)
    if predictor not in (1, 2):
        raise MediaDecodeError(f"unsupported predictor {predictor}")
    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise MediaDecodeError("missing/mismatched strip tables")
    rows_per_strip = min(one(278, height), height)
    if rows_per_strip < 1:
        raise MediaDecodeError("bad RowsPerStrip")
    out = bytearray()
    row_bytes = width * spp
    for si, (off, cnt) in enumerate(zip(offsets, counts)):
        if off + cnt > len(data):
            raise MediaDecodeError("strip out of range")
        rows_here = min(rows_per_strip, height - si * rows_per_strip)
        if rows_here <= 0:
            raise MediaDecodeError("more strips than image rows")
        expected = rows_here * row_bytes
        raw = data[off : off + cnt]
        if compression == 1:
            strip = raw
        elif compression == 5:
            from .pdf import _lzw_decode

            try:
                # cap the expansion at THIS strip's geometry (+ a row of
                # writer padding) — without it one crafted strip could
                # inflate to pdf.py's 256 MB stream cap, 16x the largest
                # legal whole image, per strip (r6 review)
                strip = _lzw_decode(raw, early=1, max_out=expected + row_bytes)
            except Exception as e:
                raise MediaDecodeError(f"bad LZW strip: {e}") from None
        elif compression == 32773:
            strip = _packbits_decode(raw, expected + row_bytes)
        else:
            raise MediaDecodeError(f"unsupported compression {compression}")
        if len(strip) < expected:
            raise MediaDecodeError("short strip data")
        strip = strip[:expected]  # writers may pad the final strip
        if predictor == 2:
            # horizontal differencing (TIFF 6.0 §14): per row, each
            # sample is the delta from the previous pixel's same channel
            strip = bytearray(strip)
            for r0 in range(0, expected, row_bytes):
                for x in range(spp, row_bytes):
                    strip[r0 + x] = (strip[r0 + x] + strip[r0 + x - spp]) & 0xFF
        out += strip
    if len(out) != height * row_bytes:
        raise MediaDecodeError("assembled strips mismatch geometry")
    if photometric == 0:  # WhiteIsZero: invert into the common scale
        out = bytes(out).translate(_INVERT_TABLE)
    return width, height, spp, bytes(out)


_INVERT_TABLE = bytes(255 - i for i in range(256))


# ── bilinear resize ──────────────────────────────────────────────────────────


def bilinear_resize(
    pixels: bytes, w: int, h: int, ch: int, tw: int, th: int
) -> bytes:
    """Fixed-point (16.16) bilinear sample — integer math end to end so
    the result is platform-deterministic (no float rounding drift
    between executor architectures)."""
    if tw <= 0 or th <= 0 or len(pixels) != w * h * ch:
        raise ValueError("bad resize geometry")
    out = bytearray(tw * th * ch)
    # edge-to-edge mapping: src = (dst + 0.5) * (size/target) - 0.5
    fx = (w << 16) // tw
    fy = (h << 16) // th
    for ty in range(th):
        sy = max(0, ((ty * 2 + 1) * fy - (1 << 16)) >> 1)
        y0 = min(sy >> 16, h - 1)
        y1 = min(y0 + 1, h - 1)
        wy = sy & 0xFFFF
        for tx in range(tw):
            sx = max(0, ((tx * 2 + 1) * fx - (1 << 16)) >> 1)
            x0 = min(sx >> 16, w - 1)
            x1 = min(x0 + 1, w - 1)
            wx = sx & 0xFFFF
            p00 = (y0 * w + x0) * ch
            p01 = (y0 * w + x1) * ch
            p10 = (y1 * w + x0) * ch
            p11 = (y1 * w + x1) * ch
            o = (ty * tw + tx) * ch
            for c in range(ch):
                top = pixels[p00 + c] * (0x10000 - wx) + pixels[p01 + c] * wx
                bot = pixels[p10 + c] * (0x10000 - wx) + pixels[p11 + c] * wx
                v = (top * (0x10000 - wy) + bot * wy + (1 << 31)) >> 32
                out[o + c] = min(255, v)
    return bytes(out)


# ── WAV decode ───────────────────────────────────────────────────────────────

# G.711 expansion tables (ITU-T G.711): 8-bit companded code → 16-bit
# linear. Built once at import; the formulas are the standard ones.


def _build_ulaw_table() -> tuple:
    out = []
    for code in range(256):
        b = ~code & 0xFF
        exp = (b >> 4) & 7
        mant = b & 0x0F
        x = (((mant << 3) + 0x84) << exp) - 0x84
        out.append(-x if b & 0x80 else x)
    return tuple(out)


def _build_alaw_table() -> tuple:
    out = []
    for code in range(256):
        b = code ^ 0x55
        exp = (b >> 4) & 7
        mant = b & 0x0F
        if exp == 0:
            x = (mant << 4) + 8
        else:
            x = ((mant << 4) + 0x108) << (exp - 1)
        # NB: in A-law the (xor-toggled) sign bit SET means POSITIVE —
        # the opposite convention from µ-law
        out.append(x if b & 0x80 else -x)
    return tuple(out)


_ULAW = _build_ulaw_table()
_ALAW = _build_alaw_table()


def decode_wav_ex(data: bytes) -> tuple[int, int, int, list[int]]:
    """WAV bytes → (sample_rate, n_channels, bits, samples interleaved)
    — `bits` is the DECODED sample width (G.711's 8-bit codes report 16
    because expansion lands them in the 16-bit linear domain).

    PCM 8-bit (rebased to signed), 16-bit LE, 24-bit LE (scaled into
    the 16-bit analysis domain with an arithmetic >>8 — the feature/
    resample contract is 16-bit full-range, and studio-depth LSBs
    carry no analysis signal), and G.711 µ-law/A-law (fmt tags 7/6 —
    telephony crawl audio; 8-bit codes expand through the ITU-T G.711
    tables, already 16-bit linear); other codecs raise
    MediaDecodeError. WAVE_FORMAT_EXTENSIBLE (0xFFFE — what real
    recorders wrap 24-bit and multichannel PCM in) is unwrapped when
    its SubFormat GUID names PCM. The header rate field is u32, but a
    rate of 0 or beyond int32 is rejected (no real recorder produces
    one; it would silently wrap the engine's int columns — r6 review
    #2)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise MediaDecodeError("not a WAV")
    pos = 12
    rate = nch = bits = fmt_tag = None
    frames = b""
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (length,) = struct.unpack_from("<I", data, pos + 4)
        body = data[pos + 8 : pos + 8 + length]
        pos += 8 + length + (length & 1)  # chunks are word-aligned
        if cid == b"fmt ":
            if len(body) < 16:
                raise MediaDecodeError("short fmt chunk")
            fmt_tag, nch, rate = struct.unpack_from("<HHI", body, 0)
            (bits,) = struct.unpack_from("<H", body, 14)
            if fmt_tag == 0xFFFE:
                # extensible: PCM iff the SubFormat GUID's leading
                # format tag is 1 (KSDATAFORMAT_SUBTYPE_PCM)
                if len(body) < 40 or body[24:26] != b"\x01\x00":
                    raise MediaDecodeError("non-PCM extensible format")
            elif fmt_tag in (6, 7):
                if bits != 8:
                    raise MediaDecodeError(f"G.711 with {bits}-bit codes")
            elif fmt_tag != 1:
                raise MediaDecodeError(f"non-PCM format {fmt_tag}")
        elif cid == b"data":
            frames = body
    if rate is None or not frames or not nch:
        raise MediaDecodeError("missing fmt/data")
    if not 0 < rate <= 0x7FFFFFFF:
        raise MediaDecodeError(f"implausible sample rate {rate}")
    if len(frames) > MAX_SAMPLES * {16: 2, 24: 3}.get(bits, 1):
        raise MediaDecodeError("data chunk exceeds sample cap")
    if fmt_tag in (6, 7):  # G.711: codes expand to 16-bit linear
        table = _ALAW if fmt_tag == 6 else _ULAW
        # bits reports the DECODED sample domain (16), not the 8-bit
        # code width: a caller that rescales 8-bit PCM by <<8 would
        # overflow the already-16-bit-linear G.711 samples into
        # encode_wav failures (r6)
        return rate, nch, 16, [table[b] for b in frames]
    if bits == 16:
        n = len(frames) // 2
        samples = list(struct.unpack(f"<{n}h", frames[: 2 * n]))
    elif bits == 8:
        samples = [b - 128 for b in frames]
    elif bits == 24:
        n = len(frames) // 3
        samples = []
        for k in range(0, 3 * n, 3):
            v = frames[k] | frames[k + 1] << 8 | frames[k + 2] << 16
            if v >= 1 << 23:
                v -= 1 << 24
            samples.append(v >> 8)  # arithmetic shift: floor toward -inf
    else:
        raise MediaDecodeError(f"unsupported bit depth {bits}")
    return rate, nch, bits, samples


def decode_wav(data: bytes) -> tuple[int, int, list[int]]:
    """WAV bytes → (sample_rate, n_channels, samples interleaved) —
    see decode_wav_ex (this keeps the original 3-tuple surface)."""
    rate, nch, _bits, samples = decode_wav_ex(data)
    return rate, nch, samples


def resample_linear(
    samples: list[int], nch: int, src_rate: int, dst_rate: int
) -> list[int]:
    """Fixed-point (16.16) linear-interpolation resample, per channel —
    integer math end to end (same determinism rationale as
    bilinear_resize; a float phase accumulator would drift between
    platforms). Interleaved in, interleaved out; output length is
    ceil(n_frames * dst/src) frames."""
    if src_rate <= 0 or dst_rate <= 0 or nch <= 0 or len(samples) % nch:
        raise ValueError("bad resample geometry")
    if src_rate == dst_rate or not samples:
        return list(samples)
    n_frames = len(samples) // nch
    out_frames = (n_frames * dst_rate + src_rate - 1) // src_rate
    # the input cap alone doesn't bound the OUTPUT: a crafted 1 Hz
    # header upsampled to 16 kHz multiplies frames 16000× (r6 review
    # #1, confirmed experimentally) — same bomb policy as decode
    if out_frames * nch > MAX_SAMPLES:
        raise MediaDecodeError("resample output exceeds sample cap")
    step = (src_rate << 16) // dst_rate
    out: list[int] = []
    for j in range(out_frames):
        pos = j * step
        i0 = min(pos >> 16, n_frames - 1)
        i1 = min(i0 + 1, n_frames - 1)
        frac = pos & 0xFFFF
        for c in range(nch):
            a = samples[i0 * nch + c]
            b = samples[i1 * nch + c]
            out.append(a + (((b - a) * frac) >> 16))
    return out


def encode_wav(rate: int, nch: int, samples: list[int]) -> bytes:
    frames = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, nch, rate, rate * nch * 2, nch * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(frames)) + frames
    return b"RIFF" + struct.pack("<I", len(body)) + body


# ── 16-dim features over decoded content ─────────────────────────────────────


def _r6(x: float) -> float:
    return round(x, 6)


# FLOAT32-RECOVERY CONTRACT: every feature is rounded to the
# 1e-6 lattice AND bounded to |x| <= 2, so after the Arrow float32 cast
# the absolute error (<= 2 * 2^-23 ≈ 2.4e-7) stays under half a lattice
# step and round(x * 1e6) recovers the exact integer. Logs are divided
# by 16 purely to honor the bound.


def image_features(w: int, h: int, ch: int, pixels: bytes) -> list[float]:
    """[log-w/16, log-h/16, ch/4, aspect/8, global mean/std, per-channel
    means (pad 0), 4-bucket histogram fractions, extremes] — integer
    accumulation, order-independent, rounded per the contract above."""
    import math

    n = w * h
    total = len(pixels)
    s = sum(pixels)
    s2 = sum(b * b for b in pixels)
    mean = s / total
    var = max(0.0, s2 / total - mean * mean)
    cmeans = [0.0] * 4
    for c in range(ch):
        cs = sum(pixels[c::ch])
        cmeans[c] = cs / n
    hist = [0] * 4
    for b in pixels:
        hist[b >> 6] += 1
    return [
        _r6(math.log1p(w) / 16), _r6(math.log1p(h) / 16), ch / 4,
        _r6(min(w / h, 16.0) / 8),
        _r6(mean / 255.0), _r6(math.sqrt(var) / 255.0),
        *[_r6(c / 255.0) for c in cmeans],
        *[_r6(v / total) for v in hist],
        _r6(min(pixels) / 255.0), _r6(max(pixels) / 255.0),
    ]


def audio_features(rate: int, nch: int, samples: list[int]) -> list[float]:
    """[log-rate/16, ch/4, log-length/16, mean, rms, min, max,
    zero-cross rate, 8-bucket coarse energy profile] (16-bit full-range
    scale; same float32-recovery contract as image_features)."""
    import math

    n = len(samples)
    if n == 0:
        return [_r6(math.log1p(rate) / 16), nch / 4] + [0.0] * (FEATURE_DIM - 2)
    s = sum(samples)
    s2 = sum(x * x for x in samples)
    zc = sum(
        1 for i in range(1, n) if (samples[i - 1] >= 0) != (samples[i] >= 0)
    )
    seg = [0.0] * 8
    k = (n + 7) // 8
    for j in range(8):
        part = samples[j * k : (j + 1) * k]
        if part:
            seg[j] = math.sqrt(sum(x * x for x in part) / len(part)) / 32768.0
    return [
        _r6(math.log1p(rate) / 16), nch / 4, _r6(math.log1p(n) / 16),
        _r6(s / n / 32768.0), _r6(math.sqrt(s2 / n) / 32768.0),
        _r6(min(samples) / 32768.0), _r6(max(samples) / 32768.0),
        _r6(zc / (n - 1)) if n > 1 else 0.0,
        *[_r6(v) for v in seg],
    ]
