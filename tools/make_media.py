"""Writer-side media fixture generators (round 6).

Independent ENCODER implementations for the decode kernels in
pdf_to_text_spark/kernels/media.py — same division of labor as
tools/make_pdf.py vs kernels/pdf.py: the writer is implemented from
the spec separately so the tests are not the parser checking itself.
The PNG writer deliberately cycles through ALL FIVE scanline filter
types (the engine's filter-0-only encoder would never exercise the
reader's Sub/Up/Average/Paeth paths).

Pixel and sample content are PURE FUNCTIONS of (index, geometry), so
tests and VALUES oracles can compute expected features from the
formula alone — without ever invoking the decoder under test.
"""

from __future__ import annotations

import struct
import zlib


def pixels_for(i: int, w: int, h: int, ch: int) -> bytes:
    """Deterministic pixel lattice — gradients + index-keyed phase, so
    every image differs and every channel has distinct stats."""
    out = bytearray(w * h * ch)
    p = 0
    for y in range(h):
        for x in range(w):
            for c in range(ch):
                out[p] = (x * 7 + y * 13 + c * 41 + i * 29) % 256
                p += 1
    return bytes(out)


def samples_for(i: int, n: int) -> list[int]:
    """Deterministic 16-bit sample train: a ramp × alternating envelope
    with an index-keyed offset (sign changes exercise zero-crossings)."""
    return [
        (((j * 997 + i * 6151) % 4001) - 2000) * (8 if j % 2 else -8)
        for j in range(n)
    ]


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body)) + ctype + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _paeth_predict(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


_ADAM7_W = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def make_png(
    w: int, h: int, ch: int, pixels: bytes, *, filter_cycle: bool = True,
    palette: bytes | None = None, interlace: bool = False, depth: int = 8,
) -> bytes:
    """Encode 8-bit pixels as a PNG whose scanlines cycle filter types
    0-4 (y % 5), forcing a reader to implement every unfilter branch.
    With `palette`, pixels are 1-channel indices and a PLTE is written
    (color type 3). With `interlace`, the seven Adam7 passes are each
    extracted and filtered as independent sub-images (W3C PNG §8.2).
    With `depth=16`, each 8-bit input sample becomes the HIGH byte of a
    16-bit big-endian sample whose low byte is deterministic junk — a
    reader reducing to the 8-bit analysis domain must recover `pixels`
    exactly and drop the junk. With `depth` 1/2/4 (gray or palette
    only), `pixels` holds one sample VALUE in 0..2^depth-1 per byte and
    scanlines pack MSB-first."""
    if palette is not None:
        if depth == 16:
            raise ValueError("16-bit palette PNGs do not exist (spec)")
        color_type, bpp = 3, 1
    else:
        color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
        bpp = ch
    if depth == 16:
        pixels = b"".join(
            bytes((v, (v * 31 + 7) & 0xFF)) for v in pixels
        )
        bpp *= 2
    elif depth in (1, 2, 4):
        if color_type not in (0, 3):
            raise ValueError(f"depth {depth} is gray/palette only (spec)")
        bad = [v for v in pixels if v >> depth]
        if bad:
            raise ValueError(f"depth-{depth} samples out of range: {bad[:3]}…")
    elif depth != 8:
        raise ValueError("depth must be 1, 2, 4, 8 or 16")
    if interlace:
        raw = bytearray()
        for x0, y0, xs, ys in _ADAM7_W:
            pw = (w - x0 + xs - 1) // xs
            ph = (h - y0 + ys - 1) // ys
            if pw <= 0 or ph <= 0:
                continue
            sub = bytearray()
            for ry in range(ph):
                row = (y0 + ry * ys) * w
                for rx in range(pw):
                    at = (row + x0 + rx * xs) * bpp
                    sub += pixels[at : at + bpp]
            if depth < 8:
                packed, stride = _pack_subbyte(bytes(sub), pw, ph, depth)
                raw += _filter_scanlines(packed, stride, ph, 1, filter_cycle)
            else:
                raw += _filter_scanlines(bytes(sub), pw, ph, bpp, filter_cycle)
    elif depth < 8:
        packed, stride = _pack_subbyte(pixels, w, h, depth)
        raw = _filter_scanlines(packed, stride, h, 1, filter_cycle)
    else:
        raw = _filter_scanlines(pixels, w, h, bpp, filter_cycle)
    ihdr = struct.pack(
        ">IIBBBBB", w, h, depth, color_type, 0, 0, 1 if interlace else 0
    )
    out = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
    if palette is not None:
        out += _png_chunk(b"PLTE", palette)
    return (
        out
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def _pack_subbyte(
    samples: bytes, w: int, h: int, depth: int
) -> tuple[bytes, int]:
    """One-sample-per-byte values → MSB-first packed scanlines; returns
    (packed bytes, byte stride per scanline)."""
    stride = (w * depth + 7) // 8
    per = 8 // depth
    out = bytearray(stride * h)
    for y in range(h):
        base = y * stride
        row = y * w
        for x in range(w):
            out[base + x // per] |= samples[row + x] << (
                8 - depth * (x % per + 1)
            )
    return bytes(out), stride


def _filter_scanlines(
    pixels: bytes, w: int, h: int, bpp: int, filter_cycle: bool
) -> bytearray:
    """Filter h scanlines of a (sub-)image — the prev-row context resets
    per call, exactly as each Adam7 pass requires."""
    stride = w * bpp
    raw = bytearray()
    prev = bytes(stride)
    for y in range(h):
        line = pixels[y * stride : (y + 1) * stride]
        f = (y % 5) if filter_cycle else 0
        raw.append(f)
        if f == 0:
            raw += line
        elif f == 1:
            raw += bytes(
                (line[x] - (line[x - bpp] if x >= bpp else 0)) & 0xFF
                for x in range(stride)
            )
        elif f == 2:
            raw += bytes((line[x] - prev[x]) & 0xFF for x in range(stride))
        elif f == 3:
            raw += bytes(
                (line[x] - (((line[x - bpp] if x >= bpp else 0) + prev[x]) >> 1))
                & 0xFF
                for x in range(stride)
            )
        else:
            raw += bytes(
                (
                    line[x]
                    - _paeth_predict(
                        line[x - bpp] if x >= bpp else 0,
                        prev[x],
                        prev[x - bpp] if x >= bpp else 0,
                    )
                )
                & 0xFF
                for x in range(stride)
            )
        prev = line
    return raw


def make_wav(
    rate: int, nch: int, samples: list[int], *, bits: int = 16,
    extensible: bool = False, g711: str | None = None,
) -> bytes:
    """`extensible=True` wraps the fmt in WAVE_FORMAT_EXTENSIBLE with
    the PCM SubFormat GUID — the framing real recorders emit for 24-bit
    and multichannel PCM. `g711='ulaw'|'alaw'` writes fmt tag 7/6 with
    `samples` taken as raw 8-bit companded CODES (0..255) — a reader
    must expand them through the ITU-T G.711 tables."""
    if g711 is not None:
        if extensible or bits != 8:
            raise ValueError("make_wav: G.711 is plain 8-bit framing")
        bad = [s for s in samples if not 0 <= s <= 255]
        if bad:
            raise ValueError(f"G.711 codes out of range: {bad[:3]}…")
        frames = bytes(samples)
        tag = {"ulaw": 7, "alaw": 6}[g711]
        fmt = struct.pack("<HHIIHH", tag, nch, rate, rate * nch, nch, 8)
        body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        body += b"data" + struct.pack("<I", len(frames)) + frames
        if len(frames) & 1:
            body += b"\x00"
        return b"RIFF" + struct.pack("<I", len(body)) + body
    if bits == 16:
        frames = struct.pack(f"<{len(samples)}h", *samples)
    elif bits == 8:
        # fail loudly like the 16-bit struct.pack path: silent &0xFF
        # wrapping would pin garbage expected data in a fixture (r6
        # review)
        bad = [s for s in samples if not -128 <= s <= 127]
        if bad:
            raise ValueError(f"8-bit samples out of range: {bad[:3]}…")
        frames = bytes(s + 128 for s in samples)
    elif bits == 24:
        bad = [s for s in samples if not -(1 << 23) <= s < (1 << 23)]
        if bad:
            raise ValueError(f"24-bit samples out of range: {bad[:3]}…")
        frames = b"".join(
            (s & 0xFFFFFF).to_bytes(3, "little") for s in samples
        )
    else:
        raise ValueError("bits must be 8, 16 or 24")
    block = nch * bits // 8
    tag = 0xFFFE if extensible else 1
    fmt = struct.pack("<HHIIHH", tag, nch, rate, rate * block, block, bits)
    if extensible:
        # cbSize=22, wValidBitsPerSample, dwChannelMask, PCM GUID
        # 00000001-0000-0010-8000-00aa00389b71
        guid = bytes.fromhex("0100000000001000800000aa00389b71")
        fmt += struct.pack("<HHI", 22, bits, 0) + guid
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(frames)) + frames
    if len(frames) & 1:
        body += b"\x00"  # RIFF word alignment
    return b"RIFF" + struct.pack("<I", len(body)) + body


def media_image(i: int) -> tuple[bytes, int, int]:
    """(image_bytes, w, h) for synthetic image row i.

    The format dispatch is an EXPLICIT j%12 partition of the rows that
    survive the synth-level stub/JPEG/GIF slices (r6 review: the free
    rows' moduli are fully entangled — 3 | 9 | 18 and gcd(30,10)=10 —
    so every modular slice key either starved a sibling class or froze
    its co-shapes; the partition assigns classes outright):
      j%12 in {4,8} → TIFF (media_tiff geometry — i=24/60 land on the
                      synth corrupt slice, so the gate holds both ok-
                      and corrupt-TIFF rows);
      j%12 == 6, even j//12 → BMP (media_bmp, 24 bpp);
      j%12 == 2, odd j//12  → BMP too (these land on the synth corrupt
                      slice at N=90 — i=42 — so the gate holds a
                      corrupt-BMP row; top-down/8-bpp/32-bpp BMPs stay
                      pytest-covered, documented);
      j%12 == 0     → depth-16 PNG (high-byte reduction);
      j%12 == 10    → palette PNG;
      else          → plain depth-8 PNG;
    PNG rows are Adam7-interlaced when i%10==4."""
    j = i // 3
    sel = j % 12
    if sel in (4, 8):
        return media_tiff(i)
    if (sel == 6 and (j // 12) % 2 == 0) or (sel == 2 and (j // 12) % 2 == 1):
        return media_bmp(i)
    w, h = 8 + i % 17, 6 + i % 11
    interlace = i % 10 == 4
    if sel == 10:  # palette slice
        palette = bytes((k * 5 + i) % 256 for k in range(48))
        idx = bytes(
            ((x * 3 + y * 5 + i) % 16) for y in range(h) for x in range(w)
        )
        return make_png(w, h, 1, idx, palette=palette,
                        interlace=interlace), w, h
    if sel == 0:
        # depth-16 rows key ch and interlace by j//12 (on this slice
        # i ≡ 0 mod 36, so i%4 is frozen to 0 — the i-keyed ch would
        # pin every 16-bit row to gray and Adam7+16-bit would never
        # appear in the gate, r6 review)
        k = j // 12
        ch = [1, 3, 4, 2][k % 4]
        return make_png(
            w, h, ch, pixels_for(i, w, h, ch),
            interlace=interlace or k % 3 == 2, depth=16,
        ), w, h
    ch = [1, 3, 4, 2][i % 4]
    return make_png(w, h, ch, pixels_for(i, w, h, ch),
                    interlace=interlace), w, h


def media_audio(i: int) -> tuple[bytes, int]:
    """(wav_bytes, rate) for synthetic audio row i. Rate is keyed by
    i//3, NOT i: the audio slice is i%3==1, under which i%3 is CONSTANT
    — the old [..][i%3] pinned every row to 16000, so the gate's
    audio_resample (target 16000) only ever exercised 'copy' mode (r6)."""
    j = i // 3
    rate = [8000, 16000, 44100][j % 3]
    n = 40 + (i * 13) % 160
    if j % 7 == 6:
        # G.711 telephony slice (r6): raw companded codes, formula-
        # driven so the independent test can expand them from the
        # ITU-T tables it re-states (disjoint from the 24-bit slice:
        # j≡6 mod 7 ∩ j≡4 mod 5 first meet at j=34, i=103)
        codes = [(j * 13 + k * 7) % 256 for k in range(n)]
        return make_wav(
            8000, 1, codes, bits=8, g711=["ulaw", "alaw"][j % 2]
        ), 8000
    samples = samples_for(i, n)
    if (i // 3) % 5 == 4:
        # 24-bit WAVE_FORMAT_EXTENSIBLE slice (r6): samples pre-scaled
        # x256 so the kernel's >>8 into the 16-bit analysis domain
        # recovers them exactly — same features, different container
        return make_wav(
            rate, 1, [s * 256 for s in samples], bits=24, extensible=True
        ), rate
    return make_wav(rate, 1, samples), rate


def corrupt_png(data: bytes) -> bytes:
    """Flip one byte inside the IDAT payload — magic and chunk walk stay
    intact, the inflate fails: the recognized-but-malformed class that
    must surface decode_status='decode_failed' (never 'stub')."""
    idat = data.find(b"IDAT")
    if idat < 0:
        # find()==-1 would flip signature byte 7 and silently invert the
        # fixture into the 'stub' class this helper promises never to
        # produce (r6 review)
        raise ValueError("corrupt_png: input has no IDAT chunk")
    at = idat + 8
    return data[:at] + bytes([data[at] ^ 0xFF]) + data[at + 1 :]


# ── JPEG writer (baseline sequential, ITU-T T.81) ────────────────────────────
# Independent of kernels/media.py's decoder, like the PNG writer
# above: pure-Python FDCT (math.cos), snake-walk zigzag, and FLAT
# canonical Huffman tables (every DC symbol 4 bits, every AC symbol
# 8 bits) — spec-valid DHT segments that sidestep hand-typing Annex
# K's 162-entry code-length lists while still exercising a generic
# table reader. Quant tables default to the public Annex K.1 pair;
# pass flat tables for near-lossless fixtures.

_JPEG_QL = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
_JPEG_QC = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]


def _jpeg_zz_snake() -> list[int]:
    out, r, c, up = [], 0, 0, True
    for _ in range(64):
        out.append(r * 8 + c)
        if up:
            if c == 7:
                r, up = r + 1, False
            elif r == 0:
                c, up = c + 1, False
            else:
                r, c = r - 1, c + 1
        else:
            if r == 7:
                c, up = c + 1, True
            elif c == 0:
                r, up = r + 1, True
            else:
                r, c = r + 1, c - 1
    return out


_ZZ = _jpeg_zz_snake()
# AC symbols in ascending order, all 8 bits: EOB, (run,size) pairs, ZRL
_AC_SYMS = sorted([0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 11)])
_AC_CODE = {sym: i for i, sym in enumerate(_AC_SYMS)}

import math as _math

_DCT = [
    [
        ((1 / _math.sqrt(2)) if k == 0 else 1.0) / 2.0
        * _math.cos((2 * n + 1) * k * _math.pi / 16)
        for n in range(8)
    ]
    for k in range(8)
]


class _JpegWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def bits(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
        self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            self.bits((1 << (8 - self.n)) - 1, 8 - self.n)  # pad with 1s


def _fdct_quant(block: list[float], q: list[int]) -> list[int]:
    tmp = [[block[r * 8 + c] - 128.0 for c in range(8)] for r in range(8)]
    rows = [
        [sum(_DCT[k][n] * tmp[r][n] for n in range(8)) for k in range(8)]
        for r in range(8)
    ]
    out = [0] * 64
    for k in range(8):
        for kk in range(8):
            f = sum(_DCT[k][n] * rows[n][kk] for n in range(8))
            out[k * 8 + kk] = round(f / q[k * 8 + kk])
    return out


def _encode_block(wtr: _JpegWriter, coefs: list[int], pred: int) -> int:
    dc = coefs[0]
    diff = dc - pred
    s = abs(diff).bit_length()
    wtr.bits(s, 4)  # flat DC table: code == category, 4 bits
    if s:
        wtr.bits(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    for z in range(1, 64):
        v = coefs[_ZZ[z]]
        if v == 0:
            run += 1
            continue
        while run > 15:
            wtr.bits(_AC_CODE[0xF0], 8)  # ZRL
            run -= 16
        s = abs(v).bit_length()
        if s > 10:
            raise ValueError("AC coefficient out of the 10-bit profile")
        wtr.bits(_AC_CODE[(run << 4) | s], 8)
        wtr.bits(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        wtr.bits(_AC_CODE[0x00], 8)  # EOB
    return dc


def _plane_blocks(plane: list[list[float]], y0: int, x0: int) -> list[float]:
    h = len(plane)
    w = len(plane[0])
    out = []
    for r in range(8):
        row = plane[min(y0 + r, h - 1)]
        for c in range(8):
            out.append(row[min(x0 + c, w - 1)])
    return out


def _dht(tc: int, th: int, lengths: list[int], syms: list[int]) -> bytes:
    bits = [0] * 16
    for ln in lengths:
        bits[ln - 1] += 1
    body = bytes([(tc << 4) | th]) + bytes(bits) + bytes(syms)
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body


def make_jpeg(
    width: int, height: int, channels: int, pixels: bytes, *,
    subsample: bool = False, restart: int = 0,
    quant: tuple[list[int], list[int]] | None = None,
) -> bytes:
    """Baseline JPEG: grayscale (channels=1) or YCbCr 4:4:4 /
    `subsample` 4:2:0 (channels=3), optional DRI restart interval."""
    if channels not in (1, 3):
        raise ValueError("channels must be 1 (gray) or 3 (RGB)")
    if len(pixels) != width * height * channels:
        raise ValueError("pixel buffer does not match geometry")
    ql, qc = quant if quant is not None else (_JPEG_QL, _JPEG_QC)
    if channels == 1:
        planes = [[
            [float(pixels[y * width + x]) for x in range(width)]
            for y in range(height)
        ]]
    else:
        ys, cbs, crs = [], [], []
        for y in range(height):
            yr, cbr, crr = [], [], []
            for x in range(width):
                p = (y * width + x) * 3
                r, g, b = pixels[p], pixels[p + 1], pixels[p + 2]
                yr.append(0.299 * r + 0.587 * g + 0.114 * b)
                cbr.append(-0.168736 * r - 0.331264 * g + 0.5 * b + 128.0)
                crr.append(0.5 * r - 0.418688 * g - 0.081312 * b + 128.0)
            ys.append(yr)
            cbs.append(cbr)
            crs.append(crr)
        if subsample:  # 4:2:0 — 2x2 box average, edge-replicated
            def half(p):
                hh = (len(p) + 1) // 2
                hw = (len(p[0]) + 1) // 2
                return [[
                    (p[min(2 * y, len(p) - 1)][min(2 * x, len(p[0]) - 1)]
                     + p[min(2 * y + 1, len(p) - 1)][min(2 * x, len(p[0]) - 1)]
                     + p[min(2 * y, len(p) - 1)][min(2 * x + 1, len(p[0]) - 1)]
                     + p[min(2 * y + 1, len(p) - 1)][min(2 * x + 1, len(p[0]) - 1)]
                     ) / 4.0
                    for x in range(hw)] for y in range(hh)]
            planes = [ys, half(cbs), half(crs)]
        else:
            planes = [ys, cbs, crs]

    out = bytearray(b"\xff\xd8")  # SOI
    # DQT(s), zigzag order
    qseg = bytes([0x00]) + bytes(ql[_ZZ[z]] for z in range(64))
    if channels == 3:
        qseg += bytes([0x01]) + bytes(qc[_ZZ[z]] for z in range(64))
    out += b"\xff\xdb" + struct.pack(">H", len(qseg) + 2) + qseg
    # SOF0
    hy, vy = (2, 2) if (channels == 3 and subsample) else (1, 1)
    comps = [(1, hy, vy, 0)] + ([(2, 1, 1, 1), (3, 1, 1, 1)] if channels == 3 else [])
    sof = bytes([8]) + struct.pack(">HH", height, width) + bytes([len(comps)])
    for cid, hh, vv, tq in comps:
        sof += bytes([cid, (hh << 4) | vv, tq])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    # DHT: flat tables (DC: 12 syms @4 bits; AC: 162 syms @8 bits)
    out += _dht(0, 0, [4] * 12, list(range(12)))
    out += _dht(1, 0, [8] * len(_AC_SYMS), _AC_SYMS)
    if channels == 3:
        out += _dht(0, 1, [4] * 12, list(range(12)))
        out += _dht(1, 1, [8] * len(_AC_SYMS), _AC_SYMS)
    if restart:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart)
    # SOS
    sos = bytes([len(comps)])
    for cid, _, _, tq in comps:
        sos += bytes([cid, (tq << 4) | tq])  # Td/Ta mirror the quant slot
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    wtr = _JpegWriter()
    pred = [0] * len(comps)
    qts = [ql] + ([qc, qc] if channels == 3 else [])
    mcu = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and mcu and mcu % restart == 0:
                wtr.flush()
                wtr.out += b"\xff" + bytes([0xD0 + (rst % 8)])
                rst += 1
                pred = [0] * len(comps)
            mcu += 1
            for ci, (cid, hh, vv, tq) in enumerate(comps):
                for v in range(vv):
                    for u in range(hh):
                        block = _plane_blocks(
                            planes[ci], (my * vv + v) * 8, (mx * hh + u) * 8
                        )
                        coefs = _fdct_quant(block, qts[ci])
                        _encode_block(wtr, coefs, pred[ci])
                        pred[ci] = coefs[0]
    wtr.flush()
    out += wtr.out + b"\xff\xd9"  # EOI
    return bytes(out)


def media_jpeg(i: int) -> tuple[bytes, int, int]:
    """(jpeg_bytes, w, h) for synthetic JPEG row i — varies gray/color,
    4:4:4 vs 4:2:0, and a restart-interval slice. Keyed by i//12: the
    corpus slice fixes every i-modulus ≤ 12. Residues
    chosen so the 60-row gate's two surviving ok rows land the HARD
    decoder paths: i=3 (j=0) is color 4:2:0 WITH a restart interval,
    i=15 (j=1) is grayscale; plain 4:4:4 color runs at other j residues
    in pytest (r6 review: j%3==2 parked the only 4:2:0 row on an index
    the stub slice shadows, so the gate never decoded subsampled
    chroma)."""
    w, h = 9 + i % 15, 7 + i % 10
    j = i // 12
    if j % 4 == 1:
        return make_jpeg(w, h, 1, pixels_for(i, w, h, 1)), w, h
    return (
        make_jpeg(
            w, h, 3, pixels_for(i, w, h, 3),
            subsample=j % 3 == 0, restart=2 if j % 5 == 0 else 0,
        ),
        w, h,
    )


def corrupt_jpeg(data: bytes) -> bytes:
    """Truncate the entropy-coded scan (no EOI) — headers stay intact,
    the bit reader runs dry mid-MCU: decode_status='decode_failed'
    deterministically (a single bit-flip can re-decode as different but
    VALID Huffman codes, which would silently flip the fixture's class)."""
    sos = data.find(b"\xff\xda")
    if sos < 0:
        raise ValueError("corrupt_jpeg: input has no SOS segment")
    seglen = struct.unpack_from(">H", data, sos + 2)[0]
    start = sos + 2 + seglen
    if start >= len(data) - 4:
        raise ValueError("corrupt_jpeg: no scan data to truncate")
    return data[: start + max(1, (len(data) - 2 - start) // 3)]


# ── TIFF writer (TIFF 6.0) ───────────────────────────────────────────────────
# Independent of kernels/media.py's decoder like the writers above: the
# IFD is assembled entry by entry (ascending tags, out-of-line values
# appended after the strip data) and PackBits is a greedy COMPRESSOR
# sharing no code shape with the kernel's expander. LZW strips reuse
# tools.make_pdf.lzw_encode (MSB-first, early change 1 — TIFF 6.0 §13
# and PDF LZWDecode share the algorithm).


def _packbits_encode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and data[i + run] == data[i] and run < 128:
            run += 1
        if run >= 2:
            out += bytes([(257 - run) & 0xFF, data[i]])
            i += run
            continue
        lit = i
        while lit < n and lit - i < 128:
            if lit + 2 < n and data[lit] == data[lit + 1] == data[lit + 2]:
                break
            lit += 1
        out += bytes([lit - i - 1]) + data[i:lit]
        i = lit
    return bytes(out)


def make_tiff(
    w: int, h: int, ch: int, pixels: bytes, *,
    compression: str = "none", byte_order: str = "II",
    rows_per_strip: int | None = None, white_is_zero: bool = False,
    predictor: int = 1,
) -> bytes:
    """Encode 8-bit chunky pixels as a strip-organized baseline TIFF.
    `white_is_zero` writes PhotometricInterpretation 0 with INVERTED
    sample bytes (gray only) — a reader must invert back to recover
    `pixels`. `predictor=2` applies horizontal differencing before
    compression (TIFF 6.0 §14, what libtiff pairs with LZW) — a reader
    must integrate back."""
    if ch not in (1, 3, 4) or len(pixels) != w * h * ch:
        raise ValueError("make_tiff: bad geometry")
    if white_is_zero and ch != 1:
        raise ValueError("make_tiff: white_is_zero is gray-only")
    if predictor not in (1, 2):
        raise ValueError("make_tiff: predictor must be 1 or 2")
    fmt = {"II": "<", "MM": ">"}[byte_order]
    comp_tag = {"none": 1, "lzw": 5, "packbits": 32773}[compression]
    if white_is_zero:
        pixels = bytes(255 - b for b in pixels)
    row_bytes = w * ch
    if predictor == 2:
        diff = bytearray(pixels)
        for r0 in range(0, len(diff), row_bytes):
            for x in range(row_bytes - 1, ch - 1, -1):
                diff[r0 + x] = (diff[r0 + x] - diff[r0 + x - ch]) & 0xFF
        pixels = bytes(diff)
    rps = rows_per_strip or h
    strips = []
    for y0 in range(0, h, rps):
        raw = pixels[y0 * row_bytes : min(y0 + rps, h) * row_bytes]
        if compression == "lzw":
            from tools.make_pdf import lzw_encode

            strips.append(lzw_encode(raw, early=1))
        elif compression == "packbits":
            strips.append(_packbits_encode(raw))
        else:
            strips.append(raw)
    magic = b"II*\x00" if byte_order == "II" else b"MM\x00*"
    body = bytearray()  # strip data + out-of-line values; starts at 8
    strip_offsets = []
    for s in strips:
        strip_offsets.append(8 + len(body))
        body += s
    if len(body) & 1:
        body += b"\x00"  # keep IFD word-aligned

    entries = []  # (tag, ftype, count, packed-or-deferred values)

    def add(tag, ftype, values):
        entries.append((tag, ftype, values))

    add(256, 3, [w])
    add(257, 3, [h])
    add(258, 3, [8] * ch)
    add(259, 3, [comp_tag])
    add(262, 3, [0 if white_is_zero else (1 if ch == 1 else 2)])
    add(273, 4, strip_offsets)
    add(277, 3, [ch])
    add(278, 3, [min(rps, h)])
    add(279, 4, [len(s) for s in strips])
    if predictor == 2:
        add(317, 3, [2])
    entries.sort()
    ifd_off = 8 + len(body)
    code = {3: "H", 4: "I"}
    size = {3: 2, 4: 4}
    # out-of-line values land after the IFD
    tail_off = ifd_off + 2 + 12 * len(entries) + 4
    tail = bytearray()
    ifd = bytearray(struct.pack(fmt + "H", len(entries)))
    for tag, ftype, values in entries:
        total = size[ftype] * len(values)
        packed = struct.pack(fmt + code[ftype] * len(values), *values)
        ent = struct.pack(fmt + "HHI", tag, ftype, len(values))
        if total <= 4:
            ent += packed + b"\x00" * (4 - total)
        else:
            ent += struct.pack(fmt + "I", tail_off + len(tail))
            tail += packed
        ifd += ent
    ifd += struct.pack(fmt + "I", 0)  # no next IFD
    return magic + struct.pack(fmt + "I", ifd_off) + bytes(body) + bytes(ifd) + bytes(tail)


def media_tiff(i: int) -> tuple[bytes, int, int]:
    """(tiff_bytes, w, h) for media_image's j%12∈{4,8} slice —
    compression, byte order, strip layout, channels and WhiteIsZero
    keyed by k=j//6 (on the slice j is determined mod 12, so any
    function of j alone is frozen; k cycles freely — the i-keyed-
    modulus lesson one level up, r6)."""
    j = i // 3
    k = j // 6
    w, h = 9 + j % 11, 7 + j % 7
    ch = [1, 3, 4, 1][k % 4]
    px = pixels_for(i, w, h, ch)
    comp = ["none", "packbits", "lzw"][k % 3]
    return (
        make_tiff(
            w, h, ch, px,
            compression=comp,
            byte_order="MM" if k % 3 == 2 else "II",
            rows_per_strip=[None, 3, 2][(k + 1) % 3],
            white_is_zero=(ch == 1 and k % 2 == 0),
            # libtiff pairs horizontal differencing with LZW — mirror it
            predictor=2 if comp == "lzw" else 1,
        ),
        w, h,
    )


def corrupt_image(data: bytes) -> bytes:
    """Dispatch the synth corrupt slice by magic — media_image's
    i%18==6 rows may now be PNG, TIFF or BMP (r6)."""
    if data.startswith(b"\x89PNG"):
        return corrupt_png(data)
    if data[:2] in (b"II", b"MM"):
        return corrupt_tiff(data)
    if data[:2] == b"BM":
        # truncate the pixel area: header stays intact, the decoder
        # hits 'short BMP pixel data'
        return data[: len(data) - max(4, len(data) // 6)]
    raise ValueError("corrupt_image: unrecognized format")


def corrupt_tiff(data: bytes) -> bytes:
    """Truncate the file tail. make_tiff places the IFD (and its
    out-of-line values) AFTER the strip data, so the truncation lands
    on the IFD/value area and the decoder hits the tag-bounds checks
    ('truncated IFD' / 'tag N value out of range') — the recognized-
    but-malformed class → decode_failed. (An earlier draft claimed this
    exercised the strip-bounds errors; it cannot with this layout —
    those are covered directly in test_tiff_failure_classes, r6
    review.)"""
    if data[:2] not in (b"II", b"MM"):
        raise ValueError("corrupt_tiff: not a TIFF")
    if len(data) < 16:
        raise ValueError("corrupt_tiff: too short")
    return data[: len(data) - max(4, len(data) // 8)]


# ── BMP writer ───────────────────────────────────────────────────────────────


def make_bmp(
    w: int, h: int, pixels: bytes, *, bpp: int = 24,
    palette: bytes | None = None, top_down: bool = False,
) -> bytes:
    """Encode pixels as an uncompressed BITMAPINFOHEADER BMP. bpp=24
    and bpp=32 take RGB triples (stored BGR / BGR0 — the 32-bpp fourth
    byte is RESERVED under BI_RGB and real writers zero it), bpp=8
    takes index bytes with `palette` as RGB triples (stored as BGRx
    quads). Bottom-up unless top_down."""
    if bpp in (24, 32):
        ch, pal_quads = 3, b""
    elif bpp == 8:
        if palette is None or len(palette) % 3:
            raise ValueError("make_bmp: 8 bpp needs an RGB palette")
        ch = 1
        pal_quads = b"".join(
            bytes((palette[3 * k + 2], palette[3 * k + 1], palette[3 * k], 0))
            for k in range(len(palette) // 3)
        )
    else:
        raise ValueError("make_bmp: bpp must be 8, 24 or 32")
    if len(pixels) != w * h * ch:
        raise ValueError("make_bmp: bad geometry")
    stride = (w * bpp // 8 + 3) & ~3
    rows = bytearray()
    order = range(h) if top_down else range(h - 1, -1, -1)
    for y in order:
        row = bytearray()
        for x in range(w):
            p = (y * w + x) * ch
            if bpp == 8:
                row.append(pixels[p])
            elif bpp == 24:
                row += bytes((pixels[p + 2], pixels[p + 1], pixels[p]))
            else:  # 32-bpp BI_RGB: BGR + zeroed reserved byte
                row += bytes((pixels[p + 2], pixels[p + 1], pixels[p], 0))
        rows += row + b"\x00" * (stride - len(row))
    px_off = 14 + 40 + len(pal_quads)
    n_colors = len(pal_quads) // 4
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, -h if top_down else h, 1, bpp, 0,
        stride * h, 2835, 2835, n_colors, 0,
    )
    hdr = b"BM" + struct.pack("<IHHI", px_off + stride * h, 0, 0, px_off)
    return hdr + dib + pal_quads + bytes(rows)


def media_bmp(i: int) -> tuple[bytes, int, int]:
    """(bmp_bytes, w, h) for media_image's BMP rows — 24 bpp from the
    shared pixel formula; orientation varies by k."""
    j = i // 3
    w, h = 8 + i % 17, 6 + i % 11
    return (
        make_bmp(w, h, pixels_for(i, w, h, 3), top_down=(j // 12) % 4 >= 2),
        w, h,
    )
