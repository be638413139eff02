"""kernels/media.py unit surface (round 6): codec round trips, bomb caps
and failure classes against the independent writers in tools/make_media.py."""

from __future__ import annotations

import struct
import zlib

import pytest

from pdf_to_text_spark.kernels.media import (
    MediaDecodeError,
    bilinear_resize,
    decode_png,
    decode_wav,
    encode_png,
    encode_wav,
)
from tools.make_media import make_png, make_wav, pixels_for


def test_png_rejects_unsupported_profiles():
    """r6: depth 16 and Adam7 now DECODE, so the rejection surface is
    spec-invalid profiles only — non-power depths, unknown color types,
    unknown interlace methods, and a reinterpreted-geometry stream
    whose IDAT is short for the header it claims."""
    px = pixels_for(1, 4, 4, 1)
    good = make_png(4, 4, 1, px)
    for byte_at, bad_val in (
        (24, 3),    # depth 3: not a spec depth
        (24, 32),   # depth 32: not a spec depth
        (25, 7),    # color type 7: undefined
        (28, 2),    # interlace 2: undefined
    ):
        forged = bytearray(good)
        forged[byte_at] = bad_val
        with pytest.raises(MediaDecodeError, match="unsupported profile"):
            decode_png(bytes(forged))
    # depth flipped to 16 on a depth-8-sized IDAT: the profile is now
    # ACCEPTED, so the failure must come from the short pixel data
    flipped = bytearray(good)
    flipped[24] = 16
    with pytest.raises(MediaDecodeError, match="short pixel data"):
        decode_png(bytes(flipped))
    for junk in (b"", b"\x89PNG\r\n\x1a\n", b"\x89PNG\r\n\x1a\nXXXX"):
        with pytest.raises(MediaDecodeError):
            decode_png(junk)


def test_png_dimension_bomb_capped():
    """A crafted IHDR claiming gigapixel dims must be rejected BEFORE
    allocating pixel buffers (same spirit as the PDF filter caps)."""
    px = pixels_for(0, 2, 2, 1)
    data = bytearray(make_png(2, 2, 1, px))
    struct.pack_into(">II", data, 16, 2_000_000, 2_000_000)  # w, h in IHDR
    with pytest.raises(MediaDecodeError):
        decode_png(bytes(data))


def test_png_short_pixel_data():
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)

    def chunk(t, b):
        return struct.pack(">I", len(b)) + t + b + struct.pack(
            ">I", zlib.crc32(t + b) & 0xFFFFFFFF
        )

    short = zlib.compress(b"\x00abc")  # one partial scanline for a 4x4
    data = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", short) + chunk(b"IEND", b"")
    )
    with pytest.raises(MediaDecodeError):
        decode_png(data)


def test_png_palette_out_of_range_index():
    palette = bytes(range(6))  # 2 entries only
    idx = bytes([0, 1, 2, 3])  # indices 2,3 exceed the palette
    data = make_png(2, 2, 1, idx, palette=palette)
    with pytest.raises(MediaDecodeError):
        decode_png(data)


def test_wav_8bit_and_alignment():
    samples = [-128, -1, 0, 1, 127]
    wav = make_wav(8000, 1, samples, bits=8)
    rate, nch, got = decode_wav(wav)
    assert (rate, nch) == (8000, 1) and got == samples
    # odd-length 16-bit data chunk exercises RIFF word alignment
    wav2 = make_wav(16000, 1, [5, -5, 100])
    assert decode_wav(wav2)[2] == [5, -5, 100]


def test_wav_rejects_non_pcm_and_junk():
    wav = bytearray(make_wav(8000, 1, [1, 2, 3]))
    at = wav.find(b"fmt ") + 8
    struct.pack_into("<H", wav, at, 3)  # IEEE-float format tag
    with pytest.raises(MediaDecodeError):
        decode_wav(bytes(wav))
    for junk in (b"", b"RIFF", b"RIFF\x00\x00\x00\x00WAVE"):
        with pytest.raises(MediaDecodeError):
            decode_wav(junk)


def test_encode_decode_inverse():
    px = pixels_for(7, 5, 3, 4)
    assert decode_png(encode_png(5, 3, 4, px)) == (5, 3, 4, px)
    s = [-32768, 32767, 0, 12345]
    assert decode_wav(encode_wav(44100, 1, s)) == (44100, 1, s)


def test_bilinear_downscale_constant_image_is_exact():
    """A constant image must stay exactly constant through the fixed-
    point resampler at ANY geometry (weights sum to 2^32)."""
    px = bytes([200] * (7 * 5 * 3))
    for tw, th in ((1, 1), (3, 2), (14, 10), (7, 5)):
        out = bilinear_resize(px, 7, 5, 3, tw, th)
        assert set(out) == {200}, (tw, th)


def test_bilinear_2x_upscale_midpoints():
    """1-D midpoint check: upscaling [0, 100] 2× samples at quarter
    positions — fixed-point result pinned by hand."""
    px = bytes([0, 100])
    out = bilinear_resize(px, 2, 1, 1, 4, 1)
    # src positions: -0.25(clamp 0), 0.25, 0.75, 1.25(clamp into edge)
    assert list(out) == [0, 25, 75, 100]


def test_png_inflate_bomb_capped():
    """r6 review #1 (confirmed experimentally pre-fix): an IDAT that
    inflates far past the declared geometry must be rejected WITHOUT
    materializing the inflated bytes — a 1x1 image whose IDAT holds
    200 MB of zeros decodes in O(declared size), raising."""
    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)

    def chunk(t, b):
        return struct.pack(">I", len(b)) + t + b + struct.pack(
            ">I", zlib.crc32(t + b) & 0xFFFFFFFF
        )

    bomb = zlib.compress(b"\x00" * 200_000_000, 9)  # ~190 KB compressed
    data = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", bomb) + chunk(b"IEND", b"")
    )
    assert len(data) < 300_000
    import time
    t0 = time.perf_counter()
    with pytest.raises(MediaDecodeError):
        decode_png(data)
    assert time.perf_counter() - t0 < 2.0  # never inflated the 200 MB


def test_png_pixel_count_cap():
    ihdr = struct.pack(">IIBBBBB", 3000, 3000, 8, 2, 0, 0, 0)

    def chunk(t, b):
        return struct.pack(">I", len(b)) + t + b + struct.pack(
            ">I", zlib.crc32(t + b) & 0xFFFFFFFF
        )

    data = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00")) + chunk(b"IEND", b"")
    )
    with pytest.raises(MediaDecodeError):  # 9 MP > MAX_PIXELS
        decode_png(data)


def test_wav_sample_cap():
    """r6 review #2: a forged data-chunk length must not materialize an
    unbounded Python int list (~28 bytes/sample amplification)."""
    frames = b"\x00\x00" * 4_100_000  # just past MAX_SAMPLES
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(frames)) + frames
    with pytest.raises(MediaDecodeError):
        decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)


# ── linear resample (round 6) ────────────────────────────────────────────────


def test_resample_linear_midpoints_and_length():
    from pdf_to_text_spark.kernels.media import resample_linear

    # 2× upsample interpolates exact midpoints; length = ceil(n*dst/src)
    assert resample_linear([0, 100], 1, 8000, 16000) == [0, 50, 100, 100]
    assert resample_linear([0, 10, 20, 30], 1, 16000, 8000) == [0, 20]
    assert resample_linear([5, -5, 7], 1, 44100, 44100) == [5, -5, 7]
    n = 99
    out = resample_linear(list(range(n)), 1, 44100, 16000)
    assert len(out) == (n * 16000 + 44099) // 44100


def test_resample_linear_stereo_keeps_channels_independent():
    from pdf_to_text_spark.kernels.media import resample_linear

    st = [0, 1000, 100, 900, 200, 800]
    out = resample_linear(st, 2, 8000, 16000)
    assert out[0::2] == [0, 50, 100, 150, 200, 200]      # left ramp up
    assert out[1::2] == [1000, 950, 900, 850, 800, 800]  # right ramp down


def test_resample_linear_rejects_bad_geometry():
    from pdf_to_text_spark.kernels.media import resample_linear

    for args in (([1, 2, 3], 2, 8000, 16000),   # frames not divisible
                 ([1], 1, 0, 16000), ([1], 1, 8000, 0), ([1], 0, 1, 1)):
        with pytest.raises(ValueError):
            resample_linear(*args)


def test_resample_output_bomb_capped():
    """r6 review #1: a 1 Hz header upsampled to 16 kHz multiplies frames
    16000x — the OUTPUT cap must refuse what the input cap can't see."""
    from pdf_to_text_spark.kernels.media import resample_linear

    with pytest.raises(MediaDecodeError):
        resample_linear([0] * 1000, 1, 1, 16000)


def test_wav_implausible_rate_rejected():
    """r6 review #2: the u32 header rate must not wrap the engine's
    int32 columns — beyond-int32 (and zero) rates are typed errors."""
    for rate in (0, 3_000_000_000):
        wav = make_wav(8000, 1, [1, 2, 3])
        at = wav.find(b"fmt ") + 8 + 4
        forged = wav[:at] + struct.pack("<I", rate) + wav[at + 4 :]
        with pytest.raises(MediaDecodeError):
            decode_wav(forged)


def test_make_wav_8bit_out_of_range_is_loud():
    """The 8-bit path must fail like 16-bit struct.pack does — silent
    &0xFF wrapping pinned garbage fixture data (r6 review)."""
    with pytest.raises(ValueError, match="out of range"):
        make_wav(8000, 1, [0, 4000], bits=8)


def test_corrupt_png_requires_idat():
    """No IDAT → find() returned -1 and the helper flipped signature
    byte 7, silently producing the 'stub' class it promises never to
    emit (r6 review)."""
    from tools.make_media import corrupt_png

    with pytest.raises(ValueError, match="IDAT"):
        corrupt_png(b"GIF89a not a png")


# ── JPEG (baseline, r6) ──────────────────────────────────────────────────────


def test_jpeg_gray_flat_quant_roundtrip():
    """Near-lossless flat-quant gray: every pixel within the
    quantization error bound of the source."""
    from pdf_to_text_spark.kernels.media import decode_jpeg
    from tools.make_media import make_jpeg, pixels_for

    w, h = 16, 12
    px = pixels_for(3, w, h, 1)
    dw, dh, ch, out = decode_jpeg(make_jpeg(w, h, 1, px, quant=([8] * 64, [8] * 64)))
    assert (dw, dh, ch) == (w, h, 1)
    assert max(abs(a - b) for a, b in zip(px, out)) <= 8


@pytest.mark.parametrize("subsample,restart",
                         [(False, 0), (True, 0), (False, 2), (True, 2)])
def test_jpeg_color_roundtrip(subsample, restart):
    """4:4:4 / 4:2:0 / restart-interval color: decoded pixels track the
    source within the lossy envelope (tight for 4:4:4 flat quant, mean
    bound for subsampled chroma)."""
    from pdf_to_text_spark.kernels.media import decode_jpeg
    from tools.make_media import make_jpeg, pixels_for

    w, h = 17, 13
    px = pixels_for(5, w, h, 3)
    data = make_jpeg(w, h, 3, px, quant=([4] * 64, [4] * 64),
                     subsample=subsample, restart=restart)
    dw, dh, ch, out = decode_jpeg(data)
    assert (dw, dh, ch) == (w, h, 3)
    if subsample:
        mean_err = sum(abs(a - b) for a, b in zip(px, out)) / len(px)
        assert mean_err < 20  # chroma detail genuinely lost at 4:2:0
    else:
        assert max(abs(a - b) for a, b in zip(px, out)) <= 8


def test_jpeg_annex_k_tables_decode():
    """The default Annex K.1 quant tables: realistic loss, recognizable
    content (mean error well under a gray-step)."""
    from pdf_to_text_spark.kernels.media import decode_jpeg
    from tools.make_media import make_jpeg, pixels_for

    w, h = 24, 16
    px = pixels_for(7, w, h, 3)
    dw, dh, ch, out = decode_jpeg(make_jpeg(w, h, 3, px))
    assert (dw, dh, ch) == (w, h, 3)
    assert sum(abs(a - b) for a, b in zip(px, out)) / len(px) < 24


def test_jpeg_failure_classes():
    """Truncated scan and non-baseline SOF raise MediaDecodeError (the
    countable decode_failed class); non-JPEG bytes are refused."""
    from pdf_to_text_spark.kernels.media import MediaDecodeError, decode_jpeg
    from tools.make_media import corrupt_jpeg, make_jpeg, pixels_for

    data = make_jpeg(10, 8, 1, pixels_for(1, 10, 8, 1))
    with pytest.raises(MediaDecodeError):
        decode_jpeg(corrupt_jpeg(data))
    progressive = data.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(MediaDecodeError, match="non-baseline"):
        decode_jpeg(progressive)
    with pytest.raises(MediaDecodeError, match="not a JPEG"):
        decode_jpeg(b"GIF89a")


def test_jpeg_dimension_bomb_capped():
    """A tiny file declaring enormous SOF dimensions must be refused
    before any allocation (same MAX_PIXELS contract as PNG/GIF)."""
    import struct as st

    from pdf_to_text_spark.kernels.media import MediaDecodeError, decode_jpeg
    from tools.make_media import make_jpeg, pixels_for

    data = bytearray(make_jpeg(10, 8, 1, pixels_for(1, 10, 8, 1)))
    sof = bytes(data).find(b"\xff\xc0")
    data[sof + 5 : sof + 9] = st.pack(">HH", 60000, 60000)
    with pytest.raises(MediaDecodeError, match="bomb"):
        decode_jpeg(bytes(data))


def test_jpeg_zigzag_tables_agree():
    """The kernel's generated zigzag and the writer's snake-walk zigzag
    are independent constructions of T.81 Figure 5 — they must agree."""
    from pdf_to_text_spark.kernels.media import _jpeg_zigzag
    from tools.make_media import _jpeg_zz_snake

    zz = _jpeg_zigzag()
    assert zz == _jpeg_zz_snake()
    assert sorted(zz) == list(range(64))
    assert zz[:8] == [0, 1, 8, 16, 9, 2, 3, 10]  # the spec's opening walk


def test_jpeg_app14_rgb_transform_and_fill_bytes():
    """Adobe APP14 transform=0 means the planes are RGB — applying the
    YCbCr matrix anyway mangled every pixel under status 'ok'; 0xFF
    fill padding before header markers is spec-legal (T.81 B.1.1.2)
    and used to become a garbage segment length (r6 review)."""
    from pdf_to_text_spark.kernels.media import decode_jpeg
    from tools.make_media import make_jpeg, pixels_for

    w, h = 16, 8
    px = pixels_for(9, w, h, 3)
    data = make_jpeg(w, h, 3, px, quant=([4] * 64, [4] * 64))
    # splice APP14 (transform 0) and a fill byte after SOI
    app14 = b"\xff\xee\x00\x0eAdobe\x00\x64\x00\x00\x00\x00\x00"
    data = data[:2] + b"\xff" + app14 + data[2:]
    dw, dh, ch, out = decode_jpeg(data)
    assert (dw, dh, ch) == (w, h, 3)
    # encoder wrote YCbCr; decoding those planes as RGB must NOT match
    # the source (proves the transform flag actually changed the path)
    ycc_as_rgb_err = max(abs(a - b) for a, b in zip(px, out))
    assert ycc_as_rgb_err > 30
    # and the no-APP14 decode still round-trips
    dw, dh, ch, out2 = decode_jpeg(make_jpeg(w, h, 3, px, quant=([4] * 64, [4] * 64)))
    assert max(abs(a - b) for a, b in zip(px, out2)) <= 8


def test_jpeg_zero_dqt_is_decode_failed():
    """An all-zero quant table would decode to flat gray with status
    'ok' — T.81 forbids zero entries; the stream is malformed."""
    from pdf_to_text_spark.kernels.media import MediaDecodeError, decode_jpeg
    from tools.make_media import make_jpeg, pixels_for

    data = bytearray(make_jpeg(10, 8, 1, pixels_for(1, 10, 8, 1)))
    dqt = bytes(data).find(b"\xff\xdb")
    data[dqt + 5] = 0  # first quant entry
    with pytest.raises(MediaDecodeError, match="zero DQT"):
        decode_jpeg(bytes(data))


def test_jpeg_gate_slice_exercises_subsampled_chroma():
    """The 60-row gate's surviving ok rows must cover the hard decoder
    paths: i=3 is 4:2:0 + restart interval, i=15 grayscale (r6 review:
    the old residues parked 4:2:0 on a stub-shadowed index)."""
    from pdf_to_text_spark.kernels.media import decode_jpeg
    from tools.make_media import media_jpeg

    p3, w3, h3 = media_jpeg(3)
    assert b"\xff\xdd" in p3  # DRI present
    assert decode_jpeg(p3)[2] == 3
    # SOF0 sampling byte for component 1 is 0x22 (2x2) → subsampled
    sof = p3.find(b"\xff\xc0")
    assert p3[sof + 11] == 0x22
    p15, _, _ = media_jpeg(15)
    assert decode_jpeg(p15)[2] == 1  # grayscale


def test_jpeg_fill_bytes_inside_entropy_and_before_restart():
    """0xFF fill padding is legal before ANY marker (T.81 B.1.1.2),
    including RSTn inside the entropy stream — pins the bit reader's
    fill-skip and restart()'s fill walk, which had no coverage beyond
    the header loop (r6 review)."""
    from pdf_to_text_spark.kernels.media import decode_jpeg
    from tools.make_media import make_jpeg, pixels_for

    w, h = 17, 13
    px = pixels_for(5, w, h, 3)
    data = make_jpeg(w, h, 3, px, quant=([4] * 64, [4] * 64), restart=1)
    # pad every restart marker with fill bytes: FF Dn → FF FF FF Dn
    for n in range(8):
        data = data.replace(bytes([0xFF, 0xD0 + n]), bytes([0xFF, 0xFF, 0xFF, 0xD0 + n]))
    dw, dh, ch, out = decode_jpeg(data)
    assert (dw, dh, ch) == (w, h, 3)
    assert max(abs(a - b) for a, b in zip(px, out)) <= 8


def test_jpeg_dht_flood_is_capped():
    """Repeated DHT segments are a header-stage CPU amplifier (each
    16-bit table costs a 65536-slot LUT build): the cap refuses the
    flood as malformed instead of burning ~2 ms per segment (r6
    review)."""
    import struct as st

    from pdf_to_text_spark.kernels.media import MediaDecodeError, decode_jpeg
    from tools.make_media import make_jpeg, pixels_for

    data = make_jpeg(10, 8, 1, pixels_for(1, 10, 8, 1))
    # one 1-bit code + one 16-bit code → maxlen 16
    bits = [1] + [0] * 14 + [1]
    dht = bytes([0x00]) + bytes(bits) + bytes([0, 1])
    seg = b"\xff\xc4" + st.pack(">H", len(dht) + 2) + dht
    flood = data[:2] + seg * 40 + data[2:]
    with pytest.raises(MediaDecodeError, match="too many DHT"):
        decode_jpeg(flood)



def test_wav_24bit_scales_into_16bit_domain():
    from pdf_to_text_spark.kernels.media import decode_wav_ex
    from tools.make_media import make_wav

    src = [0, -(1 << 23), (1 << 23) - 1, -256, 255, -1]
    rate, nch, bits, got = decode_wav_ex(make_wav(8000, 1, src, bits=24))
    assert (rate, nch, bits) == (8000, 1, 24)
    # arithmetic >>8: floor toward -inf (so -1 stays -1, -256 → -1)
    assert got == [s >> 8 for s in src]
    assert all(-32768 <= s <= 32767 for s in got)


def test_wav_extensible_pcm_unwraps_and_non_pcm_rejected():
    from pdf_to_text_spark.kernels.media import MediaDecodeError, decode_wav_ex
    from tools.make_media import make_wav

    src = [100, -100, 32000, -32000]
    data = make_wav(44100, 2, src, bits=16, extensible=True)
    assert decode_wav_ex(data)[3] == src
    ext24 = make_wav(48000, 1, [1 << 20, -(1 << 20)], bits=24, extensible=True)
    assert decode_wav_ex(ext24)[3] == [1 << 12, -(1 << 12)]
    # extensible with a non-PCM SubFormat GUID (IEEE float = 3) rejects
    bad = bytearray(data)
    at = bad.find(b"fmt ") + 8 + 24
    assert bad[at:at + 2] == b"\x01\x00"
    bad[at] = 3
    with pytest.raises(MediaDecodeError, match="non-PCM extensible"):
        decode_wav_ex(bytes(bad))
    # short extensible fmt body (no GUID) rejects rather than trusting it
    trunc = make_wav(8000, 1, [5], bits=16)
    trunc = trunc.replace(struct.pack("<HH", 1, 1), struct.pack("<HH", 0xFFFE, 1), 1)
    with pytest.raises(MediaDecodeError):
        decode_wav_ex(trunc)


def test_wav_24bit_sample_cap():
    from pdf_to_text_spark.kernels.media import (
        MAX_SAMPLES,
        MediaDecodeError,
        decode_wav_ex,
    )

    # a data chunk past 3*MAX_SAMPLES must be rejected before list-building
    hdr_fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000 * 3, 3, 24)
    n_bytes = 3 * MAX_SAMPLES + 3
    body = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(hdr_fmt)) + hdr_fmt
        + b"data" + struct.pack("<I", n_bytes) + b"\x00" * n_bytes
    )
    with pytest.raises(MediaDecodeError, match="sample cap"):
        decode_wav_ex(b"RIFF" + struct.pack("<I", len(body)) + body)


def test_png_adam7_roundtrip_edge_geometries():
    """Adam7 (r6): geometries where several of the seven passes are
    EMPTY (w or h below the pass origin) are the classic off-by-one
    spots — every (w,h,ch) here must reassemble the exact pixels."""
    from pdf_to_text_spark.kernels.media import decode_png
    from tools.make_media import make_png

    for w, h in [(1, 1), (2, 3), (7, 5), (8, 8), (9, 5), (1, 7), (5, 1)]:
        for ch in (1, 2, 3, 4):
            px = pixels_for(13, w, h, ch)
            assert decode_png(make_png(w, h, ch, px, interlace=True)) == (
                w, h, ch, px,
            )


def test_png_adam7_palette_and_truncation():
    from pdf_to_text_spark.kernels.media import MediaDecodeError, decode_png
    from tools.make_media import make_png

    pal = bytes((k * 7 + 3) % 256 for k in range(48))
    idx = bytes(((x * 3 + y * 5) % 16) for y in range(9) for x in range(7))
    data = make_png(7, 9, 1, idx, palette=pal, interlace=True)
    w, h, ch, px = decode_png(data)
    assert (w, h, ch) == (7, 9, 3)
    assert px == b"".join(pal[3 * i : 3 * i + 3] for i in idx)
    # short interlaced pixel data must fail typed, not scatter garbage
    import struct as _s
    import zlib as _z

    at = data.find(b"IDAT")
    (ln,) = _s.unpack_from(">I", data, at - 4)
    body = _z.decompress(data[at + 4 : at + 4 + ln])
    short = _z.compress(body[:-10])
    rebuilt = (
        data[: at - 4]
        + _s.pack(">I", len(short)) + b"IDAT" + short
        + _s.pack(">I", _z.crc32(b"IDAT" + short) & 0xFFFFFFFF)
        + data[at + 8 + ln :]
    )
    with pytest.raises(MediaDecodeError):
        decode_png(rebuilt)


def test_png_16bit_reduces_to_high_byte():
    """Depth-16 PNGs (r6) reduce to the 8-bit analysis domain via each
    big-endian sample's high byte — the writer plants deterministic
    junk low bytes that must never leak into the output; filters at
    depth 16 use the 2x-per-channel byte offset, pinned by the cycling
    filter types."""
    from pdf_to_text_spark.kernels.media import MediaDecodeError, decode_png
    from tools.make_media import make_png

    for w, h in [(1, 1), (7, 5), (9, 5), (16, 11)]:
        for ch in (1, 2, 3, 4):
            px = pixels_for(21, w, h, ch)
            assert decode_png(make_png(w, h, ch, px, depth=16)) == (
                w, h, ch, px,
            )
            assert decode_png(
                make_png(w, h, ch, px, depth=16, interlace=True)
            ) == (w, h, ch, px)
    # depth-16 palette color type is spec-invalid: loud on both sides
    with pytest.raises(ValueError):
        make_png(4, 4, 1, bytes(16), palette=bytes(48), depth=16)
    ihdr = struct.pack(">IIBBBBB", 4, 4, 16, 3, 0, 0, 0)
    forged = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR" + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
        + struct.pack(">I", 1) + b"IDAT" + b"x"
        + struct.pack(">I", zlib.crc32(b"IDATx") & 0xFFFFFFFF)
    )
    with pytest.raises(MediaDecodeError):
        decode_png(forged)
    # short 16-bit pixel data fails typed (stride is 2x the 8-bit one)
    import zlib as _z

    good = make_png(6, 4, 3, pixels_for(2, 6, 4, 3), depth=16,
                    filter_cycle=False)
    at = good.find(b"IDAT")
    (ln,) = struct.unpack_from(">I", good, at - 4)
    body = _z.decompress(good[at + 4 : at + 4 + ln])
    short = _z.compress(body[: len(body) // 2])
    rebuilt = (
        good[: at - 4]
        + struct.pack(">I", len(short)) + b"IDAT" + short
        + struct.pack(">I", _z.crc32(b"IDAT" + short) & 0xFFFFFFFF)
        + good[at + 8 + ln :]
    )
    with pytest.raises(MediaDecodeError):
        decode_png(rebuilt)


def test_png_subbyte_gray_and_palette():
    """Depths 1/2/4 (r6): MSB-first unpack, grayscale scaled by
    255/(2^d-1) per the spec's sample expansion, palette indices
    unscaled through PLTE — plain and Adam7 (per-pass byte strides
    differ, the classic packing off-by-one spot)."""
    from pdf_to_text_spark.kernels.media import MediaDecodeError, decode_png
    from tools.make_media import make_png

    for d in (1, 2, 4):
        mask = (1 << d) - 1
        for w, h in [(1, 1), (7, 5), (9, 3), (16, 11)]:
            vals = bytes(
                (x * 3 + y * 7 + d) % (mask + 1)
                for y in range(h) for x in range(w)
            )
            exp = bytes(v * (255 // mask) for v in vals)
            for il in (False, True):
                assert decode_png(
                    make_png(w, h, 1, vals, depth=d, interlace=il)
                ) == (w, h, 1, exp), (d, w, h, il)
    pal = bytes((k * 9 + 2) % 256 for k in range(48))
    vals = bytes((x + y) % 4 for y in range(7) for x in range(9))
    exp = b"".join(pal[3 * v : 3 * v + 3] for v in vals)
    assert decode_png(
        make_png(9, 7, 1, vals, palette=pal, depth=2, interlace=True)
    ) == (9, 7, 3, exp)
    # sub-byte RGB is spec-invalid: loud on both sides
    with pytest.raises(ValueError):
        make_png(4, 4, 3, bytes(48), depth=4)
    ihdr = struct.pack(">IIBBBBB", 4, 4, 4, 2, 0, 0, 0)
    forged = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR" + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
        + struct.pack(">I", 1) + b"IDAT" + b"x"
        + struct.pack(">I", zlib.crc32(b"IDATx") & 0xFFFFFFFF)
    )
    with pytest.raises(MediaDecodeError):
        decode_png(forged)
    # out-of-range writer samples are loud, not silently masked
    with pytest.raises(ValueError, match="out of range"):
        make_png(4, 4, 1, bytes([9] * 16), depth=2)


# ── TIFF (r6) ────────────────────────────────────────────────────────────────


def test_tiff_roundtrip_matrix():
    from pdf_to_text_spark.kernels.media import decode_tiff
    from tools.make_media import make_tiff

    for ch in (1, 3, 4):
        for comp in ("none", "packbits", "lzw"):
            for bo in ("II", "MM"):
                for rps in (None, 2, 3):
                    px = pixels_for(5, 9, 7, ch)
                    data = make_tiff(
                        9, 7, ch, px, compression=comp, byte_order=bo,
                        rows_per_strip=rps,
                    )
                    assert decode_tiff(data) == (9, 7, ch, px), (
                        ch, comp, bo, rps,
                    )


def test_tiff_white_is_zero_inverts():
    from pdf_to_text_spark.kernels.media import decode_tiff
    from tools.make_media import make_tiff

    px = pixels_for(8, 6, 5, 1)
    data = make_tiff(6, 5, 1, px, white_is_zero=True, compression="packbits")
    assert decode_tiff(data) == (6, 5, 1, px)


def test_tiff_failure_classes():
    from pdf_to_text_spark.kernels.media import MediaDecodeError, decode_tiff
    from tools.make_media import corrupt_tiff, make_tiff

    good = make_tiff(8, 6, 3, pixels_for(3, 8, 6, 3), rows_per_strip=2)
    with pytest.raises(MediaDecodeError):
        decode_tiff(corrupt_tiff(good))  # truncated strip data
    with pytest.raises(MediaDecodeError, match="not a TIFF"):
        decode_tiff(b"II+\x00" + good[4:])
    # dimension bomb via a forged width tag (II: tag 256 SHORT)
    import struct as _s

    at = good.find(_s.pack("<HH", 256, 3))
    forged = bytearray(good)
    _s.pack_into("<I", forged, at + 8, 1_000_000)
    with pytest.raises(MediaDecodeError):
        decode_tiff(bytes(forged))
    # unsupported compression id
    at = good.find(_s.pack("<HH", 259, 3))
    forged = bytearray(good)
    _s.pack_into("<H", forged, at + 8, 7)  # JPEG-in-TIFF
    with pytest.raises(MediaDecodeError, match="compression"):
        decode_tiff(bytes(forged))
    # photometric/spp mismatch: gray photometric claimed on RGB samples
    at = good.find(_s.pack("<HH", 262, 3))
    forged = bytearray(good)
    _s.pack_into("<H", forged, at + 8, 1)
    with pytest.raises(MediaDecodeError, match="photometric"):
        decode_tiff(bytes(forged))


def test_packbits_decode_edges():
    from pdf_to_text_spark.kernels.media import (
        MediaDecodeError,
        _packbits_decode,
    )
    from tools.make_media import _packbits_encode

    for payload in [b"", b"a", b"a" * 300, b"abc" * 50,
                    bytes(range(256)) * 2, b"ab" + b"c" * 129 + b"de"]:
        enc = _packbits_encode(payload)
        assert bytes(_packbits_decode(enc, 10_000)) == payload
    # 128 is a no-op, not a crash
    assert _packbits_decode(b"\x80\x00a", 10) == bytearray(b"a")
    with pytest.raises(MediaDecodeError, match="truncated literal"):
        _packbits_decode(b"\x05ab", 10)
    with pytest.raises(MediaDecodeError, match="truncated repeat"):
        _packbits_decode(b"\xfe", 10)
    with pytest.raises(MediaDecodeError, match="cap"):
        _packbits_decode(b"\x81a" * 100, 50)


def test_tiff_predictor2_horizontal_differencing():
    """r6 review: LZW TIFFs with Predictor=2 (the libtiff pairing) used
    to decode the raw differenced bytes as pixels with status 'ok' —
    the only silent-wrong-output path in the codec set."""
    from pdf_to_text_spark.kernels.media import MediaDecodeError, decode_tiff
    from tools.make_media import make_tiff

    for ch in (1, 3, 4):
        for comp in ("none", "lzw", "packbits"):
            px = pixels_for(11, 8, 6, ch)
            data = make_tiff(8, 6, ch, px, compression=comp, predictor=2,
                             rows_per_strip=2)
            assert decode_tiff(data) == (8, 6, ch, px), (ch, comp)
    # any OTHER predictor id is typed, never silently ignored
    import struct as _s

    good = make_tiff(4, 4, 1, pixels_for(0, 4, 4, 1), predictor=2)
    at = good.find(_s.pack("<HH", 317, 3))
    forged = bytearray(good)
    _s.pack_into("<H", forged, at + 8, 3)  # floating-point predictor
    with pytest.raises(MediaDecodeError, match="predictor"):
        decode_tiff(bytes(forged))


def test_tiff_zero_count_tag_is_typed():
    """r6 review: a crafted count=0 entry for a required tag escaped as
    an untyped IndexError."""
    import struct as _s

    from pdf_to_text_spark.kernels.media import MediaDecodeError, decode_tiff
    from tools.make_media import make_tiff

    good = make_tiff(4, 4, 1, pixels_for(0, 4, 4, 1))
    at = good.find(_s.pack("<HH", 256, 3))  # ImageWidth entry
    forged = bytearray(good)
    _s.pack_into("<I", forged, at + 4, 0)  # count = 0
    with pytest.raises(MediaDecodeError):
        decode_tiff(bytes(forged))


def test_tiff_lzw_strip_bomb_capped():
    """r6 review: a strip whose LZW stream inflates far past its
    declared geometry must stop at the strip cap, not pdf.py's 256 MB
    stream cap."""
    import struct as _s
    import time

    from pdf_to_text_spark.kernels.media import MediaDecodeError, decode_tiff
    from tools.make_media import make_tiff
    from tools.make_pdf import lzw_encode

    bomb = lzw_encode(b"\x00" * 50_000_000, early=1)  # ~60 KB encoded
    tiny = make_tiff(4, 2, 1, bytes(8), compression="lzw")
    # splice the bomb in as the single strip's data
    at = tiny.find(_s.pack("<HH", 279, 4))
    # rebuild: easier to handcraft — reuse the writer then patch counts
    # is brittle; instead append the bomb and point the tables at it
    forged = bytearray(tiny + bomb)
    _s.pack_into("<I", forged, at + 8, len(bomb))       # StripByteCounts
    at_off = tiny.find(_s.pack("<HH", 273, 4))
    _s.pack_into("<I", forged, at_off + 8, len(tiny))   # StripOffsets
    t0 = time.perf_counter()
    with pytest.raises(MediaDecodeError):
        decode_tiff(bytes(forged))
    assert time.perf_counter() - t0 < 2.0  # never inflated the 50 MB


def test_wav_g711_ulaw_alaw():
    """G.711 (r6): fmt tags 7/6 expand 8-bit companded codes to 16-bit
    linear through the ITU tables; known anchors pinned (µ-law 0xFF→0,
    A-law 0x55→-8 / 0xD5→+8 — the A-law sign convention is the
    OPPOSITE of µ-law's and a flipped table negates every sample)."""
    from pdf_to_text_spark.kernels.media import (
        _ALAW,
        _ULAW,
        MediaDecodeError,
        decode_wav,
    )
    from tools.make_media import make_wav

    assert _ULAW[0xFF] == 0 and _ALAW[0x55] == -8 and _ALAW[0xD5] == 8
    codes = list(range(0, 256, 7))
    for law, table in (("ulaw", _ULAW), ("alaw", _ALAW)):
        rate, nch, got = decode_wav(
            make_wav(8000, 1, codes, bits=8, g711=law)
        )
        assert (rate, nch) == (8000, 1)
        assert got == [table[c] for c in codes]
        assert all(-32768 <= s <= 32767 for s in got)
    # G.711 claiming 16-bit codes is malformed, typed
    bad = bytearray(make_wav(8000, 1, codes, bits=8, g711="ulaw"))
    at = bad.find(b"fmt ") + 8 + 14
    struct.pack_into("<H", bad, at, 16)
    with pytest.raises(MediaDecodeError, match="G.711"):
        decode_wav(bytes(bad))
    with pytest.raises(ValueError, match="out of range"):
        make_wav(8000, 1, [300], bits=8, g711="ulaw")


# ── BMP (r6) ─────────────────────────────────────────────────────────────────


def test_bmp_roundtrip_all_depths_and_orientations():
    from pdf_to_text_spark.kernels.media import decode_bmp
    from tools.make_media import make_bmp

    for w, h in [(1, 1), (5, 3), (8, 6), (7, 5)]:
        px3 = pixels_for(4, w, h, 3)
        for td in (False, True):  # bottom-up AND top-down row orders
            assert decode_bmp(make_bmp(w, h, px3, top_down=td)) == (
                w, h, 3, px3,
            )
        # 32-bpp BI_RGB: the 4th byte is RESERVED (zeroed by the
        # writer) and the decoder returns RGB — treating it as alpha
        # rendered every real 32-bpp BMP fully transparent (r6 review)
        assert decode_bmp(make_bmp(w, h, px3, bpp=32)) == (w, h, 3, px3)
        pal = bytes((k * 7 + 3) % 256 for k in range(48))
        idx = bytes(((x + y) % 16) for y in range(h) for x in range(w))
        exp = b"".join(pal[3 * v : 3 * v + 3] for v in idx)
        assert decode_bmp(make_bmp(w, h, idx, bpp=8, palette=pal)) == (
            w, h, 3, exp,
        )


def test_bmp_failure_classes():
    from pdf_to_text_spark.kernels.media import MediaDecodeError, decode_bmp
    from tools.make_media import make_bmp

    good = make_bmp(4, 4, pixels_for(0, 4, 4, 3))
    cases = [
        good[:-5],                       # short pixel data
        b"BX" + good[2:],                # wrong magic
        good[:30] + b"\x01" + good[31:],  # RLE compression
    ]
    for bad in cases:
        with pytest.raises(MediaDecodeError):
            decode_bmp(bad)
    # 16-bpp bitfields are a scope cut, typed
    forged = bytearray(good)
    struct.pack_into("<H", forged, 28, 16)
    with pytest.raises(MediaDecodeError, match="bit depth"):
        decode_bmp(bytes(forged))
    # dimension bomb via forged width/height
    forged = bytearray(good)
    struct.pack_into("<ii", forged, 18, 1_000_000, 1_000_000)
    with pytest.raises(MediaDecodeError, match="dimension bomb"):
        decode_bmp(bytes(forged))
