"""Adversarial fuzzing of the round-6 media codecs.

`decode_png` / `decode_wav` run inside executor Pandas UDFs over
arbitrary binary columns, so their contract mirrors the PDF kernel's:
any input either decodes or raises the typed `MediaDecodeError` fast —
never a foreign exception, never a hang, never a memory bomb (the
directed cap tests pin the bomb sizes; fuzzing pins the exception
surface and termination on arbitrary shapes).
"""

from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_to_text_spark.kernels.media import (
    PNG_MAGIC,
    MediaDecodeError,
    decode_png,
    decode_wav,
    encode_png,
)
from tools.make_media import media_audio, media_image


def _try_png(data: bytes):
    try:
        w, h, ch, pixels = decode_png(data)
        assert w > 0 and h > 0 and ch in (1, 2, 3, 4) and len(pixels) == w * h * ch
    except MediaDecodeError:
        pass


def _try_wav(data: bytes):
    try:
        rate, nch, samples = decode_wav(data)
        assert rate > 0 and nch > 0
        assert all(-32768 <= s <= 32767 for s in samples[:64])
    except MediaDecodeError:
        pass


@settings(max_examples=200, deadline=2000)
@given(st.binary(min_size=1, max_size=256), st.floats(0, 1), st.booleans())
def test_mutated_png_fails_typed(junk, where, overwrite):
    good, _w, _h = media_image(7)
    cut = int(where * len(good))
    if overwrite:
        data = good[:cut] + junk + good[cut + len(junk):]
    else:
        data = good[:cut] + junk + good[cut:]
    _try_png(data)


@settings(max_examples=200, deadline=2000)
@given(st.binary(min_size=1, max_size=256), st.floats(0, 1), st.booleans())
def test_mutated_wav_fails_typed(junk, where, overwrite):
    good, _rate = media_audio(11)
    cut = int(where * len(good))
    if overwrite:
        data = good[:cut] + junk + good[cut + len(junk):]
    else:
        data = good[:cut] + junk + good[cut:]
    _try_wav(data)


@settings(max_examples=200, deadline=2000)
@given(st.binary(max_size=2048))
def test_random_bytes_behind_magics_fail_typed(data):
    _try_png(PNG_MAGIC + data)
    _try_wav(b"RIFF" + data[:4].ljust(4, b"\x00") + b"WAVE" + data)


@settings(max_examples=60, deadline=2000)
@given(
    st.integers(1, 8), st.integers(1, 8), st.sampled_from([1, 2, 3, 4]),
    st.binary(min_size=1, max_size=256),
)
def test_encode_decode_roundtrip_any_pixels(w, h, ch, pix):
    pix = (pix * (w * h * ch // len(pix) + 1))[: w * h * ch]
    assert decode_png(encode_png(w, h, ch, pix)) == (w, h, ch, pix)


@settings(max_examples=150, deadline=5000)
@given(st.binary(min_size=1, max_size=256), st.floats(0, 1), st.booleans())
def test_mutated_jpeg_fails_typed(junk, where, overwrite):
    """Junk spliced/overwritten anywhere in a valid baseline JPEG either
    still decodes or raises MediaDecodeError — never any other
    exception type (the per-row decode_failed contract)."""
    from pdf_to_text_spark.kernels.media import MediaDecodeError, decode_jpeg
    from tools.make_media import make_jpeg, pixels_for

    base = make_jpeg(12, 10, 3, pixels_for(4, 12, 10, 3), subsample=True)
    at = int(where * len(base))
    data = (
        base[:at] + junk + base[at + (len(junk) if overwrite else 0):]
    )
    try:
        w, h, ch, px = decode_jpeg(data)
        assert len(px) == w * h * ch
    except MediaDecodeError:
        pass


def _try_tiff(data: bytes):
    from pdf_to_text_spark.kernels.media import decode_tiff

    try:
        w, h, ch, pixels = decode_tiff(data)
        assert w > 0 and h > 0 and ch in (1, 3, 4)
        assert len(pixels) == w * h * ch
    except MediaDecodeError:
        pass


@settings(max_examples=200, deadline=2000)
@given(st.binary(min_size=1, max_size=256), st.floats(0, 1), st.booleans())
def test_mutated_tiff_fails_typed(junk, where, overwrite):
    from tools.make_media import media_tiff

    good = media_tiff(48)[0]
    cut = int(where * len(good))
    if overwrite:
        data = good[:cut] + junk + good[cut + len(junk):]
    else:
        data = good[:cut] + junk + good[cut:]
    _try_tiff(data)


@settings(max_examples=150, deadline=2000)
@given(st.binary(min_size=0, max_size=200), st.booleans())
def test_arbitrary_bytes_after_tiff_magic_fail_typed(tail, big_endian):
    _try_tiff((b"MM\x00*" if big_endian else b"II*\x00") + tail)


def _try_bmp(data: bytes):
    from pdf_to_text_spark.kernels.media import decode_bmp

    try:
        w, h, ch, pixels = decode_bmp(data)
        assert w > 0 and h > 0 and ch in (3, 4)
        assert len(pixels) == w * h * ch
    except MediaDecodeError:
        pass


@settings(max_examples=200, deadline=2000)
@given(st.binary(min_size=1, max_size=256), st.floats(0, 1), st.booleans())
def test_mutated_bmp_fails_typed(junk, where, overwrite):
    from tools.make_media import media_bmp

    good = media_bmp(18)[0]
    cut = int(where * len(good))
    if overwrite:
        data = good[:cut] + junk + good[cut + len(junk):]
    else:
        data = good[:cut] + junk + good[cut:]
    _try_bmp(data)


