"""Stream filters and predictors of the PDF kernel (PDF 32000-1 §7.4),
one decoder at a time: spec vectors, the stdlib or the fixture writer as
the encoder, and every malformed input mapped to PDFParseError — never
to an untyped exception, which would skip the kernel's per-object
recovery (xref reconstruction, font-program fallback)."""

import base64
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_to_text_spark.kernels import pdf as _pdf
from pdf_to_text_spark.kernels.pdf import (
    PDFDocument,
    PDFParseError,
    _apply_predictor,
    _ascii85_decode,
    _ascii85_decode_strict,
    _ascii_hex_decode,
    _flate_decode,
    _lzw_decode,
    _runlength_decode,
    _Stream,
)
from tools.make_pdf import (
    ascii85_encode,
    asciihex_encode,
    build_pdf,
    content_stream_for_lines,
    png_predict_up,
    runlength_encode,
)

_WS = b"\x00\t\n\x0c\r "


# ── ASCII85Decode (§7.4.3) ───────────────────────────────────────────────────


@pytest.mark.parametrize("wire, want", [
    (b"<~9jqo^BlbD-BleB1DJ+*+F(f,q~>", b"Man is distinguished"),
    (b"9jqo^BlbD-BleB1DJ+*+F(f,q~>", b"Man is distinguished"),
    (b"", b""),
    (b"<~~>", b""),
    (b"9`~>", b"M"),
    (b"9jn~>", b"Ma"),
    (b"9jqo~>", b"Man"),
    (b"z~>", bytes(4)),
    (b"zz~>", bytes(8)),
    (b"9jqo^z~>", b"Man " + bytes(4)),
    (b"s8W-!~>", b"\xff" * 4),
    (b"9j\nqo\t^ \r\x0c\x00~>", b"Man "),
    (b"9jqo^~>9jqo^", b"Man "),
], ids=[
    "adobe-example", "no-leading-marker", "empty", "empty-delimited",
    "partial-1", "partial-2", "partial-3", "z", "zz", "group-then-z",
    "all-ones", "whitespace-anywhere", "data-after-eod-ignored",
])
def test_ascii85_vectors(wire, want):
    assert _ascii85_decode(wire) == want


@pytest.mark.parametrize("wire, match", [
    (b"9jqo^v~>", "bad char"),
    (b"9jqo^\x7f~>", "bad char"),
    (b"z9jqo^v~>", "bad char"),
    (b"9jqo^!~>", "dangling single char"),
    (b"!~>", "dangling single char"),
    (b"9jzqo~>", "'z' inside group"),
    (b"s8W-#~>", "group overflow"),
    (b"zs8W-#~>", "group overflow"),
    (b"s8W-~>", "group overflow"),
    (b"zs8W-~>", "group overflow"),
], ids=[
    "char-above-u", "char-del", "char-above-u-strict", "dangling-after-group",
    "dangling-alone", "z-inside-group", "overflow", "overflow-strict",
    "overflow-partial", "overflow-partial-strict",
])
def test_ascii85_malformed_raises_parse_error(wire, match):
    """The numpy path and the strict path (taken when a 'z' is present or
    the body is one char) report the same faults as PDFParseError."""
    with pytest.raises(PDFParseError, match=match):
        _ascii85_decode(wire)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=64))
def test_ascii85_roundtrips_both_encoders(data):
    """The fixture writer and the stdlib Adobe encoder both decode back."""
    assert _ascii85_decode(ascii85_encode(data)) == data
    assert _ascii85_decode(base64.a85encode(data, adobe=True)) == data


_A85_ALPHABET = bytes(range(0x21, 0x76)) + b"zvw\x7f" + _WS


@settings(max_examples=400, deadline=None)
@given(st.lists(st.sampled_from(_A85_ALPHABET), max_size=24).map(bytes))
def test_ascii85_fast_and_strict_paths_agree(body):
    """On any body the numpy path and the strict per-char path return the
    same bytes or both raise PDFParseError."""

    def run(f, b):
        try:
            return f(b)
        except PDFParseError:
            return PDFParseError

    compact = body.translate(None, _WS)
    assert run(_ascii85_decode, body) == run(_ascii85_decode_strict, compact)


# ── ASCIIHexDecode (§7.4.2) ──────────────────────────────────────────────────


@pytest.mark.parametrize("wire, want", [
    (b"48656C6C6F>", b"Hello"),
    (b"48656c6c6f>", b"Hello"),
    (b"48 65\n6C\t6C\r6F\x0c\x00>", b"Hello"),
    (b"414>", b"A@"),
    (b"4142", b"AB"),
    (b"41>4243", b"A"),
    (b">", b""),
], ids=[
    "upper", "lower", "whitespace-between-digits", "odd-digit-takes-zero",
    "missing-eod", "data-after-eod-ignored", "empty",
])
def test_ascii_hex_vectors(wire, want):
    assert _ascii_hex_decode(wire) == want


@pytest.mark.parametrize("wire", [b"4G>", b"41-42>", b"\xc341>", b"0x41>"])
def test_ascii_hex_bad_digit_raises_parse_error(wire):
    with pytest.raises(PDFParseError, match="bad hex digit"):
        _ascii_hex_decode(wire)


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=64))
def test_ascii_hex_roundtrips(data):
    assert _ascii_hex_decode(asciihex_encode(data)) == data
    assert _ascii_hex_decode(data.hex().encode() + b">") == data


# ── RunLengthDecode (§7.4.5) ─────────────────────────────────────────────────


@pytest.mark.parametrize("wire, want", [
    (b"\x02abc\x80", b"abc"),
    (b"\x7f" + bytes(range(128)) + b"\x80", bytes(range(128))),
    (b"\xffx\x80", b"xx"),
    (b"\x81y\x80", b"y" * 128),
    (b"\x00a\xfeb\x80", b"abbb"),
    (b"\x80", b""),
    (b"\x00a\x80\x05junk", b"a"),
    (b"\x00a\xfdb", b"abbbb"),
    (b"", b""),
], ids=[
    "literal", "longest-literal", "shortest-repeat", "longest-repeat",
    "literal-then-repeat", "eod-only", "eod-stops-decode", "missing-eod",
    "empty",
])
def test_runlength_vectors(wire, want):
    assert _runlength_decode(wire) == want


@pytest.mark.parametrize("wire, match", [
    (b"\x03ab", "literal run truncated"),
    (b"\x00a\xc8", "repeat run truncated"),
])
def test_runlength_truncated_run_raises_parse_error(wire, match):
    with pytest.raises(PDFParseError, match=match):
        _runlength_decode(wire)


def _rle_with_repeats(data: bytes) -> bytes:
    """RunLength encoder that emits repeat runs for runs of 2+ equal
    bytes (the fixture writer emits literal runs only)."""
    out = bytearray()
    i = 0
    while i < len(data):
        j = i
        while j < len(data) and j - i < 128 and data[j] == data[i]:
            j += 1
        if j - i >= 2:
            out += bytes([257 - (j - i), data[i]])
        else:
            out += bytes([0, data[i]])
        i = j
    return bytes(out + b"\x80")


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 3), st.integers(1, 300)), max_size=12))
def test_runlength_roundtrips_literal_and_repeat_runs(runs):
    data = b"".join(bytes([b]) * k for b, k in runs)
    assert _runlength_decode(runlength_encode(data)) == data
    assert _runlength_decode(_rle_with_repeats(data)) == data


@pytest.mark.parametrize("eod", [b"", b"\x80"], ids=["no-eod", "eod"])
def test_runlength_cap_holds_with_or_without_eod(monkeypatch, eod):
    """Repeat runs that end exactly at the cap decode; one more byte
    raises, whether or not the stream ends with EOD."""
    monkeypatch.setattr(_pdf, "MAX_DECODED_STREAM_BYTES", 1000)
    at_cap = b"\x81A" * 7 + bytes([257 - 104]) + b"A"  # 7·128 + 104 = 1000
    assert _runlength_decode(at_cap + eod) == b"A" * 1000
    with pytest.raises(PDFParseError, match="exceeds cap"):
        _runlength_decode(at_cap + b"\x00A" + eod)


# ── LZWDecode (§7.4.4) ───────────────────────────────────────────────────────


def _pack9(codes: list[int]) -> bytes:
    """MSB-first 9-bit codes (the width before the table reaches 511)."""
    buf = bits = 0
    out = bytearray()
    for c in codes:
        buf = (buf << 9) | c
        bits += 9
        while bits >= 8:
            bits -= 8
            out.append((buf >> bits) & 0xFF)
    if bits:
        out.append((buf << (8 - bits)) & 0xFF)
    return bytes(out)


@pytest.mark.parametrize("codes, want", [
    ([256, 65, 66, 257], b"AB"),
    ([65, 66, 257], b"AB"),
    ([65, 258, 257], b"AAA"),
    ([65, 66, 258, 257], b"ABAB"),
    ([65, 256, 66, 257], b"AB"),
    ([256, 256, 257], b""),
    ([257], b""),
    ([65, 66], b"AB"),
    ([65, 257, 66], b"A"),
], ids=[
    "clear-first", "no-clear", "kwkwk", "table-entry", "clear-mid-stream",
    "clears-only", "eod-only", "missing-eod", "eod-stops-decode",
])
def test_lzw_code_sequences(codes, want):
    assert _lzw_decode(_pack9(codes)) == want


@pytest.mark.parametrize("codes, match", [
    ([258, 257], "bad first code"),
    ([300, 257], "bad first code"),
    ([256, 65, 259, 257], "out of range"),
    ([65, 256, 258, 257], "bad first code"),
], ids=["first-is-next", "first-past-table", "past-next", "first-after-clear"])
def test_lzw_bad_codes_raise_parse_error(codes, match):
    with pytest.raises(PDFParseError, match=match):
        _lzw_decode(_pack9(codes))


# ── FlateDecode (§7.4.4) ─────────────────────────────────────────────────────


def test_flate_ignores_bytes_after_the_stream_end():
    """Writers pad streams with an EOL before `endstream`; bytes after the
    deflate end are not data."""
    assert _flate_decode(zlib.compress(b"payload") + b"\r\n") == b"payload"


@pytest.mark.parametrize("raw", [b"not deflate at all", b"\x78\x9c\xff\xff\xff"])
def test_flate_corrupt_raises_parse_error(raw):
    with pytest.raises(PDFParseError, match="FlateDecode"):
        _flate_decode(raw)


# ── predictors (§7.4.4.4, /DecodeParms) ──────────────────────────────────────


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    return a if pa <= pb and pa <= pc else (b if pb <= pc else c)


def _png_encode(data: bytes, row_len: int, bpp: int, ftypes: list[int]) -> bytes:
    """PNG row filtering (RFC 2083 §6), filter type ftypes[r % len] on row
    r — the encoder side of the kernel's PNG predictor."""
    out = bytearray()
    prev = bytes(row_len)
    for n, r in enumerate(range(0, len(data), row_len)):
        row = data[r : r + row_len]
        ftype = ftypes[n % len(ftypes)]
        out.append(ftype)
        for j in range(row_len):
            a = row[j - bpp] if j >= bpp else 0
            b = prev[j]
            c = prev[j - bpp] if j >= bpp else 0
            pred = (0, a, b, (a + b) >> 1, _paeth(a, b, c))[ftype]
            out.append((row[j] - pred) & 0xFF)
        prev = row
    return bytes(out)


_LAYOUTS = [  # (colors, bpc, columns) → bpp, row length
    (1, 8, 5),   # 1, 5: a one-byte xref-style row
    (3, 8, 4),   # 3, 12: RGB
    (2, 16, 3),  # 4, 12: wide components
    (1, 1, 20),  # 1, 3: sub-byte pixels round bpp up to one byte
]


def _rows(colors: int, bpc: int, columns: int, n_rows: int = 6) -> tuple[bytes, int, int]:
    row_len = (columns * colors * bpc + 7) // 8
    bpp = max(1, colors * bpc // 8)
    data = bytes((i * 37 + (i // row_len) * 91 + 200) & 0xFF
                 for i in range(row_len * n_rows))
    return data, row_len, bpp


@pytest.mark.parametrize("layout", _LAYOUTS, ids=lambda x: "c%d-b%d-w%d" % x)
@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4],
                         ids=["none", "sub", "up", "average", "paeth"])
def test_png_predictor_undoes_each_filter_type(ftype, layout):
    data, row_len, bpp = _rows(*layout)
    enc = _png_encode(data, row_len, bpp, [ftype])
    assert _apply_predictor(enc, 12, *layout) == data


@pytest.mark.parametrize("prev, left, want_pred", [
    ([10, 6], 12, 6),   # p = 8: |p-b| == |p-c| < |p-a| → b
    ([10, 12], 6, 6),   # p = 8: |p-a| == |p-c| < |p-b| → a
], ids=["b-over-c", "a-over-c"])
def test_paeth_ties_break_toward_a_then_b(prev, left, want_pred):
    """Paeth picks a, then b, then c on ties (RFC 2083 §6.6); rows built
    so that the tie decides the second byte of the second row."""
    # row 1 unfiltered; row 2 Paeth: its first byte predicts from b alone
    enc = bytes([0, *prev, 4, (left - prev[0]) & 0xFF, (99 - want_pred) & 0xFF])
    assert _apply_predictor(enc, 12, 1, 8, 2) == bytes(prev + [left, 99])


def test_png_predictor_filter_type_changes_per_row():
    data, row_len, bpp = _rows(3, 8, 4, n_rows=10)
    enc = _png_encode(data, row_len, bpp, [4, 0, 3, 1, 2])
    assert _apply_predictor(enc, 15, 3, 8, 4) == data


@pytest.mark.parametrize("predictor", [10, 11, 12, 13, 14, 15])
def test_png_predictor_numbers_all_read_the_row_tag(predictor):
    """/Predictor 10-15 only name the writer's choice; the decoder reads
    each row's own filter-type byte (§7.4.4.4 Table 10)."""
    data = bytes(range(40))
    assert _apply_predictor(png_predict_up(data, 8), predictor, 1, 8, 8) == data


@pytest.mark.parametrize("colors, columns", [(1, 6), (3, 4)])
def test_tiff_predictor_undoes_horizontal_differencing(colors, columns):
    row_len = colors * columns
    data = bytes((i * 53 + 17) & 0xFF for i in range(row_len * 4))
    enc = bytearray(data)
    for r in range(0, len(data), row_len):
        for j in range(r + row_len - 1, r + colors - 1, -1):
            enc[j] = (data[j] - data[j - colors]) & 0xFF
    assert _apply_predictor(bytes(enc), 2, colors, 8, columns) == data


@pytest.mark.parametrize("predictor", [0, 1])
def test_predictor_one_or_less_is_identity(predictor):
    assert _apply_predictor(b"\x05\x06\x07", predictor, 1, 8, 2) == b"\x05\x06\x07"


@pytest.mark.parametrize("args, match", [
    ((b"\x00" * 10, 3, 1, 8, 4), "unsupported predictor 3"),
    ((b"\x00" * 10, 9, 1, 8, 4), "unsupported predictor 9"),
    ((b"\x00" * 8, 2, 1, 16, 4), "only 8-bit"),
    ((b"\x05" + b"\x00" * 4, 12, 1, 8, 4), "bad filter type 5"),
    ((b"\x00" * 7, 12, 1, 8, 4), "not a whole number of rows"),
    ((b"\x00" * 20, 12, 1, 8, -1), "must be positive"),
    ((b"\x00" * 20, 2, 1, 8, -1), "must be positive"),
    ((b"\x00" * 20, 12, -1, 8, 4), "must be positive"),
    ((b"\x00" * 20, 12, 1, -8, 4), "must be positive"),
], ids=[
    "predictor-3", "predictor-9", "tiff-16-bit", "png-bad-tag",
    "png-partial-row", "png-negative-columns", "tiff-negative-columns",
    "negative-colors", "negative-bpc",
])
def test_predictor_bad_parameters_raise_parse_error(args, match):
    with pytest.raises(PDFParseError, match=match):
        _apply_predictor(*args)


def test_filter_chain_applies_the_predictor_of_its_own_stage():
    """/Filter [/AHx /Fl] with /DecodeParms [null <</Predictor 12 …>>]: the
    predictor follows the Flate stage only, and ASCIIHex takes none."""
    data, row_len, bpp = _rows(1, 8, 5)
    wire = asciihex_encode(zlib.compress(_png_encode(data, row_len, bpp, [4])))
    doc = PDFDocument(build_pdf([content_stream_for_lines(["x"])]))
    st_ = _Stream(
        {"Filter": ["ASCIIHexDecode", "FlateDecode"],
         "DecodeParms": [None, {"Predictor": 12, "Columns": 5}],
         "Length": len(wire)},
        wire,
    )
    assert doc._decode_stream(st_) == data
