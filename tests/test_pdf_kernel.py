"""PDF kernel unit tests — golden parity + structural edge cases."""

import codecs
import pathlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_to_text_spark.kernels import pdf as _pdf
from pdf_to_text_spark.kernels.pdf import (
    PDFEncryptedError,
    PDFParseError,
    extract_pdf_text,
)
from tools.make_pdf import FIXTURES, build_pdf, build_pdf_xref_stream, simple_pdf

GOLDEN = pathlib.Path(__file__).parent / "golden"


@pytest.mark.parametrize(
    "name",
    [n for n in FIXTURES
     if n not in ("corrupt", "encrypted", "encrypted_password", "unsupported_cmap")]
)
def test_golden_parity(name):
    """Writer output re-parsed must match the committed golden byte-for-byte."""
    pdf = (GOLDEN / f"{name}.pdf").read_bytes()
    want = (GOLDEN / f"{name}.txt").read_bytes()
    text, n_pages = extract_pdf_text(pdf)
    assert text.encode("utf-8") == want
    assert n_pages >= 1


def test_corrupt_raises_not_crashes():
    pdf = (GOLDEN / "corrupt.pdf").read_bytes()
    with pytest.raises(PDFParseError):
        extract_pdf_text(pdf)


def test_multi_page_newline_join():
    """Pages merged with '\\n' — reference src/main.ts:152-154."""
    text, n = extract_pdf_text(simple_pdf([["a"], ["b"], ["c"]]))
    assert text == "a\nb\nc"
    assert n == 3


def test_tj_kerning_numbers_ignored():
    text, _ = extract_pdf_text(simple_pdf([["HelloWorld"]], style="tj"))
    assert text == "HelloWorld"


def test_tstar_and_quote_linebreaks():
    for style in ("tstar", "quote", "dquote", "td"):
        text, _ = extract_pdf_text(simple_pdf([["x1", "x2", "x3"]], style=style))
        assert text == "x1\nx2\nx3", style


def test_flate_roundtrip():
    text, _ = extract_pdf_text(simple_pdf([["deflate me " * 50]], compress=True))
    assert text == "deflate me " * 50


def test_string_escapes():
    text, _ = extract_pdf_text(simple_pdf([["(paren) \\slash", "tab\there"]]))
    assert text == "(paren) \\slash\ntab\there"


def test_not_a_pdf():
    with pytest.raises(PDFParseError):
        extract_pdf_text(b"<html>nope</html>")
    with pytest.raises(PDFParseError):
        extract_pdf_text(b"")


def test_truncated_everywhere():
    """Any truncation point must raise, never hang or return garbage silently."""
    good = simple_pdf([["hello truncation world"]])
    for cut in range(0, len(good), max(1, len(good) // 23)):
        try:
            text, _ = extract_pdf_text(good[:cut])
            # a prefix that still parses must at least be a valid parse
            assert isinstance(text, str)
        except PDFParseError:
            pass


def test_hex_string_show():
    stream = b"BT /F1 12 Tf 72 720 Td <48656C6C6F> Tj ET"
    text, _ = extract_pdf_text(build_pdf([stream]))
    assert text == "Hello"


def test_octal_escape():
    stream = b"BT /F1 12 Tf 72 720 Td (\\110i) Tj ET"
    text, _ = extract_pdf_text(build_pdf([stream]))
    assert text == "Hi"


def test_contents_array_multiple_streams():
    """A page whose /Contents is an ARRAY of streams — decoded streams
    are concatenated with a newline before text extraction."""
    base = simple_pdf([["placeholder"]])
    s1 = b"BT /F1 12 Tf 72 720 Td (part one) Tj ET"
    s2 = b"BT /F1 12 Tf 72 600 Td (part two) Tj ET"
    buf = bytearray(base)
    pos6 = len(buf)
    buf += b"6 0 obj\n<< /Length %d >>\nstream\n" % len(s1) + s1 + b"\nendstream\nendobj\n"
    pos7 = len(buf)
    buf += b"7 0 obj\n<< /Length %d >>\nstream\n" % len(s2) + s2 + b"\nendstream\nendobj\n"
    pos4 = len(buf)
    buf += (
        b"4 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 3 0 R >> >> /Contents [6 0 R 7 0 R] >>\nendobj\n"
    )
    xref_pos = len(buf)
    old_xref = base.rfind(b"\nxref\n") + 1
    buf += b"xref\n4 1\n%010d 00000 n \n6 2\n%010d 00000 n \n%010d 00000 n \n" % (
        pos4, pos6, pos7,
    )
    buf += b"trailer\n<< /Size 8 /Root 1 0 R /Prev %d >>\nstartxref\n%d\n%%%%EOF\n" % (
        old_xref, xref_pos,
    )
    text, n = extract_pdf_text(bytes(buf))
    assert text == "part one\npart two"
    assert n == 1


def test_latin1_winansi_text():
    """WinAnsi upper-range text (é, ñ, ü) survives byte-exactly."""
    text, _ = extract_pdf_text(simple_pdf([["café señor über", "naïve—dash"]]))
    assert text == "café señor über\nnaïve—dash".encode("latin-1", "replace").decode("latin-1")


def test_incremental_update_prev_chain():
    """PDF incremental update: appended body + xref with /Prev — the
    newest xref section must win for the updated object, older sections
    fill the rest (PDFDocument._load_xref Prev walk)."""
    base = simple_pdf([["original text"]])
    old_xref_pos = base.rfind(b"\nxref\n") + 1  # not the one in 'startxref'
    # objects: 1=Catalog 2=Pages 3=Font 4=Page 5=Contents → replace 5
    stream = b"BT /F1 12 Tf 72 720 Td (updated text) Tj ET"
    body = b"5 0 obj\n<< /Length %d >>\nstream\n" % len(stream) + stream + b"\nendstream\nendobj\n"
    buf = bytearray(base)
    new_obj_pos = len(buf)
    buf += body
    new_xref_pos = len(buf)
    buf += b"xref\n5 1\n%010d 00000 n \n" % new_obj_pos
    buf += b"trailer\n<< /Size 6 /Root 1 0 R /Prev %d >>\nstartxref\n%d\n%%%%EOF\n" % (
        old_xref_pos,
        new_xref_pos,
    )
    text, n = extract_pdf_text(bytes(buf))
    assert text == "updated text"
    assert n == 1
    # sanity: the base alone still reads the original
    assert extract_pdf_text(base)[0] == "original text"


def test_positive_td_does_not_break_line():
    stream = b"BT /F1 12 Tf 72 720 Td (a) Tj 0 5 Td (b) Tj 0 -5 Td (c) Tj ET"
    text, _ = extract_pdf_text(build_pdf([stream]))
    assert text == "ab\nc"


# ── round-2 format surface: xref streams / ObjStm / filters / encodings ──────


def test_lzw_spec_vector():
    """PDF 32000-1 §7.4.4.2 worked example, both directions."""
    from pdf_to_text_spark.kernels.pdf import _lzw_decode
    from tools.make_pdf import lzw_encode

    src = bytes([45, 45, 45, 45, 45, 65, 45, 45, 45, 66])
    wire = bytes.fromhex("800B6050220C0C8501")
    assert lzw_encode(src) == wire
    assert _lzw_decode(wire) == src


def test_xref_stream_equals_classic_layout():
    """The same pages through a classic-xref PDF, an xref-stream PDF, and
    an ObjStm-packed PDF must extract identically."""
    pages = [["alpha one", "alpha two"], ["beta"]]
    from tools.make_pdf import content_stream_for_lines

    streams = [content_stream_for_lines(p) for p in pages]
    classic = extract_pdf_text(build_pdf(streams))
    xstream = extract_pdf_text(build_pdf_xref_stream(streams, use_objstm=False))
    objstm = extract_pdf_text(build_pdf_xref_stream(streams, use_objstm=True))
    assert classic == xstream == objstm == ("alpha one\nalpha two\nbeta", 2)


@pytest.mark.parametrize("filt", [
    "FlateDecode", "LZWDecode", "ASCIIHexDecode", "ASCII85Decode", "RunLengthDecode",
])
def test_each_stream_filter_roundtrips(filt):
    from tools.make_pdf import content_stream_for_lines

    lines = ["filter test content", "second line with café ± señor"]
    pdf = build_pdf([content_stream_for_lines(lines)], stream_filter=filt)
    text, n = extract_pdf_text(pdf)
    assert text == "\n".join(lines) and n == 1


@pytest.mark.parametrize("filt, decode", [
    ("FlateDecode", "_flate_decode"),
    ("LZWDecode", "_lzw_decode"),
    ("RunLengthDecode", "_runlength_decode"),
])
def test_expanding_filters_stop_at_decoded_stream_cap(monkeypatch, filt, decode):
    """Each expanding filter decodes a stream of exactly
    MAX_DECODED_STREAM_BYTES and raises on one that decodes past it."""
    from tools.make_pdf import STREAM_FILTERS

    cap = 1000
    monkeypatch.setattr(_pdf, "MAX_DECODED_STREAM_BYTES", cap)
    encode, dec = STREAM_FILTERS[filt], getattr(_pdf, decode)
    data = bytes((i * 7 + i // 13) & 0xFF for i in range(cap + 1))
    assert dec(encode(data[:cap])) == data[:cap]
    with pytest.raises(PDFParseError, match="exceeds cap"):
        dec(encode(data))


def test_differences_encoding_maps_codes():
    text, _ = extract_pdf_text(FIXTURES["differences_encoding"]())
    assert text == "café señor — ΓBC Δx"


def test_tounicode_cmap_maps_codes():
    """bfchar pairs, contiguous bfrange, array bfrange (incl. a
    two-codepoint ligature target); unmapped codes stay latin-1."""
    text, _ = extract_pdf_text(FIXTURES["tounicode_cmap"]())
    assert text == "A€ abc XYZ rest"


def test_type0_identity_h_cid_decode():
    """Type0/Identity-H: 2-byte CIDs through the wide ToUnicode map —
    bfchar + bfrange CJK targets; unmapped CID → U+FFFD."""
    text, _ = extract_pdf_text(FIXTURES["type0_identity_h"]())
    assert text == "你好 中丮丯\n你�"


def test_encrypted_raises_distinct_error_and_status():
    pdf = FIXTURES["encrypted"]()
    with pytest.raises(PDFEncryptedError):
        extract_pdf_text(pdf)
    # the UDF dispatch maps it to a distinct per-row status, never a crash
    from pdf_to_text_spark.functions.udfs import _extract_one

    out, n_pages, status, failed = _extract_one(pdf, None, True)
    assert (out, n_pages, status, failed) == ("", 0, "encrypted", 1)


@pytest.mark.parametrize("name", ["xref_stream", "objstm", "lzw_stream"])
def test_truncation_sweep_new_formats(name):
    """Truncating a PDF 1.5 / filtered file anywhere must raise or parse —
    never hang, loop, or crash with a non-PDFParseError."""
    good = FIXTURES[name]()
    for cut in range(0, len(good), max(1, len(good) // 29)):
        try:
            text, _ = extract_pdf_text(good[:cut])
            assert isinstance(text, str)
        except PDFParseError:
            pass


def test_truncated_flate_raises_not_partial():
    """A cut-off deflate stream must be parse_failed, never a silent
    partial extraction labeled ok (review r2 finding #1)."""
    import zlib

    from pdf_to_text_spark.kernels.pdf import _flate_decode

    full = zlib.compress(b"hello truncation " * 50)
    with pytest.raises(PDFParseError, match="truncat"):
        _flate_decode(full[: len(full) // 2])


def test_short_decodeparms_array_still_applies_all_filters():
    """/Filter [A85 Flate] with a one-element /DecodeParms must apply BOTH
    filters (zip truncation skipped the tail pre-fix, review #2)."""
    import zlib

    from pdf_to_text_spark.kernels.pdf import PDFDocument, _Stream
    from tools.make_pdf import ascii85_encode, content_stream_for_lines

    stream = content_stream_for_lines(["chained filters line"])
    data = ascii85_encode(zlib.compress(stream))
    doc = PDFDocument(build_pdf([stream]))
    st = _Stream(
        {"Filter": ["ASCII85Decode", "FlateDecode"], "DecodeParms": [None],
         "Length": len(data)},
        data,
    )
    assert doc._decode_stream(st) == stream


def test_bfrange_past_unicode_max_falls_back_to_replacement():
    """bfrange bases near U+10FFFF must clamp, not raise ValueError
    through page_font_decoders (review #3)."""
    from pdf_to_text_spark.kernels.pdf import _parse_tounicode

    narrow, wide = _parse_tounicode(
        b"beginbfrange\n<00> <FF> <DBFFDFFF>\nendbfrange"
    )
    assert narrow[0] == "\U0010FFFF"  # the base itself is valid
    assert narrow[255] == "�"         # base+255 overflows → clamped


def test_xref_stream_bad_w_recovers_via_reconstruction():
    """/W with fewer than 2 widths: the structured load must raise
    PDFParseError, not IndexError (review #4) — and since round 5 that
    failure triggers scan reconstruction, so a doc whose OBJECTS are
    intact extracts anyway (pdfjs recovery parity)."""
    from pdf_to_text_spark.kernels.pdf import PDFDocument

    good = FIXTURES["xref_stream_plain"]()
    bad = good.replace(b"/W [1 4 2]", b"/W [1]    ")
    assert extract_pdf_text(bad) == extract_pdf_text(good)
    # the normal (non-recovering) path still reports the typed error
    doc = PDFDocument.__new__(PDFDocument)
    doc.data = bad
    doc.xref, doc._xref_objstm, doc.trailer, doc._cache = {}, {}, {}, {}
    doc._objstm_cache, doc._objstm_loading = {}, set()
    doc._crypt = None
    with pytest.raises(PDFParseError):
        doc._load_xref_normal()


def test_xref_reconstruction_matrix():
    """Round 5 (pdfjs recovery parity): crawl-damaged files whose OBJECTS
    are intact extract via the object-header scan — bad startxref,
    missing startxref, zeroed table offsets, offsets invalidated by
    injected bytes, a trailer missing /Root. Truncated files (bytes
    physically gone) stay parse_failed, and password-protected files
    stay PDFEncryptedError even when their xref is damaged."""
    from tools.make_pdf import (
        build_encrypted_pdf,
        content_stream_for_lines,
        corrupt_pdf,
        damaged_pdf,
        simple_pdf,
    )

    good = simple_pdf([["hello", "world"], ["page two"]])
    expect = extract_pdf_text(good)

    # the three shared modes come from damaged_pdf — the SAME generator
    # the corpus slice uses, so test and corpus cannot drift (r5 review);
    # the two extra shapes below are test-only
    for mode in ("bad_startxref", "zeroed_offsets", "shifted_offsets"):
        assert extract_pdf_text(damaged_pdf(good, mode)) == expect, mode
    assert extract_pdf_text(good[: good.rfind(b"startxref")]) == expect
    assert extract_pdf_text(
        good.replace(b"/Root 1 0 R", b"/Rook 1 0 R")) == expect

    # empty-password encryption survives reconstruction (crypt re-setup)
    enc = build_encrypted_pdf(
        [content_stream_for_lines(["open secret"])], method="aes_128")
    text, _ = extract_pdf_text(damaged_pdf(enc, "zeroed_offsets"))
    assert text == "open secret"

    # non-recoverable classes keep their contracts
    with pytest.raises(PDFParseError):
        extract_pdf_text(corrupt_pdf())
    locked = build_encrypted_pdf(
        [content_stream_for_lines(["x"])], method="rc4_128", user_pw=b"pw")
    with pytest.raises(PDFEncryptedError):
        extract_pdf_text(damaged_pdf(locked, "bad_startxref"))


@pytest.mark.parametrize("method", ["rc4_128", "aes_128"])
def test_encrypted_xref_stream_recovery_harvests_trailer_keys(method):
    """Modern layout: trailer keys live ONLY in the XRef stream dict.
    Reconstruction must harvest /Encrypt from /Type /XRef dicts (r5
    review) — an empty-password file recovers AND decrypts; a locked
    file surfaces 'encrypted' even when damaged, never garbage or
    parse_failed."""
    from tools.make_pdf import (
        build_encrypted_xref_stream_pdf,
        content_stream_for_lines,
        damaged_pdf,
    )

    good = build_encrypted_xref_stream_pdf(
        [content_stream_for_lines(["modern secret", "line two"])],
        method=method,
    )
    expect = ("modern secret\nline two", 1)
    assert extract_pdf_text(good) == expect
    assert extract_pdf_text(damaged_pdf(good, "bad_startxref")) == expect

    locked = build_encrypted_xref_stream_pdf(
        [content_stream_for_lines(["locked"])], method=method, user_pw=b"pw"
    )
    with pytest.raises(PDFEncryptedError):
        extract_pdf_text(locked)
    with pytest.raises(PDFEncryptedError):
        extract_pdf_text(damaged_pdf(locked, "bad_startxref"))


def test_dangling_reference_does_not_trigger_reconstruction():
    """A reference to a number with NO table entry is a dangling ref
    (spec: treat as null) — the tolerant fallbacks must keep working
    WITHOUT the destructive whole-table rebuild (r5 review: recovery is
    for offsets that LIE, not entries that are absent)."""
    from pdf_to_text_spark.kernels.pdf import PDFDocument
    from tools.make_pdf import build_pdf

    from pdf_to_text_spark.kernels.pdf import _extract_page_text

    # the font's /ToUnicode stream declares /Length as an indirect ref
    # to a MISSING object (freed by a sloppy incremental writer); the
    # tolerant CMap fallback at the _decode_stream call site must keep
    # extracting latin-1 text, and the miss must not rebuild the table
    cmap = (
        b"/CIDInit /ProcSet findresource begin 1 begincmap\n"
        b"1 beginbfchar <61> <0041> endbfchar\nendcmap\nend end"
    )
    tu_obj = b"<< /Length 90 0 R >>\nstream\n" + cmap + b"\nendstream"
    font = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/ToUnicode 6 0 R >>"
    )
    s = b"BT /F1 12 Tf 72 720 Td (dangling ok) Tj ET"
    pdf = build_pdf([s], font_obj=font, extra_objects=(tu_obj,))
    assert extract_pdf_text(pdf) == ("dangling ok", 1)
    doc = PDFDocument(pdf)
    for p in doc.pages():
        fonts, xobjs = doc.page_extraction_context(p)
        _extract_page_text(doc.page_content(p), fonts, xobjs)
    assert doc._recon_tried is False


def test_deep_nesting_raises_parse_error_not_recursion():
    """Adversarial container nesting must stay inside the PDFParseError
    contract (a RecursionError would escape untyped)."""
    from pdf_to_text_spark.kernels.pdf import _Lexer

    for payload in (b"[" * 5000, b"<<" * 5000, b"[<<[" * 2000):
        with pytest.raises(PDFParseError):
            _Lexer(payload).parse_object()


def test_decompression_bomb_capped():
    """An adversarial Flate bomb must raise PDFParseError, never OOM an
    executor (crawl-scale robustness)."""
    import zlib

    from pdf_to_text_spark.kernels.pdf import _flate_decode

    bomb = zlib.compress(b"\x00" * (300 << 20), 9)  # 300 MB of zeros, ~300 KB wire
    with pytest.raises(PDFParseError, match="cap"):
        _flate_decode(bomb)


def test_bitflip_sweep_xref_stream_never_crashes():
    """Corrupting single bytes across an xref-stream PDF must yield either
    a parse or a PDFParseError (defensive kernel contract #18)."""
    good = bytearray(FIXTURES["objstm"]())
    for pos in range(0, len(good), max(1, len(good) // 37)):
        bad = bytearray(good)
        bad[pos] ^= 0xFF
        try:
            text, _ = extract_pdf_text(bytes(bad))
            assert isinstance(text, str)
        except PDFParseError:
            pass


def test_runlength_chain_bomb_capped():
    """A chained /Filter [/RL /RL …] compounds ~128× per stage; the cap
    must hold inside the RLE decoder itself (ADVICE r2 #1)."""
    from pdf_to_text_spark.kernels.pdf import PDFDocument, _runlength_decode

    # one stage: repeat headers expanding 128× well past the cap
    stage = (b"\x81\xff") * (3 << 20)  # each 2-byte pair → 128 bytes out
    with pytest.raises(PDFParseError, match="cap"):
        _runlength_decode(stage)

    # and a long filter chain must be rejected before it compounds
    data = b"\x00A\x80"
    body = (
        b"<< /Filter [" + b" /RL" * 9 + b" ] /Length %d >>\nstream\n" % len(data)
        + data + b"\nendstream"
    )
    pdf = build_pdf([b"BT ET"], extra_objects=(body,))
    doc = PDFDocument(pdf)
    st = doc.resolve(__import__("pdf_to_text_spark.kernels.pdf", fromlist=["_Ref"])._Ref(6, 0))
    with pytest.raises(PDFParseError, match="chain too long"):
        doc._decode_stream(st)


def test_indirect_reference_cycle_raises_not_hangs():
    """1 0 obj → 6 0 R / 6 0 obj → 1 0 R must be PDFParseError, not an
    infinite resolve() loop (ADVICE r2 #2)."""
    from pdf_to_text_spark.kernels.pdf import PDFDocument, _Ref

    pdf = build_pdf([b"BT ET"], extra_objects=(b"1 0 R",))  # 6 0 obj → 1 0 R
    # rewrite the catalog (object 1) to point at object 6
    pdf = pdf.replace(b"<< /Type /Catalog /Pages 2 0 R >>", b"6 0 R" + b" " * 28)
    doc = PDFDocument(pdf)
    with pytest.raises(PDFParseError, match="cyclic"):
        doc.resolve(_Ref(1, 0))


def test_form_xobject_cycle_terminates_and_extracts_rest():
    """A form whose resources re-reference an ancestor form must be
    cycle-skipped (drawing is undefined), not an infinite recursion —
    and all acyclic text still extracts."""
    from tools.make_pdf import form_xobject_pdf

    text, n = extract_pdf_text(form_xobject_pdf(self_cycle=True))
    assert n == 1
    assert text == (
        "page before form\nouter form line one\nouter form line two\n"
        "inner nested line\nouter after inner\npage after form"
    )


def test_inline_image_binary_cannot_swallow_show_ops():
    """Without BI/ID/EI handling a '(' inside image bytes opens a bogus
    literal string that eats the following Tj — pin that both sides of
    the image survive."""
    from tools.make_pdf import inline_image_pdf

    text, _ = extract_pdf_text(inline_image_pdf())
    assert text == "before image\nafter image"


# ── round-3: empty-user-password decryption ───────────────────────────────────


def test_aes_fips197_vectors_both_directions():
    """The block cipher is pinned to FIPS-197 appendix C.1 so the kernel
    and the fixture writer cannot share a hidden cipher bug."""
    from pdf_to_text_spark.kernels.crypto import aes_decrypt_block, aes_encrypt_block

    key = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct = bytes.fromhex("69c4e0d86a7b0430d8cdb78070b4c55a")
    assert aes_encrypt_block(key, pt) == ct
    assert aes_decrypt_block(key, ct) == pt


def test_rc4_known_vectors():
    from pdf_to_text_spark.kernels.crypto import rc4

    assert rc4(b"Key", b"Plaintext").hex().upper() == "BBF316E8D940AF0AD3"
    assert rc4(b"Secret", b"Attack at dawn").hex().upper() == (
        "45A01F645FC35B383552544B9BF5"
    )
    # symmetric
    assert rc4(b"k", rc4(b"k", b"round trip")) == b"round trip"


def test_password_protected_stays_encrypted_status():
    """A real user password must still raise PDFEncryptedError (distinct
    'encrypted' row status), never return garbage text."""
    with pytest.raises(PDFEncryptedError):
        extract_pdf_text(FIXTURES["encrypted_password"]())


def test_owner_password_set_user_empty_decrypts():
    """The common "no-copy" layout (owner password set, user password
    empty) opens through the normal empty-user chain for every legacy
    revision — /O only feeds the key derivation as opaque bytes."""
    from tools.make_pdf import build_encrypted_pdf, content_stream_for_lines

    for method in ("rc4_40", "rc4_128", "aes_128"):
        pdf = build_encrypted_pdf(
            [content_stream_for_lines(["no copy allowed", "but extractable"])],
            method=method, owner_pw=b"owner-secret",
        )
        text, n = extract_pdf_text(pdf)
        assert (text, n) == ("no copy allowed\nbut extractable", 1), method


def test_owner_password_empty_user_set_decrypts_via_algorithm7():
    """Round 5: /O computed from a LITERALLY empty owner password while
    the user password is set (a real writer corner) — the empty-password
    attempt recovers the user password from /O (Algorithm 7) and
    decrypts; pdfjs parity."""
    from tools.make_pdf import build_encrypted_pdf, content_stream_for_lines

    for method in ("rc4_40", "rc4_128", "aes_128"):
        pdf = build_encrypted_pdf(
            [content_stream_for_lines(["opened via owner side"])],
            method=method, user_pw=b"userlocked", owner_pw=b"",
        )
        text, n = extract_pdf_text(pdf)
        assert (text, n) == ("opened via owner side", 1), method


def test_both_passwords_set_stays_encrypted():
    """Distinct non-empty user AND owner passwords: neither side of the
    empty-password attempt verifies — countable 'encrypted' status."""
    from tools.make_pdf import build_encrypted_pdf, content_stream_for_lines

    for method in ("rc4_128", "aes_128"):
        pdf = build_encrypted_pdf(
            [content_stream_for_lines(["locked"])],
            method=method, user_pw=b"hunter2", owner_pw=b"different-owner",
        )
        with pytest.raises(PDFEncryptedError):
            extract_pdf_text(pdf)


def test_algorithm7_roundtrip_recovers_padded_user_password():
    """crypto-level pin: recover_user_password inverts compute_o for
    R2 and R3+ (19-pass XOR-key chain) with any owner password."""
    from pdf_to_text_spark.kernels import crypto

    for r, bits in ((2, 40), (3, 128), (4, 128)):
        for owner in (b"", b"owner-secret"):
            o = crypto.compute_o(owner, b"the-user-pw", r, bits)
            rec = crypto.recover_user_password(owner, o, r, bits)
            assert rec == (b"the-user-pw" + crypto.PASSWORD_PAD)[:32], (r, owner)


def test_encrypted_string_objects_decrypt():
    """Document-level strings (not just streams) go through the
    per-object key — pinned via an /Info-style dict object."""
    from pdf_to_text_spark.kernels import crypto
    from pdf_to_text_spark.kernels.pdf import PDFDocument, _Ref
    from tools.make_pdf import build_encrypted_pdf, content_stream_for_lines

    pdf = build_encrypted_pdf(
        [content_stream_for_lines(["body"])], method="rc4_128"
    )
    # splice an encrypted-string object 7 plus an updated xref... simpler:
    # encrypt a string with the writer's derivation and check the document
    # side decrypts it identically through resolve()
    doc = PDFDocument(pdf)
    key = doc._crypt.key
    secret = b"a document title"
    wire = crypto.rc4(crypto.object_key(key, 7, 0, aes=False), secret)
    assert doc._crypt.decrypt_string(7, 0, wire) == secret


def test_wrong_u_entry_rejected():
    """A tampered /U must fail password verification, not decrypt to
    mojibake with status ok."""
    from tools.make_pdf import build_encrypted_pdf, content_stream_for_lines

    good = build_encrypted_pdf([content_stream_for_lines(["x"])], method="rc4_128")
    import re as _re

    m = _re.search(rb"/U <([0-9a-f]+)>", good)
    u = bytearray.fromhex(m.group(1).decode())
    u[0] ^= 0xFF
    bad = good[: m.start(1)] + u.hex().encode() + good[m.end(1):]
    with pytest.raises(PDFEncryptedError):
        extract_pdf_text(bad)


def test_predefined_cmap_distinct_status_lazy():
    """A predefined CID CMap outside both decodable families raises the
    countable PDFUnsupportedCMapError — but only when text actually uses
    the font; an unused embedding still extracts (empty page here)."""
    from pdf_to_text_spark.kernels.pdf import PDFUnsupportedCMapError
    from tools.make_pdf import predefined_cmap_pdf

    with pytest.raises(PDFUnsupportedCMapError):
        extract_pdf_text(predefined_cmap_pdf(used=True, encoding="Hojo-EUC-H"))
    text, n = extract_pdf_text(predefined_cmap_pdf(used=False, encoding="Hojo-EUC-H"))
    assert (text, n) == ("", 1)


@pytest.mark.parametrize(
    "encoding,show_hex,expect",
    [
        # mixed single-byte ASCII + double-byte CJK pins the
        # variable-width dispatch inside one show string
        ("GBK-EUC-H", b"486920C4E3BAC3A3ACCAC0BDE7", "Hi 你好，世界"),
        ("GBK-EUC-V", b"C4E3BAC3", "你好"),
        ("90ms-RKSJ-H", b"82B182F182C982BF82CD90A28A45", "こんにちは世界"),
        # halfwidth katakana: the Shift-JIS single-byte 0xA1-0xDF range
        ("90ms-RKSJ-H", b"B6C5", "ｶﾅ"),
        ("ETen-B5-H", b"A741A66EA540ACC9204F4B", "你好世界 OK"),
        ("KSC-EUC-H", b"BEC8B3E7C7CFBCBCBFE4", "안녕하세요"),
        ("KSCms-UHC-H", b"BEC8B3E7", "안녕"),
        ("GBK2K-H", b"C4E3BAC3", "你好"),
    ],
)
def test_predefined_legacy_cmap_family_extracts(encoding, show_hex, expect):
    """Round 5: legacy-coded predefined CMaps decode through the stdlib
    codec whose byte space they are defined over (pdfjs parity on
    legacy-encoded CJK PDFs without embedded ToUnicode)."""
    from tools.make_pdf import predefined_cmap_pdf

    text, n = extract_pdf_text(
        predefined_cmap_pdf(used=True, encoding=encoding, show_hex=show_hex)
    )
    assert (text, n) == (expect, 1)


def test_predefined_legacy_cmap_bad_bytes_degrade():
    """Bytes outside the legacy codec's repertoire become U+FFFD, never a
    parse failure (errors='replace' — same degradation contract as the
    UTF16 family's lone surrogates)."""
    from tools.make_pdf import predefined_cmap_pdf

    text, n = extract_pdf_text(
        predefined_cmap_pdf(used=True, encoding="GBK-EUC-H",
                            show_hex=b"41FF2042")  # 'A', bad lead, ' ', 'B'
    )
    assert n == 1
    assert text.startswith("A") and "�" in text and text.endswith("B")


@pytest.mark.parametrize(
    "encoding",
    ["UniGB-UCS2-H", "UniJIS-UCS2-HW-H", "UniKS-UCS2-V", "UniCNS-UTF16-H"],
)
def test_predefined_unicode_cmap_family_extracts(encoding):
    """Round 4: the Uni*-UCS2/UTF16 predefined CMaps are Unicode-coded —
    show strings decode as UTF-16BE with no data table (pdfjs parity on
    CJK PDFs without embedded ToUnicode)."""
    from tools.make_pdf import predefined_cmap_pdf

    text, n = extract_pdf_text(predefined_cmap_pdf(used=True, encoding=encoding))
    assert (text, n) == ("你好", 1)


def test_predefined_utf16_cmap_surrogates_and_odd_tail():
    """UTF16 variants recombine surrogate pairs (𠮷 = <D842DFB7>); an odd
    trailing byte or lone surrogate degrades to U+FFFD, never an error."""
    from tools.make_pdf import predefined_cmap_pdf

    text, _ = extract_pdf_text(
        predefined_cmap_pdf(used=True, encoding="UniJIS-UTF16-H",
                            show_hex=b"D842DFB74F60")
    )
    assert text == "\U00020bb7你"
    text, _ = extract_pdf_text(
        predefined_cmap_pdf(used=True, encoding="UniGB-UCS2-H",
                            show_hex=b"4F60D842")  # lone high surrogate
    )
    assert text == "你�"
    text, _ = extract_pdf_text(
        predefined_cmap_pdf(used=True, encoding="UniGB-UCS2-H",
                            show_hex=b"4F6059")  # odd byte count
    )
    assert text == "你�"


def test_tounicode_wins_over_predefined_unicode_cmap():
    """pdfjs precedence: an embedded /ToUnicode stays authoritative even
    when the predefined encoding name is Unicode-coded."""
    from tools.make_pdf import build_pdf

    cmap = (
        b"/CIDInit /ProcSet findresource begin 1 begincmap\n"
        b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
        b"1 beginbfchar <4F60> <0041> endbfchar\n"
        b"endcmap\nend end"
    )
    font = (
        b"<< /Type /Font /Subtype /Type0 /BaseFont /STSong-Light "
        b"/Encoding /UniGB-UCS2-H /DescendantFonts "
        b"[<< /Type /Font /Subtype /CIDFontType0 /BaseFont /STSong-Light "
        b"/CIDSystemInfo << /Registry (Adobe) /Ordering (GB1) "
        b"/Supplement 2 >> >>] /ToUnicode 6 0 R >>"
    )
    tu_obj = b"<< /Length %d >>\nstream\n" % len(cmap) + cmap + b"\nendstream"
    pdf = build_pdf(
        [b"BT /F1 12 Tf 72 720 Td <4F60> Tj ET"],
        font_obj=font, extra_objects=(tu_obj,),
    )
    text, _ = extract_pdf_text(pdf)
    assert text == "A"


def test_aes256_r6_empty_password_decrypts():
    """Round 4: a V5/R6 /AESV3 document with an empty user password
    extracts transparently (pdfjs parity, ISO 32000-2 §7.6.4)."""
    text, n = extract_pdf_text(FIXTURES["encrypted_aes_256"]())
    assert text == "aes two fifty six\nhardened hash ø §" and n == 1


def test_aes256_r6_real_password_stays_encrypted():
    from tools.make_pdf import build_encrypted_pdf, content_stream_for_lines

    locked = build_encrypted_pdf(
        [content_stream_for_lines(["locked"])], method="aes_256",
        user_pw=b"hunter2",
    )
    with pytest.raises(PDFEncryptedError):
        extract_pdf_text(locked)


def test_aes256_r6_owner_empty_password_path():
    """Algorithm 12: when the USER password is set but the OWNER password
    is empty, the /O//OE path must recover the file key."""
    from pdf_to_text_spark.kernels import crypto

    fk = bytes.fromhex("5c" * 32)
    u, _ue = crypto.make_u_ue_r6(b"userpw", fk, b"uvsalt_1", b"uksalt_1")
    o, oe = crypto.make_o_oe_r6(b"", fk, u, b"ovsalt_1", b"oksalt_1")
    assert crypto.verify_owner_password_r6(b"", o, u)
    assert crypto.retrieve_file_key_r6_owner(b"", o, u, oe) == fk
    assert not crypto.verify_owner_password_r6(b"wrong", o, u)


def test_aes256_r6_tampered_perms_refused():
    """A verified password with an inconsistent /Perms means a tampered
    key chain — must refuse, not emit garbage."""
    import re as _re

    good = FIXTURES["encrypted_aes_256"]()
    m = _re.search(rb"/Perms <([0-9a-f]+)>", good)
    perms = bytearray.fromhex(m.group(1).decode())
    perms[0] ^= 0xFF
    bad = good[: m.start(1)] + perms.hex().encode() + good[m.end(1):]
    with pytest.raises(PDFEncryptedError):
        extract_pdf_text(bad)


def test_aes_sub_block_ciphertext_decrypts_to_empty():
    """ADVICE r3: AES data shorter than IV+one block (e.g. an empty
    string stored as 0 bytes) returns b'' like pdfjs, instead of failing
    the whole document."""
    from pdf_to_text_spark.kernels.pdf import PDFDocument

    doc = PDFDocument(FIXTURES["encrypted_aes_128"]())
    assert doc._crypt.decrypt_string(7, 0, b"") == b""
    assert doc._crypt.decrypt_string(7, 0, b"\x01" * 16) == b""


def test_identity_crypt_filter_on_unencrypted_doc():
    """ADVICE r3: /Filter /Crypt with /Name /Identity is a no-op
    (§7.4.10) even in an UNENCRYPTED document; /StdCF without a security
    handler still refuses."""
    from tools.make_pdf import DEFAULT_FONT_OBJ, assemble_classic_xref

    stream = b"BT /F1 12 Tf 72 720 Td (identity pass) Tj ET"
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        DEFAULT_FONT_OBJ,
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 3 0 R >> >> /Contents 5 0 R >>",
        b"<< /Filter /Crypt /DecodeParms << /Type /CryptFilterDecodeParms "
        b"/Name /Identity >> /Length %d >>\nstream\n" % len(stream)
        + stream + b"\nendstream",
    ]
    text, _ = extract_pdf_text(assemble_classic_xref(objects))
    assert text == "identity pass"
    # bare /Crypt with no parms defaults to Identity too (§7.4.10)
    objects[4] = (
        b"<< /Filter /Crypt /Length %d >>\nstream\n" % len(stream)
        + stream + b"\nendstream"
    )
    text, _ = extract_pdf_text(assemble_classic_xref(objects))
    assert text == "identity pass"


@pytest.mark.parametrize(
    "name", ["encrypted_rc4_128", "encrypted_aes_128", "encrypted_aes_256"]
)
def test_bitflip_sweep_encrypted_never_escapes_contract(name):
    """Corrupting single bytes across an encrypted PDF (keys, ciphertext,
    padding, /Encrypt dict) must yield a parse or a PDFParseError — never
    an untyped exception from the crypto layer."""
    good = bytearray(FIXTURES[name]())
    for pos in range(0, len(good), max(1, len(good) // 41)):
        bad = bytearray(good)
        bad[pos] ^= 0xFF
        try:
            text, _ = extract_pdf_text(bytes(bad))
            assert isinstance(text, str)
        except PDFParseError:
            pass


def test_shared_form_decoded_once_across_pages():
    """A header form referenced by every page decodes once (doc-level
    cache) and extracts on every page."""
    from pdf_to_text_spark.kernels.pdf import PDFDocument, _extract_page_text
    from tools.make_pdf import build_pdf, content_stream_for_lines

    form = b"BT /F1 9 Tf 72 760 Td (shared header) Tj ET"
    form_obj = (
        b"<< /Type /XObject /Subtype /Form /BBox [0 0 612 792] "
        b"/Resources << /Font << /F1 3 0 R >> >> "
        b"/Length %d >>\nstream\n" % len(form) + form + b"\nendstream"
    )
    streams = [
        content_stream_for_lines([f"body page {p}"]) + b"\n/FxH Do" for p in range(3)
    ]
    pdf = build_pdf(
        streams,
        extra_objects=(form_obj,),
        resources_extra=b"/XObject << /FxH 10 0 R >> ",
    )
    doc = PDFDocument(pdf)
    texts = []
    calls = {"n": 0}
    orig = doc._decode_stream

    def counting(st):
        if str(st.dict.get("Subtype", "")) == "Form":
            calls["n"] += 1
        return orig(st)

    doc._decode_stream = counting
    for p in doc.pages():
        fonts, xobjs = doc.page_extraction_context(p)
        texts.append(_extract_page_text(doc.page_content(p), fonts, xobjs))
    assert texts == [f"body page {p}\nshared header" for p in range(3)]
    assert calls["n"] == 1  # decoded once, reused on pages 2-3


def test_sibling_inheriting_forms_do_not_blow_up():
    """k inheriting sibling forms whose shared resources re-expose all k
    must resolve in O(k) decodes (memo + budget), not k^depth
    (review r3 #1)."""
    from pdf_to_text_spark.kernels.pdf import PDFDocument

    k = 10
    forms = []
    for i in range(k):
        body = b"BT /F1 9 Tf 72 %d Td (form %d) Tj ET" % (700 - 12 * i, i)
        forms.append(
            b"<< /Type /XObject /Subtype /Form /BBox [0 0 612 792] "
            b"/Length %d >>\nstream\n" % len(body) + body + b"\nendstream"
        )
    xmap = b" ".join(b"/Fx%d %d 0 R" % (i, 6 + i) for i in range(k))
    pdf = build_pdf(
        [b"BT /F1 12 Tf 72 720 Td (page) Tj ET\n/Fx0 Do"],
        extra_objects=tuple(forms),
        resources_extra=b"/XObject << " + xmap + b" >> ",
    )
    doc = PDFDocument(pdf)
    text, n = extract_pdf_text(pdf)
    assert "page" in text and "form 0" in text
    assert doc._MAX_FORMS_PER_DOC == 256  # the budget exists and is modest


def test_inline_image_payload_abutting_ei():
    """Payload directly abutting EI (no preceding whitespace — spec only
    mandates whitespace AFTER ID) must not swallow the page tail
    (review r3 #4)."""
    stream = (
        b"BT /F1 12 Tf 72 720 Td (before) Tj ET\n"
        b"BI /W 1 /H 1 /CS /G /BPC 8 ID \xfa>EI\n"
        b"BT /F1 12 Tf 72 700 Td (after) Tj ET"
    )
    text, _ = extract_pdf_text(build_pdf([stream]))
    assert text == "before\nafter"


def test_v4_key_length_from_crypt_filter_dict():
    """A V4/AESV2 doc whose key length lives ONLY in /CF /StdCF /Length
    (bytes) must still decrypt (review r3 #3)."""
    from tools.make_pdf import build_encrypted_pdf, content_stream_for_lines

    good = build_encrypted_pdf(
        [content_stream_for_lines(["cf length secret"])], method="aes_128"
    )
    # drop the top-level /Length 128, padding to keep offsets stable
    assert b"/Length 128 /CF" in good
    patched = good.replace(b"/Length 128 /CF", b"            /CF")
    text, n = extract_pdf_text(patched)
    assert text == "cf length secret" and n == 1


def test_per_stream_stdcf_overrides_identity_stmf():
    """decrypt_stream(force_stdcf=True) must apply the StdCF cipher even
    when the document default StmF is /Identity (review r3 #2)."""
    from pdf_to_text_spark.kernels import crypto
    from pdf_to_text_spark.kernels.pdf import PDFDocument
    from tools.make_pdf import build_encrypted_pdf, content_stream_for_lines

    pdf = build_encrypted_pdf(
        [content_stream_for_lines(["x"])], method="aes_128"
    )
    doc = PDFDocument(pdf)
    c = doc._crypt
    c.identity_streams = True  # simulate /StmF /Identity
    secret = b"stream body payload"
    okey = crypto.object_key(c.key, 9, 0, aes=True)
    wire = crypto.aes128_cbc_encrypt(okey, bytes(16), secret)
    assert c.decrypt_stream(9, 0, wire) == wire          # default: identity
    assert c.decrypt_stream(9, 0, wire, force_stdcf=True) == secret


def test_encrypt_length_zero_is_encrypted_not_parse_failed():
    """/Encrypt /Length 0 would derive an empty file key and crash rc4
    with ZeroDivisionError -> blanket 'parse_failed'; the round-3 status
    vocabulary demands 'encrypted' (cannot decrypt) for it (r3 review)."""
    import pytest

    from pdf_to_text_spark.kernels.pdf import PDFEncryptedError, extract_pdf_text
    from tools.make_pdf import build_encrypted_pdf, content_stream_for_lines

    pdf = build_encrypted_pdf(
        [content_stream_for_lines(["hello world"])], method="rc4_128"
    )
    broken = pdf.replace(b"/Standard /V 2 /R 3 /Length 128",
                         b"/Standard /V 2 /R 3 /Length 0  ")
    assert broken != pdf
    with pytest.raises(PDFEncryptedError, match="Length"):
        extract_pdf_text(broken)


def test_object_key_large_object_number_uses_low_order_bytes():
    """ISO 32000-1 Algorithm 1 appends the LOW-ORDER 3 bytes of the
    object number — >2^24 must not OverflowError (r3 review)."""
    from pdf_to_text_spark.kernels import crypto

    k = crypto.object_key(b"0123456789", (1 << 24) + 7, 70001, True)
    assert k == crypto.object_key(b"0123456789", 7, 70001 & 0xFFFF, True)
    assert len(k) == 15


def test_hash_2b_matches_independent_loop_transcription():
    """r4 review: hash_2b is shared by the kernel AND the fixture writer,
    so a loop-transcription bug would round-trip invisibly. This pins the
    Algorithm 2.B LOOP against a second, independently-written
    transcription of ISO 32000-2 §7.6.4.3.4 built on the vector-pinned
    REFERENCE block cipher (_crypt_block, not the T-table fast path):
    K1 repetition ×64, AES-128-CBC(K[:16], iv=K[16:32]), SHA-256/384/512
    selected by sum(E[:16]) mod 3, ≥64 rounds until E[-1] <= round-32.
    (No offline public standalone 2.B vector exists in this sandbox; the
    components — AES, SHA-2 — are externally pinned, and this separates
    the loop logic from the writer path.)"""
    import hashlib

    from pdf_to_text_spark.kernels import crypto as c

    def ref_2b(pw, salt, udata=b""):
        k = hashlib.sha256(pw + salt + udata).digest()
        rnd = 0
        while True:
            k1 = (pw + k + udata) * 64
            rks = c._expand_key(k[:16])
            prev, e = k[16:32], b""
            for off in range(0, len(k1), 16):
                blk = bytes(x ^ y for x, y in zip(k1[off : off + 16], prev))
                prev = c._crypt_block(blk, rks, inverse=False)
                e += prev
            k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[
                sum(e[:16]) % 3
            ](e).digest()
            rnd += 1
            if rnd >= 64 and e[-1] <= rnd - 32:
                return k[:32]

    cases = [
        (b"", b"salt0001", b""),
        (b"pw", b"abcdefgh", b"u" * 48),
        (b"", b"zzzzzzzz", b"x" * 48),
        (b"long-password-beyond-one-block!", b"12345678", b""),
    ]
    for pw, salt, ud in cases:
        assert c.hash_2b(pw, salt, ud) == ref_2b(pw, salt, ud), (pw, salt)
    # R5 is the single first step
    assert c.hash_2b(b"", b"salt0001", b"", r=5) == hashlib.sha256(
        b"" + b"salt0001"
    ).digest()


def test_v5_custom_crypt_filter_name_refuses():
    """r4 review: a V5 document whose StmF/StrF names a custom crypt
    filter must surface 'encrypted', not decrypt through the AESV3 key."""
    good = FIXTURES["encrypted_aes_256"]()
    # same-length name so classic-xref byte offsets stay valid
    bad = good.replace(b"/StmF /StdCF", b"/StmF /MyCFx")
    assert bad != good
    with pytest.raises(PDFEncryptedError):
        extract_pdf_text(bad)


def test_winansi_c1_range_decodes_when_named():
    """Round 4 (pdfjs parity): an EXPLICIT /Encoding /WinAnsiEncoding
    maps the CP1252 0x80-0x9F range (smart quotes, dashes, €) instead of
    latin-1 C1 controls; the undefined codes keep latin-1 passthrough.
    Round 5 (Annex D, ADVICE r4): 0xA0 is /space and 0xAD /hyphen — the
    glyphs, not NBSP/soft-hyphen."""
    font = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding /WinAnsiEncoding >>"
    )
    s = (b"BT /F1 12 Tf 72 720 Td "
         b"(\x93q\x94 \x96 \x85 \x80 \x99 [\x81] a\xa0b c\xadd) Tj ET")
    text, _ = extract_pdf_text(build_pdf([s], font_obj=font))
    assert text == "“q” – … € ™ [\x81] a b c-d"


def test_macroman_encoding_decodes_when_named():
    font = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding /MacRomanEncoding >>"
    )
    # Annex D (PRE-euro Mac OS Roman, r4 review): 0xDB is /currency ¤
    # (not €), 0xCA /space, 0xF0 undefined → latin-1 ð passthrough
    s = b"BT /F1 12 Tf 72 720 Td (caf\x8e \xa5 \xd0 \xc7 \xdb[\xca]\xf0) Tj ET"
    text, _ = extract_pdf_text(build_pdf([s], font_obj=font))
    assert text == "café • – « ¤[ ]\xf0"


def test_standard_encoding_decodes_when_named():
    """r6: named /StandardEncoding (not a legal Table-114 value, but
    old TeX-era writers emit it; pdfjs accepts) decodes the Annex D
    Standard column — 0x27 quoteright, 0x60 quoteleft, 0xA4 fraction,
    0xE1 AE; undefined codes keep latin-1 passthrough (0xD7 here)."""
    for font in (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Times-Roman "
        b"/Encoding /StandardEncoding >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Times-Roman "
        b"/Encoding << /Type /Encoding /BaseEncoding /StandardEncoding >> >>",
    ):
        s = b"BT /F1 12 Tf 72 720 Td (Hi' \x60 \xa4\xe1W [\xd7]) Tj ET"
        text, _ = extract_pdf_text(build_pdf([s], font_obj=font))
        assert text == "Hi’ ‘ ⁄ÆW [\xd7]"


def test_unnamed_encoding_keeps_pinned_latin1():
    """The golden contract: NO /Encoding entry → latin-1 passthrough,
    byte-for-byte as before round 4."""
    font = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    s = b"BT /F1 12 Tf 72 720 Td (\x93raw\x94) Tj ET"
    text, _ = extract_pdf_text(build_pdf([s], font_obj=font))
    assert text == "\x93raw\x94"


def test_differences_and_tounicode_override_named_base():
    """Precedence on one font: ToUnicode > Differences > named base
    (WinAnsi) > latin-1 — all four layers visible at once."""
    cmap = (
        b"/CIDInit /ProcSet findresource begin 1 begincmap\n"
        b"1 begincodespacerange <00> <FF> endcodespacerange\n"
        b"1 beginbfchar <93> <0041> endbfchar\n"
        b"endcmap\nend end"
    )
    tu_obj = b"<< /Length %d >>\nstream\n" % len(cmap) + cmap + b"\nendstream"
    font = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding << /BaseEncoding /WinAnsiEncoding "
        b"/Differences [148 /bullet] >> /ToUnicode 6 0 R >>"
    )
    s = b"BT /F1 12 Tf 72 720 Td (\x93\x94\x96\xe9) Tj ET"
    text, _ = extract_pdf_text(build_pdf([s], font_obj=font, extra_objects=(tu_obj,)))
    # 93: ToUnicode -> A; 94: Differences -> bullet; 96: base WinAnsi ->
    # en-dash; e9: latin-1 é (base == latin-1 there)
    assert text == "A•–é"


def test_v4_custom_crypt_filter_name_refuses():
    """r4 review follow-up: the V4 branch gets the same refusal as V5 —
    a custom StmF/StrF name surfaces 'encrypted', never StdCF-method
    decryption into mojibake."""
    good = FIXTURES["encrypted_aes_128"]()
    bad = good.replace(b"/StmF /StdCF", b"/StmF /MyCFx")
    assert bad != good
    with pytest.raises(PDFEncryptedError):
        extract_pdf_text(bad)


def test_incremental_update_reconstruction_newest_root_wins():
    """r6 (ADVICE low): an incrementally-updated xref-stream file has
    two /Type /XRef dicts; reconstruction must harvest trailer keys from
    the one latest in the FILE (byte offset), not the lowest object
    number — else a stale /Root (or /Encrypt) is resurrected. The
    normal load path and the reconstruction path must agree."""
    from tools.make_pdf import damaged_pdf, incremental_update_xref_stream_pdf

    good = incremental_update_xref_stream_pdf()
    expect = ("new revision text", 1)
    assert extract_pdf_text(good) == expect            # normal load
    assert extract_pdf_text(damaged_pdf(good, "bad_startxref")) == expect


def test_type3_font_decodes_via_differences():
    """r6: /Type3 glyph-proc fonts carry a REQUIRED /Encoding
    /Differences vector (ISO 32000-1 §9.6.5) and must decode through
    the ordinary simple-font path — extraction never renders the
    CharProcs content streams."""
    from tools.make_pdf import type3_pdf

    assert extract_pdf_text(type3_pdf()) == ("Type 3", 1)


def test_legacy_cmap_with_tounicode_still_uses_codec():
    """'Predefined legacy CMap + /ToUnicode' (the common CJK writer
    shape): the codespace is VARIABLE-width, so the fixed 2-byte wide
    map mis-paired 1-byte ASCII codes (<48 69> read as code 0x4869) and
    a perfectly good document extracted U+FFFDs. The codec path must
    win even when a ToUnicode is present (r6 review)."""
    from tools.make_pdf import predefined_cmap_pdf

    text, n = extract_pdf_text(
        predefined_cmap_pdf(
            encoding="GBK-EUC-H", show_hex=b"486920C4E3", tounicode=True
        )
    )
    assert (text, n) == ("Hi 你", 1)
    # and the Unicode-coded fixed-width family keeps honoring ToUnicode
    text2, _ = extract_pdf_text(
        predefined_cmap_pdf(
            encoding="UniGB-UCS2-H", show_hex=b"00480069", tounicode=True
        )
    )
    assert text2 == "Hi"


def test_unicode_cmap_partial_tounicode_merges():
    """Uni*-UCS2 + a PARTIAL /ToUnicode: mapped codes honor the
    ToUnicode, every other code decodes as the Unicode value it is —
    the old wide-map-only path sent unmapped codes to U+FFFD although
    the encoding itself says what they mean (pdfjs merges both)."""
    from tools.make_pdf import predefined_cmap_pdf

    text, n = extract_pdf_text(
        predefined_cmap_pdf(
            encoding="UniGB-UCS2-H",
            show_hex=b"004800694F60597D",  # H, i via ToUnicode; 你好 unmapped
            tounicode=True,
        )
    )
    assert (text, n) == ("Hi你好", 1)
    # lone surrogate halves stay replacement chars, never a crash
    text2, _ = extract_pdf_text(
        predefined_cmap_pdf(
            encoding="UniGB-UCS2-H", show_hex=b"D800", tounicode=True
        )
    )
    assert text2 == "�"


def test_uniwidemap_empty_mapping_and_nul_degrade():
    """Explicitly-blanked ToUnicode values stay blank under the Uni*
    fallback (the `or` would resurrect the code point), and CID 0x0000
    degrades to U+FFFD instead of injecting a raw NUL into the golden/
    oracle text surface (r6 review)."""
    from tools.make_pdf import build_pdf

    # <0041> <41>: a 2-hex-digit UTF-16BE value trims to the empty
    # string in _parse_tounicode — the sloppy-writer shape that yields
    # an explicit EMPTY mapping
    cmap = (
        b"/CIDInit /ProcSet findresource begin\nbegincmap\n"
        b"1 beginbfchar\n<0041> <41>\nendbfchar\nendcmap\nend"
    )
    font = (
        b"<< /Type /Font /Subtype /Type0 /BaseFont /STSong-Light "
        b"/Encoding /UniGB-UCS2-H /ToUnicode 6 0 R /DescendantFonts "
        b"[<< /Type /Font /Subtype /CIDFontType0 /BaseFont /STSong-Light "
        b"/CIDSystemInfo << /Registry (Adobe) /Ordering (GB1) "
        b"/Supplement 2 >> >>] >>"
    )
    pdf = build_pdf(
        [b"BT /F1 12 Tf 72 720 Td <004100420000> Tj ET"],
        font_obj=font,
        extra_objects=(
            b"<< /Length %d >>\nstream\n" % len(cmap) + cmap + b"\nendstream",
        ),
    )
    text, n = extract_pdf_text(pdf)
    assert (text, n) == ("B�", 1)  # 0x41 blanked, 0x42 fallback, NUL → �


def test_aes256_fips197_c3_vectors_and_fast_equals_reference():
    """r6 review: the suite pinned only the AES-128 C.1 vector, so a
    regression in the Nk=8 key-schedule branch would cancel out in
    writer-encrypt/reader-decrypt round trips and every real AESV3 PDF
    would silently land in 'encrypted'. Pins FIPS-197 appendix C.3 both
    directions on the public (fast) API, and fast == reference for BOTH
    directions on BOTH key sizes over a spread of blocks."""
    from pdf_to_text_spark.kernels import crypto as c

    key256 = bytes.fromhex(
        "000102030405060708090a0b0c0d0e0f101112131415161718191a1b1c1d1e1f"
    )
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct = bytes.fromhex("8ea2b7ca516745bfeafc49904b496089")
    assert c.aes_encrypt_block(key256, pt) == ct
    assert c.aes_decrypt_block(key256, ct) == pt
    for key in (key256[:16], key256):
        rks = c._expand_key(key)
        for n in range(8):
            blk = bytes((n * 31 + j * 7 + len(key)) % 256 for j in range(16))
            enc_fast = c.aes_encrypt_block(key, blk)
            assert enc_fast == c._crypt_block(blk, rks, inverse=False)
            assert c.aes_decrypt_block(key, enc_fast) == c._crypt_block(
                enc_fast, rks, inverse=True
            )
            assert c.aes_decrypt_block(key, enc_fast) == blk


def test_rc4_empty_key_raises_value_error():
    """r6 review: an empty key used to ZeroDivisionError out of the
    module's ValueError->PDFParseError contract."""
    from pdf_to_text_spark.kernels.crypto import rc4

    with pytest.raises(ValueError, match="empty key"):
        rc4(b"", b"data")


def test_hash_2b_cache_is_lru_not_fifo():
    """r6 review: the memo cache evicted by insertion age even for
    constantly-hit entries; a hit must refresh recency."""
    from pdf_to_text_spark.kernels import crypto as c

    c._HASH2B_CACHE.clear()
    hot = c.hash_2b(b"hot", b"saltsalt", b"", 5)  # r=5: cheap one-shot
    for n in range(255):
        c.hash_2b(b"cold%d" % n, b"saltsalt", b"", 5)
        assert c.hash_2b(b"hot", b"saltsalt", b"", 5) == hot  # keep hot
    # cache is at capacity; one more insert must evict a COLD entry
    hot_key = next(
        k for k, v in c._HASH2B_CACHE.items() if v == hot
    )
    c.hash_2b(b"overflow", b"saltsalt", b"", 5)
    assert hot_key in c._HASH2B_CACHE
    c._HASH2B_CACHE.clear()


# ── content-stream fast paths: fused text line, charmap decode ──────────────

_NUMS = [b"0", b"-0", b"-0.0", b".5", b"3.", b"+2", b"-14", b"12", b"-1.5", b"72"]
_OPS = [b"Td", b"TD", b"T*", b"Tj", b"TJ", b"'", b'"', b"BT", b"ET", b"/F1 12 Tf"]
_STRS = [
    b"(a)", b"()", b"(a b)", b"(\\()", b"(\\))", b"(\\\\)", b"(\\101\\7x)",
    b"(a\\\nb)", b"(a\\\r\nb)", b"(x(y)z)", b"(\\n\\t)",
]
_OTHER = [b"<41 42>", b"<4>", b"[", b"]", b"[(a) -20 (b)]"]
_WS = [b" ", b"\n", b"\r\n", b"\t", b"  ", b"\x0c", b"\r"]
# a token boundary that needs no whitespace: a delimiter on either side
_OPENS, _CLOSES = b"(<[]/", b")>]["


def _with_comments(tokens: list[bytes], seps: list[bytes]) -> bytes:
    """The same stream with `%c\\n` after every token: the tokenizer folds
    comments into whitespace, but the fused line match allows whitespace
    only, so this stream takes the per-token branches."""
    return b"".join(t + b"%c\n" + s for t, s in zip(tokens, seps))


def _stream(tokens: list[bytes], seps: list[bytes]) -> bytes:
    return b"".join(t + s for t, s in zip(tokens, seps))


@st.composite
def _token_streams(draw):
    tokens = draw(st.lists(
        st.sampled_from(_NUMS + _OPS + _STRS + _OTHER)
        | st.sampled_from([b"0 -14 Td", b"0 -14 Td (line) Tj"]),
        max_size=40,
    ))
    seps = []
    for i, t in enumerate(tokens):
        nxt = tokens[i + 1] if i + 1 < len(tokens) else b""
        glue_ok = t[-1:] in (b")", b">", b"]", b"[") or nxt[:1] in (
            b"(", b"<", b"[", b"]", b"/")
        seps.append(draw(st.sampled_from(_WS + ([b""] if glue_ok else []))))
    return tokens, seps


@settings(max_examples=400, deadline=2000)
@given(_token_streams())
def test_fused_line_match_is_token_equivalent(ts):
    tokens, seps = ts
    assert _pdf._extract_page_text(_stream(tokens, seps)) == (
        _pdf._extract_page_text(_with_comments(tokens, seps))
    )


@pytest.mark.parametrize("stream, want", [
    (b"BT (a) Tj 0 -14 Td(x)Tj ET", "a\nx"),
    (b"BT (a) Tj 0 -14 Td (x) Tjx ET", "a"),
    (b"BT (a) Tj 0 -14 TdX (x) Tj ET", "ax"),
    (b"BT (a) Tj 0 -14 Td", "a"),
    (b"BT (a) Tj 0 -14 Td (x) Tj", "a\nx"),
    (b"BT (a) Tj [ 0 -14 Td (x) Tj ] TJ ET", "a\nx"),
    (b"BT (a) Tj [ 0 -14 Td (x) Tj (y) TJ ET", "a\nx"),  # Td closed the [
    (b"BT (a) Tj 0 -0.0 Td (x) Tj 0 -0 Td (y) Tj ET", "axy"),
    (b"BT (a) Tj 0 -.5 Td (\\(x\\)\\101) Tj ET", "a\n(x)A"),
    (b"BT (a) Tj 1 0 Td (x)\nTj ET", "ax"),
])
def test_fused_line_fixed_cases(stream, want):
    tokens = stream.split(b" ")
    assert _pdf._extract_page_text(stream) == want
    assert _pdf._extract_page_text(
        _with_comments(tokens, [b" "] * len(tokens))
    ) == want


def test_fused_line_under_unsupported_cmap_raises():
    fonts = {"F1": _pdf._UnsupportedCMap("Hojo-EUC-H")}
    with pytest.raises(_pdf.PDFUnsupportedCMapError):
        _pdf._extract_page_text(b"BT /F1 12 Tf 0 -14 Td (x) Tj ET", fonts)


def test_fused_line_is_one_match_per_shown_line(monkeypatch):
    """A 100-line `0 -14 Td (…) Tj` page takes one tokenizer match per
    shown line, not one per token (~500)."""
    from tools.make_pdf import content_stream_for_lines

    calls = []
    real = _pdf._CTOK_RE

    class Counting:
        def match(self, s, pos):
            calls.append(pos)
            return real.match(s, pos)

    page = content_stream_for_lines([f"line {i} (x)" for i in range(100)])
    want = "\n".join(f"line {i} (x)" for i in range(100))
    monkeypatch.setattr(_pdf, "_CTOK_RE", Counting())
    assert _pdf._extract_page_text(page) == want
    assert len(calls) <= 110


@pytest.mark.parametrize("name", [
    "WinAnsiEncoding", "MacRomanEncoding", "StandardEncoding", "Symbol",
    "ZapfDingbats",
])
def test_base_encoding_charmap_decode_equals_translate(name):
    tr = _pdf._base_encoding_trans(name)
    codes = bytes(range(256))
    want = codes.decode("latin-1").translate(tr.table)
    # Symbol blanks its extender codes to '': no one-char-per-code table
    assert (tr.chars is None) == (name == "Symbol")
    if tr.chars is not None:
        assert codecs.charmap_decode(codes, None, tr.chars)[0] == want
    shown = b"BT /F1 1 Tf <" + codes.hex().encode() + b"> Tj ET"
    assert _pdf._extract_page_text(shown, {"F1": tr}) == want


# ── object lexer: outputs pinned from the per-byte lexer it replaced ─────────

def _plain(obj):
    if isinstance(obj, _pdf._Ref):
        return ("R", obj.num, obj.gen)
    if isinstance(obj, _pdf._Name):
        return ("/", str(obj))
    if isinstance(obj, dict):
        return {k: _plain(v) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_plain(v) for v in obj]
    return obj


@pytest.mark.parametrize("data, name, pos", [
    (b"/A#41", "AA", 5),
    (b"/A#4", "A#4", 4),
    (b"/A#zz", "A#zz", 5),
    (b"/A#", "A#", 3),
    (b"/A#1 ", "A\x01", 5),  # the '#xx' slice takes in the trailing space
    (b"/A#1 /B", "A\x01", 5),
    (b"/A#4 1", "A\x041", 6),
    (b"/A#-1 ", "A#-1", 5),
    (b"/#20x", " x", 5),
    (b"/Plain(", "Plain", 6),
])
def test_lexer_parse_name_parity(data, name, pos):
    lx = _pdf._Lexer(data)
    got = lx._parse_name()
    assert (type(got), got, lx.pos) == (_pdf._Name, name, pos)


@pytest.mark.parametrize("data, obj, pos", [
    (b"<</A 1 %c\n/B [1 %c\n 2]>>", {"A": 1, "B": [1, 2]}, 24),
    (b"[1 %comment ] 2\n 3 %x\r 4]", [1, 3, 4], 25),
    (b"[/A%x\n/B]", [("/", "A"), ("/", "B")], 9),
    (b"<< /A 1 >> %tail", {"A": 1}, 10),
    (b"12 %c", 12, 2),
    (b"12 0 %c", 12, 2),
    (b"true%x", True, 4),
    (b"1 %g\n0 %r\nR", ("R", 1, 0), 11),
    (b"1%g\n0%r\nR ", ("R", 1, 0), 9),
    (b"5 0 %x\nR]", ("R", 5, 0), 8),
    (b"[5 %a\n 0 %b\n R 7]", [("R", 5, 0), 7], 17),
    (b"<</P 3 0 %c\nR>>", {"P": ("R", 3, 0)}, 15),
    (b"7 %c\n8 %c\nobj", 7, 1),
])
def test_lexer_comments_and_refs_parity(data, obj, pos):
    lx = _pdf._Lexer(data)
    assert (_plain(lx.parse_object()), lx.pos) == (obj, pos)


@pytest.mark.parametrize("data, msg, pos", [
    (b"[1 2 %c", "unterminated array", 7),
    (b"%only", "unexpected EOF while parsing object", 5),
    (b"<</K %a\r\n/V%b\n(s)>>", "dict key is not a name at 17", 17),
])
def test_lexer_comment_at_eof_parity(data, msg, pos):
    lx = _pdf._Lexer(data)
    with pytest.raises(PDFParseError, match=msg):
        lx.parse_object()
    assert lx.pos == pos


def test_lexer_tokens_and_past_end_cursor_parity():
    lx = _pdf._Lexer(b"abc", 5)
    lx._skip_ws()
    assert lx.pos == 5  # a past-the-end cursor is left where it is
    lx = _pdf._Lexer(b"  %c\n foo bar")
    assert (lx.read_token(), lx.pos) == (b"foo", 9)
    for data, msg, pos in [(b"%c", "unexpected EOF", 2),
                           (b"  ", "unexpected EOF", 2),
                           (b"  /x", "unexpected delimiter at 2", 2)]:
        lx = _pdf._Lexer(data)
        with pytest.raises(PDFParseError, match=msg):
            lx.read_token()
        assert lx.pos == pos
