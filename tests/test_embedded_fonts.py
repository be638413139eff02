"""Round 6: embedded font-program fallback (kernels/fonts.py).

The divergence class this closes (VERDICT r5 "what's missing" #1): a
simple font with NEITHER /ToUnicode nor a named/predefined encoding —
pdfjs falls back to the embedded program's `cmap`/charstring names
(reference main.ts:149 via pdfjs-dist); we pinned latin-1 and emitted
silent mojibake. Decode priority under test:
ToUnicode > /Differences > named base > font program > latin-1.
"""

from __future__ import annotations

import struct
import zlib

import pytest

from pdf_to_text_spark.kernels.fonts import (
    CFF_STANDARD_STRINGS,
    MAC_GLYPH_ORDER,
    embedded_font_code_to_unicode,
)
from pdf_to_text_spark.kernels.pdf import _glyph_to_char, extract_pdf_text
from tools.make_pdf import (
    _EMBEDDED_CODES,
    _EMBEDDED_NAMES,
    build_cff_font_program,
    build_pdf,
    build_truetype_font_program,
    embedded_font_pdf,
)

EXPECT = "Hello ΔW"


# ── end-to-end through the PDF kernel ────────────────────────────────────────


@pytest.mark.parametrize(
    "kind", ["truetype", "truetype_symbol", "truetype_f12", "cff"]
)
def test_embedded_font_extracts_real_text(kind):
    assert extract_pdf_text(embedded_font_pdf(kind)) == (EXPECT, 1)


@pytest.mark.parametrize("kind", ["cff_std", "type1_std"])
def test_predefined_standard_encoding_extracts_real_text(kind):
    """r6: predefined StandardEncoding fonts decode through the spec
    table — quoteright (0x27) and AE (0xE1) prove it is NOT latin-1."""
    assert extract_pdf_text(embedded_font_pdf(kind)) == ("Hello’ ÆW", 1)


def _pdf_with_font(font_obj: bytes, extra=()):
    prog = build_truetype_font_program(_EMBEDDED_NAMES, uni_map={0x0394: 6})
    descriptor = (
        b"<< /Type /FontDescriptor /FontName /SUBSET+Custom /Flags 4 "
        b"/FontFile2 7 0 R >>"
    )
    fontfile = (
        b"<< /Length %d /Length1 %d >>\nstream\n" % (len(prog), len(prog))
        + prog + b"\nendstream"
    )
    content = b"BT /F1 12 Tf 72 720 Td (" + _EMBEDDED_CODES + b") Tj ET"
    return build_pdf(
        [content], font_obj=font_obj,
        extra_objects=(descriptor, fontfile) + tuple(extra),
    )


def test_named_base_encoding_shadows_font_program():
    """Priority: a NAMED base encoding covers all 256 codes, so the
    font-program layer never shows through (pdfjs-shaped chain)."""
    pdf = _pdf_with_font(
        b"<< /Type /Font /Subtype /TrueType /BaseFont /SUBSET+Custom "
        b"/Encoding /WinAnsiEncoding /FontDescriptor 6 0 R >>"
    )
    text, _ = extract_pdf_text(pdf)
    assert text != EXPECT  # codes 1-7 are WinAnsi control bytes


def test_differences_override_font_program_per_code():
    pdf = _pdf_with_font(
        b"<< /Type /Font /Subtype /TrueType /BaseFont /SUBSET+Custom "
        b"/Encoding << /Differences [1 /A] >> /FontDescriptor 6 0 R >>"
    )
    assert extract_pdf_text(pdf) == ("Aello ΔW", 1)


def test_tounicode_wins_over_font_program():
    cmap = (
        b"/CIDInit /ProcSet findresource begin 1 begincmap\n"
        b"1 beginbfchar <01> <0058> endbfchar\nendcmap end"
    )
    tu = b"<< /Length %d >>\nstream\n" % len(cmap) + cmap + b"\nendstream"
    pdf = _pdf_with_font(
        b"<< /Type /Font /Subtype /TrueType /BaseFont /SUBSET+Custom "
        b"/ToUnicode 8 0 R /FontDescriptor 6 0 R >>",
        extra=(tu,),
    )
    assert extract_pdf_text(pdf) == ("Xello ΔW", 1)


def test_unparseable_font_program_keeps_latin1_contract():
    """Fail-soft: junk program bytes → pre-round-6 behavior (latin-1),
    never an exception, never a parse_failed row."""
    descriptor = (
        b"<< /Type /FontDescriptor /FontName /SUBSET+Custom /Flags 4 "
        b"/FontFile2 7 0 R >>"
    )
    junk = zlib.compress(b"not a font at all")
    fontfile = (
        b"<< /Filter /FlateDecode /Length %d >>\nstream\n" % len(junk)
        + junk + b"\nendstream"
    )
    content = b"BT /F1 12 Tf 72 720 Td (AB) Tj ET"
    pdf = build_pdf(
        [content],
        font_obj=(
            b"<< /Type /Font /Subtype /TrueType /BaseFont /SUBSET+Custom "
            b"/FontDescriptor 6 0 R >>"
        ),
        extra_objects=(descriptor, fontfile),
    )
    assert extract_pdf_text(pdf) == ("AB", 1)


# ── parser unit surface ──────────────────────────────────────────────────────


def test_tables_are_well_formed():
    assert len(MAC_GLYPH_ORDER) == 258 and MAC_GLYPH_ORDER[3] == "space"
    assert len(CFF_STANDARD_STRINGS) == 391
    assert CFF_STANDARD_STRINGS[1] == "space"
    assert CFF_STANDARD_STRINGS[390] == "Semibold"


def test_garbage_and_truncation_return_none():
    for data in (b"", b"junk", b"\x00\x01\x00\x00", b"\x00\x01\x00\x00" + b"\xff" * 8,
                 b"OTTO" + b"\x00" * 100, bytes(range(256))):
        assert embedded_font_code_to_unicode(data, _glyph_to_char) is None


def test_truetype_roundtrip_with_nameless_glyph():
    prog = build_truetype_font_program(_EMBEDDED_NAMES, uni_map={0x0394: 6})
    m = embedded_font_code_to_unicode(prog, _glyph_to_char)
    assert m == {1: "H", 2: "e", 3: "l", 4: "o", 5: " ", 6: "Δ", 7: "W"}


def test_symbol_subtable_f000_addressing():
    prog = build_truetype_font_program(
        _EMBEDDED_NAMES, uni_map={0x0394: 6}, symbol=True
    )
    m = embedded_font_code_to_unicode(prog, _glyph_to_char)
    assert m and m[1] == "H" and m[6] == "Δ"


def test_format4_idrangeoffset_path():
    """Hand-built format 4 subtable exercising idRangeOffset != 0 (the
    glyphIdArray indirection the fixture builder never emits)."""
    # one segment [0x41..0x43] with roff pointing at a 3-entry array,
    # plus the terminal segment
    seg = 2
    end = struct.pack(">2H", 0x43, 0xFFFF)
    start = struct.pack(">2H", 0x41, 0xFFFF)
    delta = struct.pack(">2h", 5, 1)  # +5 applied AFTER array lookup
    # idRangeOffset[0] must reach past both entries to the array
    roff = struct.pack(">2H", 4, 0)
    garray = struct.pack(">3H", 10, 0, 12)  # code 0x42 unmapped (gid 0)
    body = end + b"\x00\x00" + start + delta + roff + garray
    sub = struct.pack(">HHHHHHH", 4, 14 + len(body), 0, seg * 2, 0, 0, 0) + body
    cmap = struct.pack(">HHHHI", 0, 1, 1, 0, 12) + sub
    post = struct.pack(">I", 0x00010000) + b"\x00" * 28
    sfnt = _manual_sfnt({b"cmap": cmap, b"post": post})
    m = embedded_font_code_to_unicode(sfnt, _glyph_to_char)
    # gid 15 = (10+5): mac order index 15 = comma; gid 17 = period
    assert MAC_GLYPH_ORDER[15] == "comma" and MAC_GLYPH_ORDER[17] == "period"
    assert m == {0x41: ",", 0x43: "."}


def test_format12_ucs4_only_font():
    """A (3,10)-only format-12 cmap (what modern subsetters emit when
    they skip the BMP table) must decode; gids past u16 are skipped,
    not masked."""
    groups = [
        (0x41, 0x43, 15),       # A..C → gids 15..17 (comma/hyphen/period)
        (0x10400, 0x10400, 6),  # supplementary-plane code: ignored at
        (0x44, 0x44, 0x10005),  # 8-bit decode; malformed u32 gid skipped
    ]
    body = b"".join(struct.pack(">III", s, e, g) for s, e, g in groups)
    sub = struct.pack(">HHIII", 12, 0, 16 + len(body), 0, len(groups)) + body
    cmap = struct.pack(">HHHHI", 0, 1, 3, 10, 12) + sub
    post = struct.pack(">I", 0x00010000) + b"\x00" * 28
    m = embedded_font_code_to_unicode(_manual_sfnt({b"cmap": cmap, b"post": post}),
                                      _glyph_to_char)
    assert MAC_GLYPH_ORDER[15] == "comma" and MAC_GLYPH_ORDER[17] == "period"
    assert m == {0x41: ",", 0x42: "-", 0x43: "."}


def test_format12_group_sprawl_is_capped():
    """A malformed group spanning the whole u32 space keeps the entries
    parsed so far instead of materializing 2^32 codes."""
    groups = [(0x41, 0x41, 15), (0x100, 0xFFFFFFF0, 1)]
    body = b"".join(struct.pack(">III", s, e, g) for s, e, g in groups)
    sub = struct.pack(">HHIII", 12, 0, 16 + len(body), 0, len(groups)) + body
    cmap = struct.pack(">HHHHI", 0, 1, 3, 10, 12) + sub
    post = struct.pack(">I", 0x00010000) + b"\x00" * 28
    m = embedded_font_code_to_unicode(_manual_sfnt({b"cmap": cmap, b"post": post}),
                                      _glyph_to_char)
    assert m == {0x41: ","}


def test_format12_beyond_unicode_group_cannot_void_the_map():
    """A malformed group above 0x10FFFF (a u32 field allows it) must not
    reach chr() later — that ValueError would void the WHOLE font map
    via the kernel's broad except. The valid groups must survive."""
    groups = [
        (0x41, 0x41, 15),
        (0x110000, 0x110001, 16),   # entirely beyond Unicode: dropped
        (0x10FFFE, 0x110002, 17),   # straddling: clamped to 0x10FFFF
    ]
    body = b"".join(struct.pack(">III", s, e, g) for s, e, g in groups)
    sub = struct.pack(">HHIII", 12, 0, 16 + len(body), 0, len(groups)) + body
    cmap = struct.pack(">HHHHI", 0, 1, 3, 10, 12) + sub
    post = struct.pack(">I", 0x00010000) + b"\x00" * 28
    m = embedded_font_code_to_unicode(_manual_sfnt({b"cmap": cmap, b"post": post}),
                                      _glyph_to_char)
    assert m == {0x41: ","}  # parsed, not latin-1 fallback


def test_format12_truncated_groups_keep_whole_prefix():
    """nGroups claiming more than the table holds → parse only the
    complete groups."""
    body = struct.pack(">III", 0x41, 0x41, 15) + b"\x00\x00"  # half a group
    sub = struct.pack(">HHIII", 12, 0, 16 + len(body), 0, 2) + body
    cmap = struct.pack(">HHHHI", 0, 1, 3, 10, 12) + sub
    post = struct.pack(">I", 0x00010000) + b"\x00" * 28
    m = embedded_font_code_to_unicode(_manual_sfnt({b"cmap": cmap, b"post": post}),
                                      _glyph_to_char)
    assert m == {0x41: ","}


def _manual_sfnt(tables):
    n = len(tables)
    out = bytearray(b"\x00\x01\x00\x00" + struct.pack(">HHHH", n, 0, 0, 0))
    off = 12 + 16 * n
    body = bytearray()
    for tag in sorted(tables):
        out += tag + struct.pack(">III", 0, off + len(body), len(tables[tag]))
        body += tables[tag]
    return bytes(out + body)


def test_post_v1_standard_mac_order():
    """post 1.0: gid i bears the i-th standard Macintosh glyph name."""
    cmap_sub = struct.pack(">HHHHH", 6, 14, 0, 0x20, 2) + struct.pack(">2H", 3, 4)
    cmap = struct.pack(">HHHHI", 0, 1, 1, 0, 12) + cmap_sub
    post = struct.pack(">I", 0x00010000) + b"\x00" * 28
    m = embedded_font_code_to_unicode(
        _manual_sfnt({b"cmap": cmap, b"post": post}), _glyph_to_char
    )
    assert m == {0x20: " ", 0x21: "!"}  # gid3=space, gid4=exclam


def test_cff_roundtrip_and_standard_sid():
    names = {c: (n if n else "uni0394") for c, n in _EMBEDDED_NAMES.items()}
    prog = build_cff_font_program(names, standard_sids={"space": 1})
    m = embedded_font_code_to_unicode(prog, _glyph_to_char)
    assert m == {1: "H", 2: "e", 3: "l", 4: "o", 5: " ", 6: "Δ", 7: "W"}


def test_cff_encoding_format1_ranges():
    names = {c: (n if n else "uni0394") for c, n in _EMBEDDED_NAMES.items()}
    prog = build_cff_font_program(
        names, standard_sids={"space": 1}, encoding_format=1
    )
    m = embedded_font_code_to_unicode(prog, _glyph_to_char)
    assert m == {1: "H", 2: "e", 3: "l", 4: "o", 5: " ", 6: "Δ", 7: "W"}


def _patch_cff_encoding_op(prog: bytes, value: int) -> bytes:
    """Rewrite the Top DICT's Encoding operand (op 16, int32 operand)."""
    out = bytearray(prog)
    top_start = None
    # locate the 18-byte top dict: 3×(1d xxxxxxxx op) for ops 15/16/17
    for j in range(len(out) - 18):
        if (out[j] == 0x1D and out[j + 5] == 15
                and out[j + 6] == 0x1D and out[j + 11] == 16
                and out[j + 12] == 0x1D and out[j + 17] == 17):
            top_start = j
            break
    assert top_start is not None
    out[top_start + 7 : top_start + 11] = struct.pack(">i", value)
    return bytes(out)


def test_cff_predefined_standard_encoding_restricted_to_charset():
    """Encoding op patched to 0 (predefined Standard, r6): the decode
    uses the spec's Standard table RESTRICTED to glyphs the charset
    carries — here only `space` has a standard SID, so exactly one code
    maps; the custom-SID glyphs (H, e, …) are unreachable through the
    predefined table and must not fabricate text."""
    names = {c: (n if n else "uni0394") for c, n in _EMBEDDED_NAMES.items()}
    prog = _patch_cff_encoding_op(
        build_cff_font_program(names, standard_sids={"space": 1}), 0
    )
    assert embedded_font_code_to_unicode(prog, _glyph_to_char) == {0x20: " "}


def test_cff_predefined_expert_encoding_is_out_of_scope():
    """Expert (offset 1) stays the documented cut: small-caps/oldstyle
    specialist names have no single-codepoint Unicode meaning."""
    names = {c: (n if n else "uni0394") for c, n in _EMBEDDED_NAMES.items()}
    prog = _patch_cff_encoding_op(
        build_cff_font_program(names, standard_sids={"space": 1}), 1
    )
    assert embedded_font_code_to_unicode(prog, _glyph_to_char) is None


def test_cff_predefined_standard_full_subset():
    """The builder's predefined-standard mode (no Encoding op in the Top
    DICT) round-trips the r6 fixture glyph set, including a high code
    (0xE1 → AE) and a position where Standard diverges from latin-1
    (0x27 → quoteright, not apostrophe)."""
    from tools.make_pdf import _STD_EMBEDDED_NAMES, _STD_EMBEDDED_SIDS

    prog = build_cff_font_program(
        _STD_EMBEDDED_NAMES, predefined_standard=True,
        standard_sids=_STD_EMBEDDED_SIDS,
    )
    m = embedded_font_code_to_unicode(prog, _glyph_to_char)
    assert m == {
        ord("H"): "H", ord("e"): "e", ord("l"): "l", ord("o"): "o",
        0x27: "’", 0x20: " ", 0xE1: "Æ", ord("W"): "W",
    }


# ── symbolic Standard-14 built-in encodings (round 6, Annex D.5/D.6) ─────────


def _symbolic_pdf(base_font: bytes, codes: bytes, encoding: bytes = b"") -> bytes:
    return build_pdf(
        [b"BT /F1 12 Tf 72 720 Td (" + codes + b") Tj ET"],
        font_obj=(
            b"<< /Type /Font /Subtype /Type1 /BaseFont /" + base_font
            + b" " + encoding + b">>"
        ),
    )


def test_symbol_builtin_encoding():
    text, _ = extract_pdf_text(_symbolic_pdf(b"Symbol", b"abg \x44 \xce \xf2"))
    assert text == "αβγ Δ ∈ ∫"


def test_zapf_dingbats_builtin_encoding():
    text, _ = extract_pdf_text(
        _symbolic_pdf(b"ZapfDingbats", b"3 % \xac \xc0 \xca \xd8")
    )
    assert text == "✓ ☎ ① ➀ ➊ ➘"


def test_symbol_subset_prefix_is_stripped():
    text, _ = extract_pdf_text(_symbolic_pdf(b"ABCDEF+Symbol", b"abg"))
    assert text == "αβγ"


def test_named_encoding_overrides_symbol_name():
    """/Encoding names win over the BaseFont-implied builtin table."""
    text, _ = extract_pdf_text(
        _symbolic_pdf(b"Symbol", b"abg", b"/Encoding /WinAnsiEncoding ")
    )
    assert text == "abg"


def test_embedded_program_beats_symbol_name_table():
    """A subsetted font merely NAMED Symbol decodes through its own
    embedded cmap, not the Adobe table (pdfjs parity)."""
    pdf = _pdf_with_font(
        b"<< /Type /Font /Subtype /TrueType /BaseFont /ABCDEF+Symbol "
        b"/FontDescriptor 6 0 R >>"
    )
    assert extract_pdf_text(pdf) == (EXPECT, 1)


# ── Type1 /FontFile cleartext encoding (round 6 follow-up) ───────────────────


@pytest.mark.parametrize("kind", ["type1", "type1_pfb"])
def test_type1_cleartext_encoding_extracts(kind):
    assert extract_pdf_text(embedded_font_pdf(kind)) == (EXPECT, 1)


def test_type1_standard_encoding_decodes_full_table():
    """``/Encoding StandardEncoding def`` (r6): the full 149-entry
    Standard table decodes (charstring names are eexec-encrypted, so no
    charset restriction is possible for Type1)."""
    from tools.make_pdf import build_type1_font_program

    prog = build_type1_font_program({}, standard=True)
    m = embedded_font_code_to_unicode(prog, _glyph_to_char)
    assert m is not None and len(m) == 149
    assert m[0x27] == "’" and m[0x60] == "‘"     # NOT latin-1 '/`
    assert m[ord("A")] == "A" and m[0xE1] == "Æ"
    assert m[174] == "ﬁ" and m[207] == "ˇ"       # r6 AGL additions
    # malformed PFB headers fail soft
    assert embedded_font_code_to_unicode(b"\x80\x01\xff\xff\xff\xff", _glyph_to_char) is None
    assert embedded_font_code_to_unicode(b"%!PS no encoding here", _glyph_to_char) is None


def test_type1_dup_lines_after_eexec_are_ignored():
    """Encoding entries must come from the CLEARTEXT section only —
    bytes after eexec are ciphertext and any 'dup N /x put' pattern in
    them is coincidental garbage."""
    from tools.make_pdf import build_type1_font_program

    prog = build_type1_font_program({65: "alpha"})
    poisoned = prog + b"\ndup 66 /Omega put\n"  # after eexec blob
    m = embedded_font_code_to_unicode(poisoned, _glyph_to_char)
    assert m == {65: "α"}


def test_zapf_dingbats_0xf0_is_undefined():
    """r6 review #3: position 0xF0 has no dingbat (U+27B0 is absent
    from the font) — it keeps latin-1 passthrough; its neighbors map."""
    from pdf_to_text_spark.kernels.pdf import _base_encoding_overrides

    t = _base_encoding_overrides("ZapfDingbats")
    assert 0xF0 not in t
    assert t[0xEF] == "➯" and t[0xF1] == "➱"


def test_complete_tounicode_never_parses_program(monkeypatch):
    """r6 review #5: the program parse is LAZY — a font whose ToUnicode
    covers every shown code must never decompress/parse the program."""
    import pdf_to_text_spark.kernels.pdf as P

    def boom(self, f):
        raise AssertionError("program parsed despite complete ToUnicode")

    cmap = (
        b"/CIDInit begincmap\n7 beginbfchar\n"
        + b"".join(b"<%02x> <%04x> \n" % (c, ord(u)) for c, u in
                   {1: "H", 2: "e", 3: "l", 4: "o", 5: " ", 6: "Δ",
                    7: "W"}.items())
        + b"endbfchar\nendcmap"
    )
    tu = b"<< /Length %d >>\nstream\n" % len(cmap) + cmap + b"\nendstream"
    pdf = _pdf_with_font(
        b"<< /Type /Font /Subtype /TrueType /BaseFont /SUBSET+Custom "
        b"/ToUnicode 8 0 R /FontDescriptor 6 0 R >>",
        extra=(tu,),
    )
    monkeypatch.setattr(P.PDFDocument, "_embedded_font_map", boom)
    assert P.extract_pdf_text(pdf) == (EXPECT, 1)


def test_post_v1_nonbreakingspace_at_index_172():
    """Standard Mac glyph index 172 is 'nonbreakingspace' (U+00A0), not a
    second 'space' — the table used to carry the duplicate and nbsp
    glyphs silently decoded as U+0020 (r6 review)."""
    assert MAC_GLYPH_ORDER.count("space") == 1
    cmap_sub = struct.pack(">HHHHH", 6, 12, 0, 0xA0, 1) + struct.pack(">H", 172)
    cmap = struct.pack(">HHHHI", 0, 1, 1, 0, 12) + cmap_sub
    post = struct.pack(">I", 0x00010000) + b"\x00" * 28
    m = embedded_font_code_to_unicode(
        _manual_sfnt({b"cmap": cmap, b"post": post}), _glyph_to_char
    )
    assert m == {0xA0: "\xa0"}


def test_cid_keyed_cff_fails_soft_to_latin1():
    """A CID-keyed CFF (Top DICT carries ROS, op 12 30) maps gid→CID in
    its charset, not gid→SID; an identity-ordered subset flowing through
    the predefined-Standard path reads CIDs as SIDs and fabricates ASCII
    (r6 review). The parser must return None — latin-1 pin, no invention."""
    from tools.make_pdf import _cff_index_bytes

    n_glyphs = 8
    charstrings = _cff_index_bytes([b"\x0e"] * n_glyphs)
    # charset format 0: gid i → CID i (identity-ordered subset: every CID
    # collides with a low Standard-Encoding SID)
    charset = bytes([0]) + b"".join(
        struct.pack(">H", i) for i in range(1, n_glyphs)
    )

    def top_dict(charset_off: int, cs_off: int) -> bytes:
        d = b""
        for v in (391, 392, 0):  # ROS operands: registry, ordering, supplement
            d += b"\x1d" + struct.pack(">i", v)
        d += bytes([12, 30])
        d += b"\x1d" + struct.pack(">i", charset_off) + bytes([15])
        d += b"\x1d" + struct.pack(">i", cs_off) + bytes([17])
        return d  # NO Encoding op: enc_off defaults 0 (predefined Standard)

    header = bytes([1, 0, 4, 4])
    name_idx = _cff_index_bytes([b"CID+Font"])
    str_idx = _cff_index_bytes([b"Adobe", b"Identity"])
    fixed = (
        len(header) + len(name_idx)
        + len(_cff_index_bytes([top_dict(0, 0)])) + len(str_idx)
    )
    prog = (
        header + name_idx
        + _cff_index_bytes([top_dict(fixed, fixed + len(charset))])
        + str_idx + charset + charstrings
    )
    assert embedded_font_code_to_unicode(prog, _glyph_to_char) is None


def test_zapf_dingbats_unification_exceptions():
    """The six Dingbats-block holes beyond the classic three: Unicode
    unified ★●■▲▼◆ outside U+2700-27BF, so sequential mapping emitted
    the emoji that later reused the holes (r6 review)."""
    text, _ = extract_pdf_text(
        _symbolic_pdf(b"ZapfDingbats", b"\x48\x6c\x6e\x73\x74\x75")
    )
    assert text == "★●■▲▼◆"


def test_symbol_extender_codes_are_dropped_not_latin1():
    """Bracket/integral extender pieces carry no text content: they must
    decode to EMPTY, not latin-1 'æ'/'÷' fabrications (r6 review) — on
    BOTH decode paths (C-level translate and the per-char dict used
    when /Differences is present, whose `or`-fallback silently
    resurrected latin-1 for empty strings)."""
    text, _ = extract_pdf_text(_symbolic_pdf(b"Symbol", b"a\xe6\xf4\xfeb"))
    assert text == "αβ"
    text2, _ = extract_pdf_text(
        _symbolic_pdf(
            b"Symbol", b"\x41\xe6\xf7",
            b"/Encoding << /Differences [65 /Delta] >> ",
        )
    )
    assert text2 == "Δ"


def test_type1_standard_copy_then_override():
    """'/Encoding StandardEncoding 256 array copy def' + 'dup N /name
    put' (TeX/dvips writer pattern): the dup overrides must patch the
    Standard base — the early return used to skip them, so code 65
    extracted 'A' instead of the shown 'α' (r6 review). A dup to an
    unresolvable glyph name clears the slot rather than keeping the
    Standard character."""
    data = (
        b"%!PS-AdobeFont-1.0: Custom\n"
        b"/Encoding StandardEncoding 256 array copy def\n"
        b"dup 65 /alpha put\n"
        b"dup 66 /noSuchGlyphXYZ put\n"
        b"readonly def\n"
        b"eexec\n\x00\x00\x00\x00"
    )
    m = embedded_font_code_to_unicode(data, _glyph_to_char)
    assert m[65] == "α"
    assert 66 not in m
    assert m[0x63] == "c"  # untouched Standard slots survive


def test_dangling_font_refs_fail_soft_to_latin1():
    """Optional probe refs a broken writer left dangling must degrade to
    the latin-1 fallback, not fail documents that extracted fine before
    the round-6 font-program path (r6 review)."""
    show = b"BT /F1 12 Tf 72 720 Td (Hi) Tj ET"
    pdf1 = build_pdf(
        [show],
        font_obj=(
            b"<< /Type /Font /Subtype /TrueType /BaseFont /S+C "
            b"/FontDescriptor 99 0 R >>"
        ),
    )
    assert extract_pdf_text(pdf1) == ("Hi", 1)
    pdf2 = build_pdf(
        [show],
        font_obj=(
            b"<< /Type /Font /Subtype /TrueType /BaseFont /S+C "
            b"/FontDescriptor 6 0 R >>"
        ),
        extra_objects=(
            b"<< /Type /FontDescriptor /FontName /S+C /Flags 4 "
            b"/FontFile2 99 0 R >>",
        ),
    )
    assert extract_pdf_text(pdf2) == ("Hi", 1)


def test_zapf_dingbats_tenth_hole_and_symbol_brace_extenders():
    """Third-pass sweep of the unification/extender classes: code 0x77
    is the tenth Dingbats-block hole (U+25D7 right half black circle,
    hole U+2757), and Symbol's arrowvertex/arrowhorizex/braceex
    (0xBD/0xBE/0xEF) are extender artwork like the paren/bracket
    pieces (r6 review)."""
    text, _ = extract_pdf_text(_symbolic_pdf(b"ZapfDingbats", b"\x77"))
    assert text == "◗"
    text2, _ = extract_pdf_text(
        _symbolic_pdf(b"Symbol", b"a\xbd\xbe\xefb")
    )
    assert text2 == "αβ"


def test_type1_fontfile_length_split_is_consistent():
    """/Length1+/Length2+/Length3 must partition the stream: Length2 is
    the encrypted blob ONLY, Length3 covers the 512-zero trailer —
    claiming Length3=0 misdescribed the trailer as ciphertext (r6
    review)."""
    import re

    from tools.make_pdf import embedded_font_pdf

    pdf = embedded_font_pdf("type1")
    m = re.search(
        rb"/Length (\d+) /Length1 (\d+) /Length2 (\d+) /Length3 (\d+)", pdf
    )
    assert m, "FontFile length keys missing"
    total, l1, l2, l3 = (int(g) for g in m.groups())
    assert l1 + l2 + l3 == total
    assert l3 > 512  # the 512 zeros + cleartomark really are the trailer
    assert pdf.count(b"/Length1") == 1  # no duplicate key
