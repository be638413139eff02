"""The PDF kernel's fast paths against frozen copies of the parsers they
short-cut.

Two fast paths, each falling back to the exact parser at the byte where
it stops matching:

  * the object layer takes a simple dictionary entry or array element
    (a name, an `N G R` ref, an int, a real, true/false/null or a plain
    literal) at one regex match (`_DICT_ENTRY_RE`, `_ARRAY_ELEM_RE`),
    and a classic xref row at one match (`_XREF_ROW_RE`);
  * the content loop takes the run of fused `tx ty Td (literal) Tj`
    lines after a fused line at one match (`_RUN_RE`), when every line
    in it flushes.

`FrozenLexer` and `frozen_page_text` are copies of the recursive object
parser and of the content loop from before the fast paths. Each
differential test compares values, end positions and exceptions, and
each one fails on a planted deviation. The shape guards pin how much of
the synthetic corpus and the golden PDFs the fast paths take, so a
grammar regression fails here, not only in the benchmark.
"""

from __future__ import annotations

import pathlib
import random
import re
import sys

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_to_text_spark.kernels import pdf as P
from pdf_to_text_spark.kernels.pdf import PDFParseError, _Name, _Ref, _Stream

GOLDEN = pathlib.Path(__file__).parent / "golden"

_WHITESPACE = b"\x00\t\n\x0c\r "
_DELIMS = b"()<>[]{}/%"
_WS_RUN = rb"(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)*+"
_REGULAR = rb"([^\x00\t\n\x0c\r ()<>\[\]{}/%]*+)"
_WS_RUN_RE = re.compile(_WS_RUN)
_TOKEN_RE = re.compile(_WS_RUN + _REGULAR)
_NAME_RE = re.compile(rb"/" + _REGULAR)


# ── frozen object parser ─────────────────────────────────────────────────────


class FrozenLexer:
    """kernels.pdf._Lexer's object parser as it was before the fast
    paths: one Python call per token."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos
        self.depth = 0

    def _skip_ws(self) -> None:
        if self.pos < len(self.data):
            self.pos = _WS_RUN_RE.match(self.data, self.pos).end()

    def expect_keyword(self, kw: bytes) -> None:
        self._skip_ws()
        if not self.data.startswith(kw, self.pos):
            raise PDFParseError(f"expected {kw!r} at offset {self.pos}")
        self.pos += len(kw)

    def read_token(self) -> bytes:
        d = self.data
        if self.pos < len(d):
            m = _TOKEN_RE.match(d, self.pos)
            self.pos, end = m.span(1)
            if end > self.pos:
                self.pos = end
                return m.group(1)
        if self.pos >= len(d):
            raise PDFParseError("unexpected EOF")
        raise PDFParseError(f"unexpected delimiter at {self.pos}: {d[self.pos:self.pos+1]!r}")

    def parse_object(self):
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
        if c == 0x3C:
            return self._parse_hex_string()
        if c == 0x28:
            return self._parse_literal_string()
        if c == 0x2F:
            return self._parse_name()
        if c == 0x5B:
            return self._parse_array()
        tok = self.read_token()
        if tok == b"true":
            return True
        if tok == b"false":
            return False
        if tok == b"null":
            return None
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
        self.pos += 1
        d, n = self.data, len(self.data)
        out = bytearray()
        while self.pos < n and d[self.pos] not in _WHITESPACE and d[self.pos] not in _DELIMS:
            if d[self.pos] == 0x23 and self.pos + 2 < n:
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
        self.pos += 1
        out = []
        while True:
            self._skip_ws()
            if self.pos >= len(self.data):
                raise PDFParseError("unterminated array")
            if self.data[self.pos] == 0x5D:
                self.pos += 1
                return out
            out.append(self.parse_object())

    def _parse_dict(self):
        self.pos += 2
        out: dict = {}
        while True:
            self._skip_ws()
            if self.data.startswith(b">>", self.pos):
                self.pos += 2
                break
            if self.pos >= len(self.data):
                raise PDFParseError("unterminated dict")
            key = self.parse_object()
            if not isinstance(key, _Name):
                raise PDFParseError(f"dict key is not a name at {self.pos}")
            out[str(key)] = self.parse_object()
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
                end = self.data.find(b"endstream", self.pos)
                if end < 0:
                    raise PDFParseError("unterminated stream")
                raw = self.data[self.pos : end]
                self.pos = end + len(b"endstream")
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
        self.pos += 1
        out = bytearray()
        depth = 1
        while self.pos < n:
            c = d[self.pos]
            if c == 0x5C:
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
                elif e in b"\r\n":
                    self.pos += 1
                    if e == 0x0D and self.pos < n and d[self.pos] == 0x0A:
                        self.pos += 1
                elif 0x30 <= e <= 0x37:
                    oct_digits = bytearray()
                    while len(oct_digits) < 3 and self.pos < n and 0x30 <= d[self.pos] <= 0x37:
                        oct_digits.append(d[self.pos])
                        self.pos += 1
                    out.append(int(oct_digits, 8) & 0xFF)
                else:
                    out.append(e)
                    self.pos += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                self.pos += 1
            elif c == 0x29:
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
        self.pos += 1
        digits = bytearray()
        while self.pos < n:
            c = d[self.pos]
            if c == 0x3E:
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


def _norm(v):
    """A comparable form of a parsed object: types are kept apart (a
    name is not a str, a ref not an int, True not 1), floats by repr."""
    if isinstance(v, _Name):
        return ("name", str(v))
    if isinstance(v, _Ref):
        return ("ref", v.num, v.gen)
    if isinstance(v, _Stream):
        return ("stream", _norm(v.dict), v.raw)
    if isinstance(v, dict):
        return ("dict", [(type(k).__name__, k, _norm(x)) for k, x in v.items()])
    if isinstance(v, list):
        return ("list", [_norm(x) for x in v])
    if isinstance(v, float):
        return ("float", repr(v))
    return (type(v).__name__, v)


def _outcome(lexer_cls, data: bytes, pos: int = 0, depth: int = 0):
    lx = lexer_cls(data, pos)
    lx.depth = depth
    try:
        return ("ok", _norm(lx.parse_object()), lx.pos)
    except PDFParseError as e:
        return ("raise", type(e).__name__, str(e))


def _assert_object_equivalent(data: bytes, pos: int = 0, depth: int = 0) -> None:
    assert _outcome(P._Lexer, data, pos, depth) == _outcome(FrozenLexer, data, pos, depth), data


# hand-written: each shape at the edge of the fast grammar, inside a dict
# and inside an array, with the value last so "end of buffer" is reached
_VALUES = [
    b"/Name", b"/", b"/A#20B", b"/F#31", b"/x#zz", b"/a#",
    b"5 0 R", b"5 +0 R", b"5 1_0 R", b"5 -1 R", b"5 00 R", b"-5 0 R",
    b"5 0 %c\nR", b"5 %c\n0 R", b"5\n0\rR", b"5 0", b"5 0 Rx", b"5 0R", b"5 0 R/X",
    b"5 0 obj", b"5 R", b"5 (x)", b"5 /N", b"5 [", b"5 0 [R]", b"5 0 <<",
    b"12", b"-3", b"+7", b"1_0", b"00", b"9" * 32, b"9" * 33, b"9" * 4400, b"5 " + b"9" * 4400 + b" R",
    b"-.5", b"1.", b".5", b"+1.5", b"-0.0", b"1.2.3", b"1e5", b"1.5e3", b".", b"-", b"+.",
    b"true", b"false", b"null", b"truex", b"nul", b"True",
    b"()", b"(abc)", b"(a b\r\nc)", b"(a(b)c)", b"(a\\)b)", b"(x\\n)", b"(\\053)", b"(unterminated",
    b"<>", b"<414>", b"<41 42>", b"<zz>",
    b"[1 2 3]", b"[5 0 R 6 0 R]", b"[/A/B/C]", b"[(a)(b)]", b"[1 0 R", b"<< /K 1 >>", b"<<>>",
]


def _object_cases():
    out = []
    for v in _VALUES:
        out += [b"<< /K " + v + b" >>", b"<< /K " + v, b"<< /K " + v + b" /L 1 >>",
                b"<</K " + v + b">>", b"[" + v + b"]", b"[" + v, b"[ " + v + b" 7 ]", v]
    out += [
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Resources << /Font << /F1 3 0 R >> >> /Contents 5 0 R >>",
        b"<< /Length 3 >>\nstream\nabc\nendstream",
        b"<< /Length 5 0 R >>\nstream\r\nab\nendstream",
        b"<< /A 1 %comment\n/B 2 % x\r/C /D >>",
        b"<< /A#42 1 /B 2 0 R >>",
        b"<< /A 1 /A 2 >>",
        b"<< 1 2 >>",
        b"<< /W [1 4 2] /Index [0 5 7 2] /Size 9 >>",
        b"[1 2 3 4 5 6 0 R 7 8 0 R]",
        b"[[[[1 2] 3] 4 0 R] 5 0 R]",
    ]
    return out


@pytest.mark.parametrize("data", _object_cases())
def test_parse_object_matches_frozen_parser_on_cases(data):
    _assert_object_equivalent(data)


@pytest.mark.parametrize("depth", [198, 199, 200])
@pytest.mark.parametrize("inner", [b"/A 1", b"/A 5 0 R", b"/A (x)"])
def test_nesting_guard_is_unchanged_at_the_limit(depth, inner):
    """At depth 200 every value of a container must still trip
    parse_object's nesting guard, fast entries included."""
    _assert_object_equivalent(b"<< " + inner + b" >>", depth=depth)
    _assert_object_equivalent(b"[" + inner.split(b" ", 1)[1] + b"]", depth=depth)
    deep = b"<< /K " * depth + b"<< " + inner + b" >>" + b" >>" * depth
    _assert_object_equivalent(deep)


_SEPS = [b" ", b"\n", b"\r\n", b"", b"  ", b"%c\n", b" %x\r", b"\x00", b"\t", b"\x0c"]
_NAMES = [b"/Type", b"/K", b"/A#20B", b"/F#31", b"/", b"/a#", b"/x#zz", b"/Kids"]
_ATOMS = [
    b"0", b"5", b"-3", b"+7", b"1_0", b"00", b"9" * 32, b"9" * 33,
    b"1.", b"-.5", b".5", b"+1.5", b"1.2.3", b"1e5", b"-0.0",
    b"true", b"false", b"null", b"truex", b"nul",
    b"()", b"(abc)", b"(a(b)c)", b"(a\\)b)", b"(x\\n)", b"(\\053)",
    b"<>", b"<414>", b"<41 42>", b"R", b"0R", b"R5", b"obj",
]
_GENS = [b"0", b"+0", b"1_0", b"-1", b"00", b"2"]


@st.composite
def _object_tokens(draw, depth=0):
    kind = draw(st.integers(0, 9 if depth < 3 else 5))
    if kind <= 2:
        return [draw(st.sampled_from(_ATOMS))]
    if kind == 3:
        return [draw(st.sampled_from(_NAMES))]
    if kind <= 5:  # a ref, or the head of one
        toks = [draw(st.sampled_from([b"5", b"12", b"-5", b"1_0"])), draw(st.sampled_from(_GENS))]
        return toks + draw(st.sampled_from([[b"R"], [], [b"obj"], [b"Rx"]]))
    if kind <= 7:
        items = draw(st.lists(_object_tokens(depth + 1), max_size=5))
        return [b"["] + [t for i in items for t in i] + [b"]"]
    toks = [b"<<"]
    for _ in range(draw(st.integers(0, 4))):
        toks.append(draw(st.sampled_from(_NAMES)))
        toks += draw(_object_tokens(depth + 1))
    return toks + [b">>"]


@st.composite
def _object_bytes(draw):
    toks = draw(_object_tokens())
    out = toks[0]
    for t in toks[1:]:
        out += draw(st.sampled_from(_SEPS)) + t
    cut = draw(st.integers(0, len(out)))
    return out if draw(st.booleans()) else out[:cut]


@settings(max_examples=400, deadline=None)
@given(_object_bytes())
def test_parse_object_matches_frozen_parser_property(data):
    _assert_object_equivalent(data)


def _drop_not_a_ref_lookahead(monkeypatch):
    lookahead = (rb"(?!" + P._WS_RUN + rb"[+-]?\d+(?:_\d+)*" + P._END + P._WS_RUN
                 + rb"R" + P._END + rb")")
    assert lookahead in P._SIMPLE_VALUE
    planted = P._SIMPLE_VALUE.replace(lookahead, b"")
    monkeypatch.setattr(P, "_DICT_ENTRY_RE", re.compile(
        P._DICT_ENTRY_RE.pattern.replace(P._SIMPLE_VALUE, planted)))
    monkeypatch.setattr(P, "_ARRAY_ELEM_RE", re.compile(rb"()" + planted))


def test_differential_catches_an_int_read_where_a_ref_is(monkeypatch):
    """Plant the deviation the lookahead exists for: without it, the int
    alternative takes the `5` of `5 1_0 R` (the ref alternative wants a
    gen of plain digits), and the hand-written cases must catch it."""
    _drop_not_a_ref_lookahead(monkeypatch)
    diverged = [d for d in _object_cases()
                if _outcome(P._Lexer, d) != _outcome(FrozenLexer, d)]
    assert b"<< /K 5 1_0 R >>" in diverged


def test_xref_rows_match_the_per_token_reader():
    """Classic xref rows at one match each give the same table as the
    per-token reader, including rows it must leave to that reader."""
    from tools.make_pdf import simple_pdf

    base = simple_pdf([["row one"], ["row two"]])
    text, n = P.extract_pdf_text(base)
    table = P.PDFDocument(base).xref
    i = base.rindex(b"\nxref") + 1
    head, rows = base[i:].split(b"\n", 2)[1], base[i:].split(b"\n", 2)[2]
    odd = rows.replace(b" 00000 n", b" +0 n", 1).replace(b" n", b" n %c", 1)
    doc = P.PDFDocument(base[:i] + b"xref\n" + head + b"\n" + odd)
    assert doc.xref == table and not doc._recon_tried
    assert P.extract_pdf_text(base[:i] + b"xref\n" + head + b"\n" + odd) == (text, n)


# ── frozen content loop ──────────────────────────────────────────────────────

_FROZEN_CTOK_RE = re.compile(
    rb"""(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)*+
    (?: [+-]?(?:\d++\.\d*+|\.\d++|\d{1,32}+)[\x00\t\n\x0c\r ]++
        (?P<ty>[+-]?(?:\d++\.\d*+|\.\d++|\d{1,32}+))[\x00\t\n\x0c\r ]++
        Td[\x00\t\n\x0c\r ]*+
        \((?P<line>[^()\\]*+(?:\\.[^()\\]*+)*+)\)[\x00\t\n\x0c\r ]*+
        Tj(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|\Z)
      | (?P<str>\([^()\\]*+(?:\\.[^()\\]*+)*+\))
      | (?P<strop>\()
      | <<
      | >>
      | (?P<hex><[^>]*>)
      | (?P<arro>\[) | (?P<arrc>\])
      | (?P<name>/[^\x00\t\n\x0c\r ()<>\[\]{}/%]*)
      | (?P<num>[+-]?(?:\d+\.?\d*|\.\d+))
      | (?P<brace>[{}])
      | (?P<op>[^\x00\t\n\x0c\r ()<>\[\]{}/%]+)
    )?
    """,
    re.VERBOSE,
)


def frozen_page_text(content, fonts=None, xobjects=None, depth=0):
    """kernels.pdf._extract_page_text as it was before the run path: one
    match per fused line or token."""
    lines: list[str] = []
    cur: list[str] = []
    last_str = last_num = last_name = None
    arr = None
    arr_strs: list[bytes] = []
    cur_map = None

    def dec(b: bytes) -> str:
        if cur_map is None:
            return b.decode("latin-1")
        m = cur_map
        if type(m) is P._UnsupportedCMap:
            raise P.PDFUnsupportedCMapError(f"text shown through predefined CID CMap /{m.name}")
        if type(m) is P._Utf16BEMap:
            return b.decode("utf-16-be", "replace").replace("\x00", "�")
        if type(m) is P._LegacyCodecMap:
            return b.decode(m.codec, "replace").replace("\x00", "�")
        if type(m) is P._Translate:
            if m.chars is not None:
                return P._charmap_decode(b, None, m.chars)[0]
            return b.decode("latin-1").translate(m.table)
        if type(m) is P._UniWideMap:
            return "".join(
                v if (v := m.get(c)) is not None
                else (chr(c) if c and not 0xD800 <= c <= 0xDFFF else "�")
                for i in range(0, len(b) - 1, 2)
                for c in ((b[i] << 8) | b[i + 1],)
            )
        if type(m) is P._WideMap:
            return "".join(m.get((b[i] << 8) | b[i + 1], "�") for i in range(0, len(b) - 1, 2))
        t = P._LATIN1_TABLE
        return "".join(c if (c := m.get(x)) is not None else t[x] for x in b)

    def flush():
        if cur:
            lines.append("".join(cur))
            cur.clear()

    n, pos = len(content), 0
    while pos < n:
        m = _FROZEN_CTOK_RE.match(content, pos)
        end = m.end()
        if end == pos:
            pos += 1
            continue
        pos = end
        g = m.lastgroup
        if g is None:
            continue
        if g == "line":
            ty, body = m.group("ty", "line")
            if (float(ty) if b"." in ty else int(ty)) < 0:
                flush()
            cur.append(dec(P._unescape_literal(body)))
            last_str = last_num = last_name = None
            arr = None
            arr_strs = []
            continue
        if g == "num":
            tok = m.group("num")
            last_num = float(tok) if b"." in tok else int(tok)
            continue
        if g == "str":
            s = P._unescape_literal(m.group("str")[1:-1])
            if arr is not None:
                arr_strs.append(s)
            last_str = s
        elif g == "name":
            raw_name = m.group("name")[1:]
            if b"#" in raw_name:
                raw_name = re.sub(rb"#([0-9A-Fa-f]{2})",
                                  lambda mm: bytes([int(mm.group(1), 16)]), raw_name)
            last_name = raw_name.decode("latin-1")
            continue
        elif g == "strop":
            lx = FrozenLexer(content, m.start("strop"))
            s = lx._parse_literal_string()
            pos = lx.pos
            if arr is not None:
                arr_strs.append(s)
            last_str = s
        elif g == "hex":
            digits = re.sub(rb"[\x00\t\n\x0c\r ]", b"", m.group("hex")[1:-1])
            if len(digits) % 2:
                digits += b"0"
            try:
                s = bytes.fromhex(digits.decode("ascii"))
            except ValueError:
                continue
            if arr is not None:
                arr_strs.append(s)
            last_str = s
        elif g == "arro":
            arr = []
            arr_strs = []
        elif g == "arrc":
            arr = None
        elif g == "op":
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
                if sub is not None and depth < P._MAX_FORM_DEPTH:
                    flush()
                    sub_text = frozen_page_text(sub[0], sub[1], sub[2], depth + 1)
                    if sub_text:
                        lines.extend(sub_text.split("\n"))
            elif op == b"ID":
                m2 = P._EI_RE.search(content, pos) or P._EI_BARE_RE.search(content, pos)
                pos = m2.end() if m2 is not None else n
            last_str = last_num = last_name = None
            arr = None
            arr_strs = []
    flush()
    return "\n".join(lines)


def _text_outcome(fn, content, fonts):
    try:
        return ("ok", fn(content, fonts))
    except PDFParseError as e:
        return ("raise", type(e).__name__)


# font maps: none, a 1:1 charmap (WinAnsi), a charmap that moves "\n", a
# translate table, a per-code dict, a wide CID map and an unsupported CMap
_NL_MOVED = P._Translate({0x0A: "¶", 0x41: "Ä"})
_FONTS = {
    "F1": P._base_encoding_trans("WinAnsiEncoding"),
    "F2": _NL_MOVED,
    "F3": P._Translate({0x41: "", 0x42: "bb"}),
    "F4": {0x61: "α", 0x0A: "↵"},
    "F5": P._WideMap({0x6162: "Ж"}),
    "F6": P._UnsupportedCMap("Hojo-EUC-H"),
}


def _assert_text_equivalent(content: bytes) -> None:
    for fonts in (None, _FONTS):
        assert (_text_outcome(P._extract_page_text, content, fonts)
                == _text_outcome(frozen_page_text, content, fonts)), (content, fonts)


def _lines(*tys, body=b"(line)", sep=b"\n"):
    return sep.join(b"0 %s Td %s Tj" % (ty, body) for ty in tys)


_CONTENT_CASES = [
    b"BT\n72 720 Td\n(first) Tj\n" + _lines(b"-14", b"-14", b"-14") + b"\nET",
    b"BT 72 720 Td (a) Tj " + _lines(b"-0", b"-0.0", b"-14", b"-.0", b"-0.", b"14", b"+3", b"-2", sep=b" "),
    b"BT 1 1 Td (a) Tj " + _lines(b"-14", b"-1" + b"0" * 32, b"-14", b"-0." + b"0" * 40 + b"1", b"-3"),
    b"BT 1 1 Td (a) Tj " + _lines(b"-14", b"-14", body=b"(back\\) slash)") + b" 0 -14 Td (x) Tj",
    b"BT 1 1 Td (a) Tj 0 -14 Td (b) Tj %c\n0 -14 Td (c) Tj 0 -14 %c\nTd (d) Tj 0 -14 Td (e) Tj",
    b"BT 1 1 Td (a) Tj 0 -14 Td (b)Tj 0 -14 Td(c) Tj\t0\x00-14\x0cTd (d) Tj0 -14 Td (e) Tj",
    b"BT 1 1 Td (a) Tj 0 -14 Td (b) Tj 0 -14 Td (c) TJ 0 -14 Td (d) Tj/F1 Tf",
    b"BT 1 1 Td (a) Tj 0 -14 Td (b) Tj 0 -14 Td (c) Tjx 0 -14 Td (n(es)ted) Tj 0 -14 Td () Tj",
    b"BT 1 1 Td (a) Tj 0 -14 Td (\n) Tj 0 -14 Td (\r\n) Tj 0 -14 Td () Tj 0 -1.5 Td (z) Tj",
]
for _f in ("F1", "F2", "F3", "F4", "F5", "F6", "F9"):
    _CONTENT_CASES.append(
        b"BT /%s 12 Tf 72 720 Td (AB\nab) Tj " % _f.encode()
        + _lines(b"-14", b"-14", b"-14", body=b"(ab\nAB)") + b" 0 -14 Td (x\\053) Tj ET"
    )
    _CONTENT_CASES.append(b"BT /%s 1 Tf 1 1 Td (a) Tj 0 -2 Td (b) Tj ET" % _f.encode())


@pytest.mark.parametrize("content", _CONTENT_CASES)
def test_page_text_matches_frozen_loop_on_cases(content):
    _assert_text_equivalent(content)


def test_unsupported_cmap_raises_at_the_first_body():
    """Text shown through an unsupported CMap raises at its first body,
    an empty one included, whether a run follows or not."""
    fonts = {"F6": P._UnsupportedCMap("Hojo-EUC-H")}
    for content in (b"BT /F6 1 Tf 0 0 Td () Tj " + _lines(b"-14", b"-14") + b" ET",
                    b"BT /F6 1 Tf 0 0 Td () Tj ET"):
        with pytest.raises(P.PDFUnsupportedCMapError):
            P._extract_page_text(content, fonts)


_TYS = [b"-14", b"-0", b"-0.0", b"14", b"+3", b"-.5", b"-1.", b"0", b"-9" * 17, b"-1" + b"0" * 32]
_BODIES = [b"(line)", b"()", b"(a\\)b)", b"(\\n)", b"(a(b)c)", b"(AB\nab)"]


@st.composite
def _content_bytes(draw):
    toks = [b"BT", b"/" + draw(st.sampled_from(list(_FONTS) + ["F9"])).encode(), b"1", b"Tf"]
    for _ in range(draw(st.integers(1, 12))):
        kind = draw(st.integers(0, 9))
        if kind <= 6:  # a fused-line shape
            toks += [draw(st.sampled_from([b"0", b"72", b"-3.5"])), draw(st.sampled_from(_TYS)),
                     b"Td", draw(st.sampled_from(_BODIES)), draw(st.sampled_from([b"Tj", b"TJ", b"'"]))]
        elif kind == 7:
            toks += [b"[", draw(st.sampled_from(_BODIES)), b"-250", b"(k)", b"]", b"TJ"]
        elif kind == 8:
            toks += [draw(st.sampled_from([b"T*", b"ET", b"BT", b"/F1 1 Tf", b"/F6 1 Tf"]))]
        else:
            toks += [b"%comment"]
    out = toks[0]
    for t in toks[1:]:
        sep = draw(st.sampled_from([b" ", b"\n", b"\r\n", b"  ", b"\t", b"%c\n"]))
        out += (b"\n" if t.startswith(b"%") else sep) + t
    return out


@settings(max_examples=300, deadline=None)
@given(_content_bytes())
def test_page_text_matches_frozen_loop_property(content):
    _assert_text_equivalent(content)


def test_differential_catches_a_run_that_takes_minus_zero(monkeypatch):
    """Plant the deviation: a run that takes `-0` lines flushes where the
    per-line loop does not, and the hand-written cases must catch it."""
    pattern = P._RUN_RE.pattern
    assert rb"(?=[.0-9]*[1-9])" in pattern
    monkeypatch.setattr(P, "_RUN_RE", re.compile(
        pattern.replace(rb"(?=[.0-9]*[1-9])", b""), re.VERBOSE))
    with pytest.raises(AssertionError):
        _assert_text_equivalent(_CONTENT_CASES[1])


# ── shape guards over the synthetic corpus and the golden PDFs ──────────────


def _shape_corpus() -> list[bytes]:
    from pdf_to_text_spark.sources.pages import build_pages_pdf

    df = build_pages_pdf(list(range(300)))
    pdfs = [h for u, h in zip(df["url"], df["html"])
            if h is not None and u.endswith(".pdf") and h[:5] == b"%PDF-"]
    return pdfs + [p.read_bytes() for p in sorted(GOLDEN.glob("*.pdf"))]


def _run_all(pdfs):
    for data in pdfs:
        try:
            P.extract_pdf_text(data)
        except PDFParseError:
            pass


def test_simple_dict_entries_stay_on_the_fast_path(monkeypatch):
    """No dict entry of the fast grammar's shape reaches the recursive
    parser in this corpus: what does is container values and hex
    strings. The instrument itself must see a `#` name value."""
    orig = P._Lexer.parse_object
    pending: set[int] = set()
    entries, slow = [], []

    def parse_object(self):
        caller = sys._getframe(1)
        if caller.f_code is not P._Lexer._parse_dict.__code__:
            return orig(self)
        start = P._WS_RUN_RE.match(self.data, self.pos).end()
        if id(caller) not in pending:  # the key of an entry
            key = orig(self)
            if isinstance(key, _Name):  # else _parse_dict raises next
                pending.add(id(caller))
            return key
        pending.discard(id(caller))
        v = orig(self)
        entries.append(v)
        if not isinstance(v, (dict, list, _Stream)) and not (
            isinstance(v, bytes) and self.data[start:start + 1] == b"<"
        ):
            slow.append(self.data[start:self.pos])
        return v

    monkeypatch.setattr(P._Lexer, "parse_object", parse_object)
    P._Lexer(b"<< /A /B#20C /D 1 >>").parse_object()
    assert slow == [b"/B#20C"]
    slow.clear()
    _run_all(_shape_corpus())
    assert len(entries) > 1000
    assert slow == []


class _Counting:
    def __init__(self, rx, gi=None):
        self.rx, self.gi, self.n = rx, gi, 0

    def match(self, *a):
        m = self.rx.match(*a)
        if m.lastindex == self.gi:
            self.n += 1
        return m

    def findall(self, *a):
        out = self.rx.findall(*a)
        self.n += len(out)
        return out


def test_most_fused_lines_go_through_the_run_path(monkeypatch):
    single = _Counting(P._CTOK_RE, P._CTOK_RE.groupindex["line"])
    in_runs = _Counting(P._RUN_BODY_RE)
    monkeypatch.setattr(P, "_CTOK_RE", single)
    monkeypatch.setattr(P, "_RUN_BODY_RE", in_runs)
    _run_all(_shape_corpus())
    assert single.n > 0
    assert in_runs.n >= 0.9 * (single.n + in_runs.n), (single.n, in_runs.n)


# ── LZW at the code-width edges ──────────────────────────────────────────────


def _distinct_pairs(n: int) -> bytes:
    """n bytes in which no two-byte pair repeats: the encoder emits one
    code per byte, so the table reaches each width edge at a known
    length (258 + k − 1 entries after k bytes)."""
    rng = random.Random(0)
    used, out = set(), [0]
    while len(out) < n:
        nxt = rng.randrange(256)
        if (out[-1], nxt) not in used:
            used.add((out[-1], nxt))
            out.append(nxt)
    return bytes(out)


@pytest.mark.parametrize("early", [0, 1])
def test_lzw_round_trips_at_the_width_edges(early):
    from tools.make_pdf import lzw_encode

    data = _distinct_pairs(4400)
    # table sizes at which the width grows (9→10→11→12) and the encoder's
    # full-table clear, as byte counts of a prefix
    edges = [(1 << w) - early - 258 + 1 for w in (9, 10, 11)] + [4095 - 258 + 1]
    for e in edges:
        for k in range(e - 3, e + 4):
            assert P._lzw_decode(lzw_encode(data[:k], early), early) == data[:k], (early, k)
    assert P._lzw_decode(lzw_encode(data, early), early) == data
    rng = random.Random(7)
    kwkwk = bytes(rng.choice(b"ab") for _ in range(20000))
    assert P._lzw_decode(lzw_encode(kwkwk, early), early) == kwkwk
    # the other early-change setting misreads the stream past the 9-bit edge
    other = 1 - early
    try:
        wrong = P._lzw_decode(lzw_encode(data, early), other)
    except PDFParseError:
        wrong = None
    assert wrong != data
