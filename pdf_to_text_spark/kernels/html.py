"""DOM-heuristic HTML main-content extractor (boilerplate stripper).

Graft-mandated (BASELINE.json north_rule: "tag-density + link-text-ratio
block classification, whitespace normalization") — not present in the
reference, so the semantics are pinned HERE, derived from the published
Boilerpipe (Kohlschütter et al., WSDM 2010) densitometric-classification
and jusText (Pomikálek 2011) link-density algorithms. SURVEY.md §2.9.

Pinned spec:
  1. Parse with the event semantics of stdlib html.parser (3.11); split
     into block-level segments at config.HTML_BLOCK_TAGS boundaries; drop
     config.HTML_DROP_TAGS subtrees and comments entirely; decode
     entities. One compiled regex, `_TOK`, tokenizes the common grammar
     (text runs, start tags with quoted or valueless attributes, end
     tags, comments, doctype, script/style content) and drives the
     `_BlockCollector` handlers directly. At the first `<` that grammar
     does not match, the rest of the page goes to the same collector's
     `HTMLParser.feed` + `close` (the tail parser). This is exact: at
     every token boundary outside script/style, html.parser holds no
     state, and the collector's buffers do not depend on how the text
     is split. tests/test_html_tokenizer.py pins the equivalence.
  2. Per block compute words, chars, link_chars (text inside <a>),
     link_text_ratio = link_chars / max(1, chars).
  3. Content iff link_text_ratio < HTML_LINK_RATIO_MAX and
     words >= HTML_MIN_CONTENT_WORDS; short-block rescue: a non-linky
     block sandwiched between two content blocks is kept.
  4. Whitespace: collapse horizontal whitespace runs to one space, strip
     each block; blocks joined with "\n\n"; no trailing newline (mirrors
     the reference CSV's no-trailing-newline convention, src/main.ts:55).

Any parser exception is wrapped into HTMLParseFailed so callers can route
to the parse_failed metric instead of failing the task.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

from ..config import (
    HTML_BLOCK_TAGS,
    HTML_DROP_TAGS,
    HTML_LINK_RATIO_MAX,
    HTML_MIN_CONTENT_WORDS,
)

__all__ = ["HTMLParseFailed", "extract_html_text", "Block"]

_WS_RE = re.compile(r"[ \t\r\f\v]+")


def _normalize(raw: str) -> str:
    """The block whitespace rule (§4 of the pinned spec), shared by text
    and link-char accounting so the two can never disagree."""
    text = raw.strip()
    # the two subs below change nothing unless `[\t\n\r\f\v]|  ` matches;
    # six substring tests (memchr) run ~8x faster than that regex
    if not (
        "  " in text or "\n" in text or "\t" in text
        or "\r" in text or "\f" in text or "\v" in text
    ):
        return text
    text = _WS_RE.sub(" ", raw).strip()
    if "\n" in text:
        # collapse internal newline runs left by nested flushes
        text = re.sub(r"\s*\n\s*", " ", text)
    return text


class HTMLParseFailed(Exception):
    """Structural failure while parsing HTML bytes."""


class Block:
    __slots__ = ("chars", "words", "link_chars", "text")

    def __init__(self, text: str, link_chars: int):
        self.text = text
        self.chars = len(text)
        self.words = len(text.split())
        self.link_chars = link_chars

    @property
    def link_ratio(self) -> float:
        return self.link_chars / max(1, self.chars)


class _BlockCollector(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[Block] = []
        self._buf: list[str] = []
        self._link_buf: list[str] = []
        self._drop_depth = 0
        self._a_depth = 0

    # ── block lifecycle ─────────────────────────────────────────────────

    # position bookkeeping is never read (errors are wrapped wholesale);
    # stdlib updatepos is ~10% of parse time on boilerplate-heavy pages
    def updatepos(self, i: int, j: int) -> int:
        return j

    def _flush(self) -> None:
        # a block boundary ends link accounting (r5 review): an anchor a
        # sloppy writer never closed must not mark every later block as
        # link text and classify a content-rich page boilerplate. (This
        # deliberately deviates from HTML5's formatting-element
        # reconstruction — per-block link density is the Boilerpipe/
        # jusText convention this kernel implements.)
        self._a_depth = 0
        if not self._buf:  # consecutive block tags: nothing buffered
            self._link_buf.clear()
            return
        text = _normalize("".join(self._buf))
        # link chars are normalized the same way as the block text —
        # per-chunk strip() undercounted anchors whose text arrives in
        # several handle_data calls ('<a>read <b>more</b></a>' → 8 of 9
        # chars), biasing link_ratio low and letting linky boilerplate
        # past the threshold (r6 review)
        link = len(_normalize("".join(self._link_buf))) if self._link_buf else 0
        self._buf.clear()
        self._link_buf.clear()
        if text:
            self.blocks.append(Block(text, min(link, len(text))))

    # ── parser callbacks ────────────────────────────────────────────────

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in HTML_DROP_TAGS:
            self._drop_depth += 1
            return
        if self._drop_depth:
            return
        if tag in HTML_BLOCK_TAGS:
            self._flush()
        elif tag == "br":
            self._buf.append(" ")
            if self._a_depth:  # keep link text aligned with block text
                self._link_buf.append(" ")
        elif tag == "a":
            # HTML5 parsing: a new <a> implicitly CLOSES any open one
            # (nested anchors are invalid). html.parser gives no such
            # help, and real crawl pages leave anchors unclosed all the
            # time — an ever-growing depth would mark every later block
            # as pure link text and classify the whole page boilerplate
            # (r5 review). Pin depth at 1.
            self._a_depth = 1

    def handle_startendtag(self, tag: str, attrs) -> None:
        if self._drop_depth:
            return
        if tag == "br":
            self._buf.append(" ")
            if self._a_depth:
                self._link_buf.append(" ")
        elif tag in HTML_BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag: str) -> None:
        if tag in HTML_DROP_TAGS:
            if self._drop_depth:
                self._drop_depth -= 1
            return
        if self._drop_depth:
            return
        if tag in HTML_BLOCK_TAGS:
            self._flush()
        elif tag == "a" and self._a_depth:
            self._a_depth -= 1

    def handle_data(self, data: str) -> None:
        if self._drop_depth or not data:
            return
        self._buf.append(data)
        if self._a_depth:
            self._link_buf.append(data)

    def close(self) -> None:
        super().close()
        self._flush()


# The common grammar, each alternative a construct on which html.parser
# 3.11 emits exactly the events _tokenize emits. Separators inside a tag
# are [ \t\n\r\f], NOT \s: html.parser's tag name runs on through \v,
# \xa0 and the other Unicode spaces ('<p\vx>' is tag 'p\x0bx'), so a tag
# holding one of those goes to the tail parser. Attribute values must be
# quoted (a bare value may end in '/', which changes <x/> detection), and
# attribute names exclude quotes, '<' and '=' so each one ends where
# html.parser's does. The attributes themselves are never read.
_SEP = r"[ \t\n\r\f]"
_TOK = re.compile(
    r"([^<]*+)(?:"  # 1: the text run before the construct
    r"<([a-zA-Z][a-zA-Z0-9]*)"  # 2: start tag name
    rf"(?:{_SEP}+[^\s\"'<>/=]+(?:{_SEP}*={_SEP}*(?:\"[^\"]*\"|'[^']*'))?)*"
    rf"{_SEP}*(/?)>"  # 3: '/' of <x/>
    rf"|</([a-zA-Z][a-zA-Z0-9]*){_SEP}*>"  # 4: end tag
    r"|<!--.*?--\s*>|<![dD][oO][cC][tT][yY][pP][eE][^>]*>"  # comment, doctype
    r"|\Z)",  # or the end of the page
    re.S,
)
# script/style content runs to this end tag, as HTMLParser.set_cdata_mode
# has it; html.parser's endtagfind then decides whether that end tag closes
# the element (a re.I match such as '</ſcript>' does not)
_CDATA_END = {
    t: re.compile(r"</\s*%s\s*>" % t, re.I) for t in HTMLParser.CDATA_CONTENT_ELEMENTS
}
_ENDTAGFIND = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")


def _skip_cdata(p: _BlockCollector, html: str, pos: int, tag: str) -> int:
    """Content of <script>/<style> from `pos` → position after its end
    tag; an element that never ends swallows the rest of the page."""
    search = _CDATA_END[tag].search
    while (m := search(html, pos)) is not None:
        j, gt = m.span()
        if j > pos:
            p.handle_data(html[pos:j])
        e = _ENDTAGFIND.match(html, j)
        if e is not None and e.group(1).lower() == tag:
            p.handle_endtag(tag)
            return gt
        p.handle_data(html[j:gt])
        pos = gt
    return len(html)


def _tokenize(p: _BlockCollector, html: str) -> None:
    """Drive `p` over `html`: `_TOK` up to the first construct outside
    its grammar, html.parser from there (that construct's text run
    included) to the end."""
    match = _TOK.match
    on_data, on_start, on_end = p.handle_data, p.handle_starttag, p.handle_endtag
    pos, n = 0, len(html)
    while pos < n:
        m = match(html, pos)
        if m is None:
            p.feed(html[pos:])
            break
        text, start, slash, end = m.groups()
        if text:
            on_data(unescape(text) if "&" in text else text)
        pos = m.end()
        if start:
            tag = start.lower()
            if slash:
                p.handle_startendtag(tag, [])
            else:
                on_start(tag, [])
                if tag in _CDATA_END:
                    pos = _skip_cdata(p, html, pos, tag)
        elif end:
            on_end(end.lower())
    p.close()


def segment_blocks(html: str) -> list[Block]:
    """HTML string → ordered block list with densitometric stats."""
    p = _BlockCollector()
    try:
        _tokenize(p, html)
    except Exception as e:  # html.parser is lenient; anything else is a fail
        raise HTMLParseFailed(str(e)) from e
    return p.blocks


def classify_blocks(blocks: list[Block]) -> list[bool]:
    """Boilerpipe/jusText-style densitometric classification (§2.9.3)."""
    base = [
        b.link_ratio < HTML_LINK_RATIO_MAX and b.words >= HTML_MIN_CONTENT_WORDS
        for b in blocks
    ]
    # short-block rescue: non-linky short block between two content blocks
    out = list(base)
    for i in range(1, len(blocks) - 1):
        if not base[i] and base[i - 1] and base[i + 1] and blocks[i].link_ratio < HTML_LINK_RATIO_MAX:
            out[i] = True
    return out


def extract_html_text(data: bytes | str) -> str:
    """bytes/str → main-content text; "" if no content blocks survive."""
    if isinstance(data, (bytes, bytearray)):
        try:
            html = bytes(data).decode("utf-8", errors="replace")
        except Exception as e:  # pragma: no cover
            raise HTMLParseFailed(str(e)) from e
    else:
        html = data
    blocks = segment_blocks(html)
    keep = classify_blocks(blocks)
    return "\n\n".join(b.text for b, k in zip(blocks, keep) if k)
