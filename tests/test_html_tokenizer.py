"""The HTML kernel's regex tokenizer against stdlib html.parser (no Spark).

`kernels/html.segment_blocks` tokenizes the common grammar with `_TOK`
and hands the rest of a page, from the first construct outside it, to
html.parser (the tail parser). The reference here is the same
`_BlockCollector` fed the whole page by html.parser: block lists and
`extract_html_text` output must be equal on every input.
"""

import pathlib
import re
from html.parser import HTMLParser

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_to_text_spark.kernels import html as H
from pdf_to_text_spark.sources.pages import build_pages_pdf

GOLDEN = pathlib.Path(__file__).parent / "golden"


def _reference(page: str) -> list[H.Block]:
    p = H._BlockCollector()
    HTMLParser.feed(p, page)
    p.close()
    return p.blocks


def _pairs(blocks: list[H.Block]) -> list[tuple[str, int]]:
    return [(b.text, b.link_chars) for b in blocks]


def _assert_equivalent(page: str) -> None:
    want = _reference(page)
    assert _pairs(H.segment_blocks(page)) == _pairs(want), repr(page)
    keep = H.classify_blocks(want)
    text = "\n\n".join(b.text for b, k in zip(want, keep) if k)
    assert H.extract_html_text(page) == text, repr(page)


def _count_tail_feeds(monkeypatch) -> list[int]:
    calls = [0]
    feed = H._BlockCollector.feed

    def counting_feed(self, data):
        calls[0] += 1
        return feed(self, data)

    monkeypatch.setattr(H._BlockCollector, "feed", counting_feed)
    return calls


# Text runs and block/inline/link/drop tags make a deviation visible in
# the blocks; the rest are shapes the fast grammar handles or hands over.
_VOCAB = [
    # common grammar
    "<p>", "</p>", "<P>", "</P >", "<div class=\"c\">", "</div>", "<li>", "</li>",
    "<h1>", "</h1>", "<td >", "<b>", "</b>", "<br>", "<br/>", "<br />", "<BR\n/>",
    '<a href="/x">', "<a href='/y' title=\"t\">", "</a>", "<a\nhref='q'\n>",
    "<input disabled/>", '<p\tclass="z"/>', '<a b =  "c" d>', '<img src="a>b">',
    "<script>", "</script>", "</SCRIPT >", "<style>", "</style>", "<noscript>",
    "</noscript>", "<!-- c -->", "<!--x--  >", "<!doctype html>", "<!DOCTYPE html>",
    "&amp;", "&#38;", "&mdash;", "caf&eacute;",
    "word ", "text here and ", "more words ", " ", "\n", "\t", "  ", "é 日本 ",
    # outside it: each sends the rest of the page to html.parser
    "<a href=/x/>", "<a href=/x>", "<td width=10>", "<span\vx>", "<p\vx>",
    "<br\vx>", "<a\xa0href=\"/q\">", "<li\x1cx>", "<p/ >", "</ p>", "</p junk>",
    "</>", "<!x>", "<?pi?>", "<!DOCTYPE", "<!-->", "<!--", "-->",
    "<a b='1'c='2'>", "</ſcript>", "<x-y>", "</x-y>", "<![CDATA[x]]>",
    "&copy", "&am", "p;", "&#x26", "<", ">", "\v", "\xa0", "　",
]

_CASES = [
    "",
    "plain text only &amp; no tags",
    "<p>one</p><p>two &amp; three</p>",
    "<p>before<a href=/x/>link text</a> after</p><p>next</p>",
    "<p>a<span\vx>b</p><p>c</p>",
    "<p>a<p\vx>b</p>c",
    "<div>a<p/ >b</div>c",
    "<p>a</ p>b<p>c",
    "<p>a</p junk>b<p>c",
    "<p>a</>b</p>",
    "<p>a<!x>b</p><p>c</p>",
    "<p>a<?pi?>b</p><p>c</p>",
    "<p>a</p><!DOCTYPE html <p>b</p>",
    "<p>a<!-->b</p><p>c-->d</p>",
    "<p>a<!--b</p><p>c",
    "<a b='1'c='2'>link</a><p>text</p>",
    '<p>a<img src="a>b">b</p><p>c</p>',
    "<script>x</p></SCRIPT ><p>after</p>",
    "<script>x</ſcript><p>still script</p></script><p>after</p>",
    "<p>a</p><style>p{}<p>swallowed",
    "<p>&copy 2024 &am<b>p;</b> &amp</p>",
    "<p>1 < 2 > 0</p><p>x</p>",
    "<p>bare lt at the end <",
    "<p>x</p>&am",
    "<a href='/n'>nav<a href='/m'>more</div><p>body text</p>",
    "<p>a<script/>b</p>",
    "<P>upper</P><DIV>case</DIV>",
    "<p>a<![CDATA[x]]>b</p><p>c</p>",
    "<!DOCTYPE html><html><head><title>t</title></head><body><p>x</p></body></html>",
]


@pytest.mark.parametrize("page", _CASES)
def test_tokenizer_matches_html_parser_on_cases(page):
    _assert_equivalent(page)


def test_cases_cover_both_paths(monkeypatch):
    calls = _count_tail_feeds(monkeypatch)
    tail = 0
    for page in _CASES:
        before = calls[0]
        H.segment_blocks(page)
        tail += calls[0] > before
    assert 0 < tail < len(_CASES)


@settings(max_examples=400, deadline=None)
@given(st.lists(st.sampled_from(_VOCAB), max_size=40).map("".join))
def test_tokenizer_matches_html_parser_property(page):
    _assert_equivalent(page)


def test_differential_catches_unicode_space_in_tag_grammar(monkeypatch):
    """With `\\s` for the tag separator, '<p\\vx>' reads as tag 'p'
    (html.parser: 'p\\x0bx') and flushes a block: the cases must see it."""
    planted = re.compile(H._TOK.pattern.replace(H._SEP, r"\s"), H._TOK.flags)
    assert planted.pattern != H._TOK.pattern
    monkeypatch.setattr(H, "_TOK", planted)
    assert any(
        _pairs(H.segment_blocks(p)) != _pairs(_reference(p)) for p in _CASES
    )


def test_corpus_and_goldens_never_reach_the_tail_parser(monkeypatch):
    """Shape guard: a grammar regression that quietly sends the corpus to
    html.parser fails here, not only in the benchmark."""
    rows = build_pages_pdf(list(range(300)))
    pages = [
        h.decode("utf-8", errors="replace")
        for h in rows["html"]
        if h is not None and h[:5] != b"%PDF-"
    ]
    assert len(pages) > 150
    pages += [p.read_text(encoding="utf-8") for p in sorted(GOLDEN.glob("*.html"))]
    calls = _count_tail_feeds(monkeypatch)
    for page in pages:
        H.segment_blocks(page)
    assert calls[0] == 0


_WS_ALPHABET = list(" \t\n\r\f\v\x1c\x1f\x85\xa0　") + list("ab")


def _two_subs(raw: str) -> str:
    text = re.sub(r"[ \t\r\f\v]+", " ", raw).strip()
    if "\n" in text:
        text = re.sub(r"\s*\n\s*", " ", text)
    return text


@settings(max_examples=500, deadline=None)
@given(st.lists(st.sampled_from(_WS_ALPHABET), max_size=30).map("".join))
def test_normalize_fast_check_equals_two_subs(raw):
    assert H._normalize(raw) == _two_subs(raw)


def test_tokenizer_and_tail_exceptions_become_parse_failed(monkeypatch):
    from pdf_to_text_spark.functions.udfs import _extract_one

    # the tail parser: html.parser raises on an unknown marked section
    page = b"<p>text</p><![x[y]]>"
    with pytest.raises(H.HTMLParseFailed):
        H.extract_html_text(page)
    assert _extract_one(page, None, False)[2:] == ("parse_failed", 1)

    # the tokenizer itself
    def boom(text):
        raise ValueError("planted")

    monkeypatch.setattr(H, "unescape", boom)
    page = b"<p>fish &amp; chips</p>"
    with pytest.raises(H.HTMLParseFailed):
        H.extract_html_text(page)
    assert _extract_one(page, None, False)[2:] == ("parse_failed", 1)
