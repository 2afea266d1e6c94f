"""Differential tests: the fast HTML scanner vs the stdlib-parser twin.

The fast scanner (html_extract._fast_collect) must produce byte-identical
extractions — text, spans, rule — to the stdlib ``html.parser`` twin on
EVERY input: the two backends are pinned equal here over handcrafted
branch-coverage cases, the deterministic synthetic corpus, and a
hypothesis fuzz over HTML-ish fragment soup. Any divergence is a bug in
the fast path (the stdlib twin is the semantics of record)."""

from __future__ import annotations

import pytest

from poc_document_ocr_spark.functions.html_extract import (
    _FastBail,
    _fast_collect,
    extract_html,
    extract_html_slow,
)

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False


def _eq(text: str) -> None:
    # the stdlib twin itself raises on some malformed marked sections
    # (_markupbase.py asserts); production wraps both backends in
    # extract_safe's error isolation, so "both raise" is agreement —
    # what must never happen is one side raising or answering differently.
    try:
        b = extract_html_slow(text)
    except Exception:
        with pytest.raises(Exception):
            extract_html(text)
        return
    a = extract_html(text)
    assert (a.extracted_text, a.spans, a.rule) == (
        b.extracted_text,
        b.spans,
        b.rule,
    ), f"fast != slow on {text!r}"


# every goahead / parse_* branch the fast scanner reimplements, plus the
# tolerant-markup quirks observed in the CPython source (html/parser.py)
_EDGE_CASES = [
    # plain tags, nesting, blocks
    "<p>hello</p>",
    "<div><p>a</p><p>b</p></div>",
    "<P>UPPER</P><Div>case</DIV>",
    "<article><p>main text</p></article><p>outside</p>",
    "<main><p>m</p></main>",
    '<div role="main"><p>roled</p></div>',
    '<div class="sidebar"><p>boiler</p></div><p>keep</p>',
    '<div id="comment-thread">x</div><p>y</p>',
    # links and density
    '<p><a href="/x">link</a> and prose that is long enough to keep</p>',
    '<p><a>only link text here</a></p>',
    # void + self-closing
    "<p>a<br>b</p>",
    "<p>a<br/>b</p>",
    '<img src="x.png">text after',
    "<span attr='v' />tail",
    # attributes: quoting, bare, entity in value, junk
    '<div class="a b" id=bare data-x=\'q\'>t</div>',
    '<div class="&amp;x">amp in attr</div>',
    '<p x="1"junk>odd attr</p>',
    "<a b=c d",  # unterminated, attr boundary
    "<a b=c d>tail</a>",
    # comments / PI / doctype / bogus comment
    "<!-- c --><p>after comment</p>",
    "<!--unterminated <p>swallowed",
    "before<!---->after",
    "<!-- -- > tricky --><p>x</p>",
    "<?php echo 1 ?><p>pi</p>",
    "<?unterminated pi",
    "<!DOCTYPE html><p>doc</p>",
    "<!doctype html",  # unterminated doctype
    "<!bogus comment><p>x</p>",
    "<!bogus unterminated",
    # marked sections (fast path bails to the twin — result must still agree)
    "<![CDATA[raw]]><p>x</p>",
    "<![if gt IE 6]>cond<![endif]><p>x</p>",
    # script/style cdata mode
    "<script>var a = '<p>not a tag</p>';</script><p>real</p>",
    "<script>unterminated <p>swallowed",
    "<style>p { color: red } </style><p>styled</p>",
    "<script>a</script ><p>x</p>",  # close tag with space
    "<SCRIPT>b</SCRIPT><p>y</p>",
    "<script src='x'/>not cdata<p>z</p>",  # self-closing script: no cdata
    "<script></script foo><p>after odd close</p>",
    # end-tag tolerance
    "<p>a</>bare close</p>",
    "<p>a</ bogus>b</p>",
    "<p>a</p attr>b",
    "<p>a</p >b",
    # entity / char refs
    "<p>a &amp; b</p>",
    "<p>a &amp b</p>",  # no semicolon: terminator not consumed
    "<p>R&D dept</p>",  # &D parses as entityref with space terminator
    "<p>a & b</p>",  # bare ampersand -> data("&")
    "<p>5 &lt;&gt; 6</p>",
    "<p>&#38; &#x26; &#X26;</p>",
    "<p>&#38 no-semi</p>",
    "<p>&#x3C;tag&#x3E;</p>",
    "<p>&#999999999;</p>",  # out-of-range charref
    "<p>&#zz; rest <p>x</p>",  # failed charref WITH later semicolon
    "<p>&#zz rest <p>x</p>",  # failed charref, no semicolon: one-blob tail
    "&#",  # failed charref at EOF
    "&#x",
    "tail ends with &amp",
    "tail ends with &a",  # incomplete matching entire rest
    "tail ends with &",
    "tail ends with <",
    "< 1 not a tag",
    "a <3 b <p>x</p>",
    # unterminated start tags
    "<p",
    "<p class='x'",
    "<div unterminated <p>next",
    "text <div x='1'",
    # whitespace handling between/inside blocks
    "  <p>  padded  </p>  ",
    "<ul>\n  <li>one</li>\n  <li>two</li>\n</ul>",
    "<p>multi\nline\ntext</p>",
    # deep / unbalanced nesting
    "<div><p>unclosed<div>next</div>",
    "</p>stray close first<p>x</p>",
    "<b><i>cross</b>over</i> text<p>t</p>",
    # empty-ish
    "",
    "   ",
    "<p></p>",
    "<p> </p>",
    "no tags at all, just text",
]


@pytest.mark.parametrize("case", _EDGE_CASES, ids=range(len(_EDGE_CASES)))
def test_fast_equals_slow_edge_cases(case):
    _eq(case)


_SPAN_CASES = _EDGE_CASES + [
    # refs without a trailing ';' span only the source they consume
    "<p>a &amp b c</p>",
    "<p>a &#38 b c</p>",
]


@pytest.mark.parametrize("case", _SPAN_CASES, ids=range(len(_SPAN_CASES)))
def test_spans_sorted_disjoint_in_bounds(case):
    """span_lint's structural rule, on both backends: every span lies in
    the source, and each ends at or before the next one starts."""
    for extract in (extract_html, extract_html_slow):
        try:
            spans = extract(case).spans
        except Exception:
            continue  # both backends raising is covered by _eq
        prev_end = 0
        for start, end in spans:
            assert prev_end <= start <= end <= len(case), (
                f"{extract.__name__} spans {spans} on {case!r}"
            )
            prev_end = end


def test_marked_section_bails_to_twin():
    with pytest.raises(_FastBail):
        _fast_collect("<![CDATA[x]]>")
    # the public API falls back and still agrees with the twin
    _eq("<![CDATA[x]]><p>ok</p>")


def test_parser_drift_routes_to_stdlib_twin(monkeypatch):
    """An ``html.parser`` whose source differs from the pin switches the
    fast scanner off with a warning; extract_html then answers from the
    stdlib twin and never enters ``_fast_collect``."""
    import sys

    from poc_document_ocr_spark.functions import html_extract as hx

    if sys.version_info[:3] == (3, 11, 7):
        assert hx._parser_matches_pin()  # the pinned interpreter: fast path on

    monkeypatch.setattr(hx, "_HTML_PARSER_SHA256", "0" * 64)
    with pytest.warns(RuntimeWarning, match="html.parser"):
        drifted = not hx._parser_matches_pin()
    monkeypatch.setattr(hx, "_FORCE_SLOW", drifted)

    def fast_collect_must_not_run(text):
        raise AssertionError("fast scanner used under a drifted html.parser")

    monkeypatch.setattr(hx, "_fast_collect", fast_collect_must_not_run)
    for case in ("<p>hello</p>", "<article><p>a &amp b</p></article>"):
        a, b = hx.extract_html(case), hx.extract_html_slow(case)
        assert (a.extracted_text, a.spans, a.rule) == (
            b.extracted_text, b.spans, b.rule)


def test_fast_equals_slow_on_synthetic_corpus():
    from poc_document_ocr_spark.functions.dispatch import sniff_format
    from poc_document_ocr_spark.sources.datagen import generate_conv

    n = 0
    for conv in range(400):
        for row in generate_conv(conv, seed=42):
            text = row[3] if isinstance(row, tuple) else row["text"]
            if sniff_format(text) == "html":
                _eq(text)
                n += 1
    assert n > 100  # the corpus really exercises the HTML path


if _HYP:
    _FRAGMENTS = st.sampled_from(
        [
            "<p>", "</p>", "<div class='a'>", "</div>", "<a href='/x'>",
            "</a>", "<br>", "<br/>", "<script>", "</script>", "<style>",
            "</style>", "<!--", "-->", "<!", "<?", ">", "<", "&", "&amp;",
            "&amp", "&#38;", "&#38", "&#x26;", "&#", "&#zz;", ";", "/",
            "=", '"', "'", " ", "\n", "\t", "text", "x", "1", "é", "<p",
            "</", "</>", "</ ", "<![", "]]>", "main", "<main>", "</main>",
            "<article>", "</article>", "role='main'", "class=\"sidebar\"",
            "<p x=", "junk>", "<b><i>", "</b></i>", "\x0c",
        ]
    )

    @settings(max_examples=400, deadline=None)
    @given(st.lists(_FRAGMENTS, min_size=0, max_size=30))
    def test_fast_equals_slow_fuzz_fragments(frags):
        _eq("".join(frags))

    @settings(max_examples=200, deadline=None)
    @given(st.text(min_size=0, max_size=200))
    def test_fast_equals_slow_fuzz_raw_text(text):
        _eq(text)
