"""Table tests for the extraction engines — the rebuild's analog of the
reference's DateFieldParserTests / DocumentIntelligenceServiceAnalyzeTests.

Invariants checked here (FIXTURES.md §2):
* spans are Python-str codepoint offsets into the ORIGINAL text;
* for plain data segments, text[start:end] reproduces the contributing slice;
* deterministic output.
"""

from hypothesis import given, settings
from hypothesis import strategies as st

from poc_document_ocr_spark.functions.dispatch import (
    _GUTTER_LINE_RE,
    _HTML_TAG_RE,
    _MD_RE,
    extract,
    extract_safe,
    sniff_format,
)
from poc_document_ocr_spark.functions.html_extract import extract_html
from poc_document_ocr_spark.functions.pdf_layout import extract_layout
from poc_document_ocr_spark.functions.selection import (
    TurnSelection,
    TurnSelectionError,
)

import pytest


# ---------------------------------------------------------------------------
# HTML
# ---------------------------------------------------------------------------


def test_html_article_kept_boilerplate_dropped():
    html = (
        "<html><head><title>T</title></head><body>"
        "<nav>Home | About | Contact</nav>"
        "<article><p>The main story text.</p></article>"
        "<footer>Copyright 2026</footer>"
        "</body></html>"
    )
    r = extract_html(html)
    assert r.extracted_text == "The main story text."
    assert r.rule == "article"
    assert len(r.spans) == 1
    s, e = r.spans[0]
    assert html[s:e] == "The main story text."


def test_html_aside_and_header_dropped():
    html = (
        "<body><header>Site Header</header><aside>ads ads ads</aside>"
        "<main><p>Content A.</p><p>Content B.</p></main></body>"
    )
    r = extract_html(html)
    assert r.extracted_text == "Content A.\n\nContent B."
    assert r.rule == "article"
    assert [html[s:e] for s, e in r.spans] == ["Content A.", "Content B."]


def test_html_high_link_density_block_dropped():
    html = (
        "<body>"
        "<div><a href='/1'>link one</a> <a href='/2'>link two</a> "
        "<a href='/3'>link three</a></div>"
        "<div>This is a long paragraph of real body content with many words "
        "and only one <a href='/x'>link</a> inside it.</div>"
        "</body>"
    )
    r = extract_html(html)
    assert "link one" not in r.extracted_text
    assert r.extracted_text.startswith("This is a long paragraph")
    assert r.rule == "density"


def test_html_entity_decoding_with_spans():
    html = "<article><p>Fish &amp; Chips &#8212; great</p></article>"
    r = extract_html(html)
    assert r.extracted_text == "Fish & Chips — great"
    # reconstructing from spans + entity decode reproduces the text
    import html as html_mod

    rebuilt = "".join(html_mod.unescape(html[s:e]) for s, e in r.spans)
    assert rebuilt == r.extracted_text


def test_html_nested_markup_inline_tags():
    html = "<main><p>Hello <b>brave</b> new <i>world</i></p></main>"
    r = extract_html(html)
    assert r.extracted_text == "Hello brave new world"
    assert [html[s:e] for s, e in r.spans] == [
        "Hello ",
        "brave",
        " new ",
        "world",
    ]


def test_html_boilerplate_only_page_empty():
    html = "<body><nav>a b c</nav><footer>x y z</footer></body>"
    r = extract_html(html)
    assert r.extracted_text == ""
    assert r.spans == []
    assert r.rule == "empty"


def test_html_boiler_class_dropped():
    html = (
        "<body><div class='sidebar'>junk junk junk junk</div>"
        "<div>Real content sentence here.</div></body>"
    )
    r = extract_html(html)
    assert r.extracted_text == "Real content sentence here."


def test_html_empty_input():
    assert extract_html("").rule == "empty"
    assert extract_html("   ").rule == "empty"


def test_html_script_style_dropped():
    html = (
        "<body><script>var x = 1;</script><style>p{color:red}</style>"
        "<p>Visible text only.</p></body>"
    )
    r = extract_html(html)
    assert r.extracted_text == "Visible text only."


# ---------------------------------------------------------------------------
# PDF-layout
# ---------------------------------------------------------------------------


def test_layout_single_column_passthrough():
    text = "First line of text.\nSecond line of text.\nThird line."
    r = extract_layout(text)
    assert r.extracted_text == text
    assert [text[s:e] for s, e in r.spans] == text.split("\n")
    assert r.rule == "layout-1col"


def test_layout_two_column_reading_order():
    #           0123456789...
    text = (
        "Left one.      Right one.\n"
        "Left two.      Right two.\n"
        "Left three.    Right three."
    )
    r = extract_layout(text)
    assert r.extracted_text == (
        "Left one.\nLeft two.\nLeft three.\n"
        "Right one.\nRight two.\nRight three."
    )
    assert r.rule == "layout-2col"
    for (s, e), frag in zip(r.spans, r.extracted_text.split("\n")):
        assert text[s:e] == frag


def test_layout_page_number_footer_stripped():
    text = "Body line alpha.\nBody line beta.\nPage 3 of 10"
    r = extract_layout(text)
    assert r.extracted_text == "Body line alpha.\nBody line beta."


def test_layout_repeated_headers_across_pages_stripped():
    text = (
        "ACME QUARTERLY REPORT\nAlpha content.\n- 1 -\x0c"
        "ACME QUARTERLY REPORT\nBeta content.\n- 2 -"
    )
    r = extract_layout(text)
    assert r.extracted_text == "Alpha content.\nBeta content."


def test_layout_empty():
    assert extract_layout("").rule == "empty"


# ---------------------------------------------------------------------------
# Dispatcher
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    ("payload", "fmt"),
    [
        ("<html><body><p>x</p></body></html>", "html"),
        ("<div>a</div><div>b</div>", "html"),
        ("just plain text with no markup", "plain"),
        ("# markdown title\nsome prose", "md"),
        ("see [a link](http://x) here", "md"),
        ("price #3 and a * b", "plain"),  # mid-line md chars are not md
        # bracket-then-paren prose is NOT a link — a false 'md' positive
        # would destructively strip "(chapter 2)" from plain text
        ("see ref[1](chapter 2) for details", "plain"),
        ("call arr[0](ctx) here", "plain"),
        ("col a      col b\ncol c      col d", "layout"),
        ("col a  col b\ncol c  col d", "layout"),  # two-space gutters
        ("page one\x0cpage two", "layout"),
        ("", "empty"),
        (None, "empty"),
        ("   \n  ", "empty"),
        ("a < b and c > d", "plain"),  # lone angle brackets are not HTML
    ],
)
def test_sniff(payload, fmt):
    assert sniff_format(payload) == fmt


def _sniff_reference(text):
    """``sniff_format`` as a ``findall`` of every tag and a gutter scan of
    every line, with no early exit."""
    if text is None or not text.strip():
        return "empty"
    if len(_HTML_TAG_RE.findall(text)) >= 2:
        return "html"
    if "\x0c" in text:
        return "layout"
    lines = text.split("\n")
    if len(lines) >= 2:
        gutter_lines = sum(
            1 for ln in lines if ln.strip() and _GUTTER_LINE_RE.search(ln)
        )
        nonblank = sum(1 for ln in lines if ln.strip())
        if nonblank >= 2 and gutter_lines >= max(2, nonblank // 2):
            return "layout"
    if _MD_RE.search(text):
        return "md"
    return "plain"


def test_sniff_equals_reference_on_synthetic_corpus():
    from poc_document_ocr_spark.sources.datagen import generate

    fmts = set()
    for row in generate(n_convs=200, seed=42).turns:
        fmt = sniff_format(row[3])
        assert fmt == _sniff_reference(row[3]), row[3]
        fmts.add(fmt)
    assert {"html", "layout", "plain"} <= fmts


_SNIFF_FRAGMENTS = st.sampled_from(
    [
        "<", ">", "</", "<p>", "</p>", "<div class='a'>", "</div>", "<br>",
        "<!doctype html>", "</ x >", "<b", "\x0c", "\n", " ", "  ", "   ",
        "\t", "word", "a", "1", "# ", "## h", "```", "~~~", "[t](http://x)",
        "[t](chapter 2)", "*", "#", "é",
    ]
)


@settings(max_examples=400, deadline=None)
@given(st.lists(_SNIFF_FRAGMENTS, min_size=0, max_size=40))
def test_sniff_equals_reference_fuzz(frags):
    text = "".join(frags)
    assert sniff_format(text) == _sniff_reference(text)


def test_extract_plain_identity_span():
    text = "plain text payload"
    ext, spans, rule, fmt = extract(text)
    assert ext == text
    assert spans == [(0, len(text))]
    assert (rule, fmt) == ("plain", "plain")


def test_extract_empty():
    assert extract(None) == ("", [], "empty", "empty")
    assert extract("  ") == ("", [], "empty", "empty")


def test_extract_deterministic():
    payload = "<main><p>Stable output &amp; spans.</p></main>"
    assert extract(payload) == extract(payload)


def test_extract_safe_isolates_exceptions():
    """One poisoned payload → an empty rule='error' record, not a raise
    (constitution: a single page failure must not abort the batch)."""

    def bomb(text):
        raise RuntimeError("boom")

    assert extract_safe("anything", fn=bomb) == ("", [], "error", "error")
    # non-throwing payloads pass straight through
    assert extract_safe("plain text") == extract("plain text")
    assert extract_safe(None) == ("", [], "empty", "empty")


def test_compact_extraction_rejects_unknown_key(spark):
    """The compact (keys + extraction) projection fails at analysis, on
    the driver, when a key is not in the input."""
    from pyspark.errors import AnalysisException

    from poc_document_ocr_spark.operators.extraction import extract_turns_arrow

    df = spark.createDataFrame(
        [("c", 0, "x")], "conv_id string, turn_idx int, text string"
    )
    with pytest.raises(AnalysisException, match="nope"):
        extract_turns_arrow(df, keys=("conv_id", "nope"))


def test_compact_extraction_key_order_independent(spark):
    """mapInArrow assigns columns positionally — passing keys in a
    different order than the input schema must still label them right."""
    from poc_document_ocr_spark.operators.extraction import extract_turns_arrow

    df = spark.createDataFrame(
        [("c1", 7, "hello world")],
        "conv_id string, turn_idx int, text string",
    )
    out = extract_turns_arrow(df, keys=("turn_idx", "conv_id"))
    assert out.columns == [
        "turn_idx", "conv_id", "extracted_text", "spans", "rule", "fmt"
    ]
    r = out.collect()[0]
    assert (r.turn_idx, r.conv_id, r.extracted_text) == (7, "c1", "hello world")


# ---------------------------------------------------------------------------
# Turn selection (PageSelection parity, FIXTURES.md §5)
# ---------------------------------------------------------------------------


def test_selection_all_sentinel():
    assert TurnSelection.parse(None).is_all
    assert TurnSelection.parse("").is_all
    assert TurnSelection.parse("   ").is_all


def test_selection_ranges_and_dedup():
    sel = TurnSelection.parse("3-12, 15")
    assert sel.turns == (3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 15)
    assert TurnSelection.parse("2,2,3-4,3").turns == (2, 3, 4)


@pytest.mark.parametrize("expr", ["abc", "1-", "-3", "5-2", "1,,2", "0"])
def test_selection_invalid(expr):
    with pytest.raises(TurnSelectionError):
        TurnSelection.parse(expr)


def test_extract_turns_passes_columns_through(spark):
    """extract_turns hands every input column back unchanged and in
    order — whatever the schema and column names, NULLs included — and
    appends the four extraction columns, equal per row to
    ``extract_safe(text)``. ``_ex`` is the name a struct-column
    implementation would use for its scratch column."""
    from datetime import datetime

    from pyspark.sql import types as T

    from poc_document_ocr_spark.operators.extraction import extract_turns
    from poc_document_ocr_spark.schema import EXTRACTION_TYPE

    rows = [
        (1, "<html><body><article><p>kept</p></article>"
            "<footer>x</footer></body></html>", None, "a"),
        (2, None, datetime(2024, 3, 1, 12, 30, 5, 123456), None),
        (3, "plain text turn", datetime(1999, 12, 31, 23, 59, 59), "c"),
        (4, "## Heading\n\nbody line", None, "d"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, ts timestamp, _ex string"
    )
    out = extract_turns(df)
    assert out.schema == T.StructType(df.schema.fields + EXTRACTION_TYPE.fields)
    got = sorted(out.collect(), key=lambda r: r.doc_id)
    assert [tuple(r)[:4] for r in got] == rows
    for r in got:
        ex = extract_safe(r.text)
        assert (r.extracted_text, [(s.start, s.end) for s in r.spans],
                r.rule, r.fmt) == (ex[0], list(ex[1]), ex[2], ex[3])


# ---------------------------------------------------------------------------
# markdown engine
# ---------------------------------------------------------------------------


class TestMarkdownExtraction:
    def _check_spans(self, doc, r):
        # the span invariant: source substrings compose the extracted text
        joined = "".join(doc[s:e] for s, e in r.spans)
        assert joined == r.extracted_text.replace("\n", "")
        assert all(0 <= s < e <= len(doc) for s, e in r.spans)

    def test_heading_and_prose(self):
        from poc_document_ocr_spark.functions.md_extract import (
            extract_markdown,
        )

        doc = "## Section Two\n\nplain prose line\n"
        r = extract_markdown(doc)
        assert r.extracted_text == "Section Two\nplain prose line"
        assert r.rule == "md_prose"
        self._check_spans(doc, r)

    def test_fence_dropped_whole(self):
        from poc_document_ocr_spark.functions.md_extract import (
            extract_markdown,
        )

        doc = "before\n```py\nx = 1\n# not a heading\n```\nafter\n"
        r = extract_markdown(doc)
        assert r.extracted_text == "before\nafter"
        self._check_spans(doc, r)

    def test_tilde_fence_and_unclosed_fence(self):
        from poc_document_ocr_spark.functions.md_extract import (
            extract_markdown,
        )

        doc = "~~~\ncode\n~~~\nkept\n```\ndangling"
        r = extract_markdown(doc)
        assert r.extracted_text == "kept"
        self._check_spans(doc, r)

    def test_quotes_bullets_hr_images_links_inline(self):
        from poc_document_ocr_spark.functions.md_extract import (
            extract_markdown,
        )

        doc = (
            "> quoted\n---\n- item one\n12. ordered item\n"
            "![alt text](http://img)\n"
            "go to [the docs](http://d) for `api` **details**\n"
        )
        r = extract_markdown(doc)
        assert r.extracted_text == (
            "quoted\nitem one\nordered item\n"
            "go to the docs for api details"
        )
        self._check_spans(doc, r)

    def test_image_only_line_vanishes_and_plain_brackets_survive(self):
        from poc_document_ocr_spark.functions.md_extract import (
            extract_markdown,
        )

        doc = "![x](y)\nvalue [0.91] stays\n"
        r = extract_markdown(doc)
        assert r.extracted_text == "value [0.91] stays"
        self._check_spans(doc, r)

    def test_dispatch_routes_md(self):
        from poc_document_ocr_spark.functions.dispatch import extract

        got = extract("# T\n\nbody text")
        assert (got[0], got[2], got[3]) == ("T\nbody text", "md_prose", "md")

    def test_crlf_input_drops_rules_and_carriage_returns(self):
        from poc_document_ocr_spark.functions.md_extract import (
            extract_markdown,
        )

        doc = "# T\r\n---\r\nkept line\r\n"
        r = extract_markdown(doc)
        assert r.extracted_text == "T\nkept line"
        assert "\r" not in r.extracted_text
        self._check_spans(doc, r)


def test_extract_turns_arrow_matches_golden(spark):
    """The keys + extraction projection reproduces the generator's golden
    text and format for every turn of a datagen corpus."""
    from poc_document_ocr_spark.operators.extraction import extract_turns_arrow
    from poc_document_ocr_spark.schema import TRANSCRIPT_SCHEMA
    from poc_document_ocr_spark.sources.datagen import generate

    data = generate(n_convs=40, median_turns=5, seed=7, skew=False)
    turns = spark.createDataFrame(data.turns, TRANSCRIPT_SCHEMA)
    got = {
        (r.conv_id, r.turn_idx): (r.extracted_text, r.fmt)
        for r in extract_turns_arrow(turns).collect()
    }
    assert got == data.golden and len(got) > 0


def test_span_lint_catches_contract_violations(spark):
    """A misbehaving extractor (unordered spans, bounds breach, identity
    lie on the plain path) must be counted per violation family — the
    fault-injection seam is the same extract_fn hook the error-isolation
    tests use."""
    from poc_document_ocr_spark.operators.extraction import (
        extract_turns,
        span_lint,
    )

    def bad_extract(text):
        return ("not the source", [(5, 2), (100, 200)], "plain", "plain")

    df = spark.createDataFrame(
        [(1, "short text")], "doc_id long, text string"
    )
    (row,) = span_lint(extract_turns(df, extract_fn=bad_extract)).collect()
    assert row["n_units"] == 1
    assert row["n_order_violations"] == 1
    assert row["n_bounds_violations"] == 1
    assert row["n_plain_violations"] == 1

    def good_extract(text):
        return (text, [(0, len(text))], "plain", "plain")

    (ok,) = span_lint(extract_turns(df, extract_fn=good_extract)).collect()
    assert (
        ok["n_order_violations"]
        == ok["n_bounds_violations"]
        == ok["n_plain_violations"]
        == 0
    )
    assert ok["covered_chars"] == ok["extracted_chars"] == 10
