"""Per-format dispatcher: sniff a turn's ``text`` payload and extract.

Reference analog: the single external-"UDF" boundary in the reference is the
per-page OCR call (``DocumentIntelligenceService.AnalyzeDocumentAsync``,
``DocumentIntelligenceService.cs:72-201``) which turns one unit's raw payload
into a typed record. Here the payload is text in one of four families —
HTML, PDF-layout-style, markdown, plain — and the dispatcher picks the engine.

Output contract (``schema.EXTRACTION_TYPE``)::

    (extracted_text: str | None,
     spans: list[(start, end)],   # codepoint offsets into the ORIGINAL text
     rule: str,                   # which extraction rule fired
     fmt: str)                    # 'html' | 'layout' | 'md' | 'plain' | 'empty'

Deterministic; pure Python; safe to call per element inside an Arrow batch.
"""

from __future__ import annotations

import re

from .html_extract import extract_html
from .md_extract import extract_markdown
from .pdf_layout import extract_layout

__all__ = ["sniff_format", "extract", "extract_safe"]

#: Strong markdown signals: a fence, an ATX heading at line start, or an
#: inline link whose TARGET looks like a URL/path. Deliberately
#: conservative — prose that merely contains '#' or '*' mid-line stays
#: 'plain', and bracket-then-paren prose ("ref[1](chapter 2)") is NOT a
#: link (identity extraction is the safe default; a false 'md' positive
#: would strip content).
_MD_RE = re.compile(
    r"^ {0,3}(?:```|~~~)"        # fenced code block
    r"|^ {0,3}#{1,6} \S"         # ATX heading
    # [text](target) only when target is scheme/path/anchor-shaped
    r"|\[[^\]\n]+\]\((?:https?://|www\.|/|#|\./|\.\./)[^)\n]*\)",
    re.MULTILINE,
)

#: Real HTML markers: a closing tag, a doctype, or a known opening tag.
_HTML_TAG_RE = re.compile(
    r"</\s*[a-zA-Z][a-zA-Z0-9]*\s*>"
    r"|<!doctype\s+html"
    r"|<(?:html|head|body|div|p|a|span|article|main|section|nav|footer|aside|"
    r"header|ul|ol|li|table|tr|td|th|h[1-6]|br|hr|img|blockquote|pre|em|"
    r"strong|b|i|form|script|style|title)\b[^>]*>",
    re.IGNORECASE,
)

#: A line with an interior multi-space gutter (layout-ish).
_GUTTER_LINE_RE = re.compile(r"\S(?:  +| {3,})\S")


def sniff_format(text: str | None) -> str:
    """Classify a payload as 'html' | 'layout' | 'md' | 'plain' | 'empty'."""
    if text is None or not text.strip():
        return "empty"
    # HTML: at least two real tag matches; the scan stops at the second
    tags = _HTML_TAG_RE.finditer(text)
    if next(tags, None) and next(tags, None):
        return "html"
    # layout: form feeds (page breaks) or several gutter lines; a gutter
    # needs two consecutive spaces, so without them no line is one
    if "\x0c" in text:
        return "layout"
    lines = text.split("\n")
    if len(lines) >= 2 and "  " in text:
        gutter_lines = sum(
            1 for ln in lines if ln.strip() and _GUTTER_LINE_RE.search(ln)
        )
        nonblank = sum(1 for ln in lines if ln.strip())
        if nonblank >= 2 and gutter_lines >= max(2, nonblank // 2):
            return "layout"
    if _MD_RE.search(text):
        return "md"
    return "plain"


def extract(text: str | None) -> tuple[str | None, list[tuple[int, int]], str, str]:
    """Dispatch on sniffed format; returns (extracted_text, spans, rule, fmt)."""
    fmt = sniff_format(text)
    if fmt == "empty":
        return ("", [], "empty", "empty")
    assert text is not None
    if fmt == "html":
        r = extract_html(text)
        return (r.extracted_text, r.spans, r.rule, "html")
    if fmt == "layout":
        r = extract_layout(text)
        return (r.extracted_text, r.spans, r.rule, "layout")
    if fmt == "md":
        r = extract_markdown(text)
        return (r.extracted_text, r.spans, r.rule, "md")
    # plain: identity extraction, one full-range span
    return (text, [(0, len(text))], "plain", "plain")


def extract_safe(
    text: str | None, fn=extract
) -> tuple[str | None, list[tuple[int, int]], str, str]:
    """Error-isolated :func:`extract`: one poisoned payload must not abort
    the batch (reference constitution ``.specify/memory/constitution.md:126-127``
    — a single page/document failure is recorded, not fatal). A row whose
    extraction raises becomes an empty record with ``rule='error'`` /
    ``fmt='error'``, so failures are countable in the lineage rule-hit map
    and filterable downstream, exactly like the reference's Failed pages."""
    try:
        return fn(text)
    except Exception:
        return ("", [], "error", "error")
