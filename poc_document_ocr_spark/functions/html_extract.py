"""HTML main-content extractor with character-span provenance.

Boilerpipe/Readability-style block scoring over an HTML event stream.
This is the rebuild's analog of the reference's per-page OCR field
extraction (``DocumentIntelligenceService.cs:72-201``): per unit of work,
produce the "payload that matters" plus provenance.

Two event-stream backends produce IDENTICAL events (pinned by
differential tests, including hypothesis fuzz — tests/test_html_fast.py):

* ``_fast_collect`` — the default: a single-pass scanner with absolute
  codepoint offsets that reimplements the stdlib ``html.parser`` event
  semantics (same module-level regexes, same tolerant-markup quirks,
  same feed()-then-close() two-pass buffering behavior) while skipping
  the stdlib's per-event line/column bookkeeping (``updatepos`` /
  ``getpos``) and per-call method dispatch. Outside CDATA mode the common
  tokens — a text run, an attribute-less start or end tag — take one
  regex match each (``_FAST_LANE``); everything else goes through the
  general branches. Repeated tag sources are memoized (corpus HTML
  repeats heavily), as are entity decodes. A segment is a plain
  ``(start, end, text)`` tuple, and each block counts its raw and link
  lengths as segments arrive. Over perfbench's ``extract`` corpus (seed 7),
  on one core of a 4-core host, an HTML payload takes ~57–68 µs against
  ~145–165 µs for the stdlib twin; this is the hot loop of the extraction
  pass.
* ``_OffsetParser`` — the stdlib ``html.parser`` twin (lxml is not
  available in this environment). The fast scanner bails to this twin
  for the one construct family it does not replicate (``<![`` marked
  sections) and for any parser state it cannot prove it handles —
  correctness never depends on the fast path being complete.

The fast scanner copies the event semantics of one ``html.parser``
source: CPython 3.11.7's. At import, a hash of the running interpreter's
``html.parser`` source is compared with that pin; on a mismatch the fast
path is switched off, with one warning, and every payload takes the
stdlib twin.

Span semantics (the per-turn invariant surface):

* Spans are **Python-str codepoint offsets into the original input text**.
* Each span ``(start, end)`` is a source range whose (entity-decoded) text
  contributed, in order, to ``extracted_text``.
* Block texts are joined with ``"\\n\\n"``; those separators are synthetic and
  are not covered by any span.

Deterministic by construction — no wall clock, no randomness, no I/O.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import re
import warnings
from dataclasses import dataclass
from html import parser as _html_parser
from html import unescape
from html.parser import (
    HTMLParser,
    attrfind_tolerant,
    charref,
    commentclose,
    endtagfind,
    entityref,
    incomplete,
    interesting_normal,
    locatestarttagend_tolerant,
    piclose,
    starttagopen,
    tagfind_tolerant,
)

__all__ = ["extract_html", "extract_html_slow", "HtmlExtraction"]

#: Subtrees that never contribute content.
_DROP_TAGS = frozenset(
    {
        "script", "style", "noscript", "template", "head", "title", "meta",
        "link", "nav", "footer", "aside", "header", "form", "iframe", "svg",
        "button", "select", "option", "label", "figcaption",
    }
)

#: Tags that open a new text block.
_BLOCK_TAGS = frozenset(
    {
        "p", "div", "article", "section", "main", "li", "ul", "ol", "table",
        "tr", "td", "th", "h1", "h2", "h3", "h4", "h5", "h6", "blockquote",
        "pre", "br", "hr", "body", "figure", "dd", "dt", "dl",
    }
)

#: Containers that mark the main-content subtree.
_MAIN_TAGS = frozenset({"article", "main"})

#: class/id substrings that mark boilerplate containers (Readability-style).
_BOILER_RE = re.compile(
    r"comment|sidebar|side-bar|footer|footnote|nav|menu|advert|promo|banner"
    r"|cookie|share|social|related|breadcrumb|widget|masthead|copyright",
    re.IGNORECASE,
)

#: Void elements — never pushed on the open-tag stack.
_VOID_TAGS = frozenset(
    {"br", "hr", "img", "input", "meta", "link", "area", "base", "col",
     "embed", "source", "track", "wbr"}
)

#: Maximum link-text density for a block to survive outside <article>/<main>.
_MAX_LINK_DENSITY = 0.4

#: Minimum block length (codepoints, entity-decoded, whitespace-collapsed)
#: for a block to survive density scoring outside <article>/<main>.
_MIN_BLOCK_LEN = 1


class _Block:
    """One text block: its segments are ``(start, end, text)`` tuples, a
    source range and its entity-decoded text; ``raw_len``/``link_len``
    count the decoded codepoints of all of them / of those inside <a>."""

    __slots__ = ("segments", "in_main", "boiler", "raw_len", "link_len")

    def __init__(self, in_main: bool, boiler: bool) -> None:
        self.segments: list[tuple[int, int, str]] = []
        self.in_main = in_main
        self.boiler = boiler
        self.raw_len = 0
        self.link_len = 0


@dataclass
class HtmlExtraction:
    extracted_text: str
    spans: list[tuple[int, int]]
    rule: str  # 'article' | 'density' | 'empty'


class _Collector:
    """The block-building state machine, event-source agnostic.

    Driven identically by the stdlib parser twin (via line/col → absolute
    offset translation) and the fast scanner (absolute offsets natively).
    """

    __slots__ = (
        "blocks", "_stack", "_drop_depth", "_main_depth", "_boiler_depth",
        "_link_depth", "saw_main", "_current",
    )

    def __init__(self) -> None:
        self.blocks: list[_Block] = []
        # open tags: (tag, is_drop, is_main, is_boiler, is_link)
        self._stack: list[tuple[str, bool, bool, bool, bool]] = []
        self._drop_depth = 0                 # inside a _DROP_TAGS subtree
        self._main_depth = 0                 # inside an <article>/<main> subtree
        self._boiler_depth = 0               # inside a boilerplate-classed subtree
        self._link_depth = 0                 # inside <a>
        self.saw_main = False
        self._current: _Block | None = None

    # -- events ------------------------------------------------------------

    def starttag(self, tag: str, attrs) -> None:
        if tag in _BLOCK_TAGS:
            self._current = None
        if tag in _VOID_TAGS:
            return
        is_drop = tag in _DROP_TAGS
        if attrs:
            is_main = tag in _MAIN_TAGS or any(
                k == "role" and v == "main" for k, v in attrs
            )
            is_boiler = any(
                k in ("class", "id") and v and _BOILER_RE.search(v)
                for k, v in attrs
            )
        else:
            is_main = tag in _MAIN_TAGS
            is_boiler = False
        is_link = tag == "a"
        self._stack.append((tag, is_drop, is_main, is_boiler, is_link))
        if is_drop:
            self._drop_depth += 1
        if is_main:
            self._main_depth += 1
            self.saw_main = True
        if is_boiler:
            self._boiler_depth += 1
        if is_link:
            self._link_depth += 1

    def startendtag(self, tag: str) -> None:
        if tag in _BLOCK_TAGS:
            self._current = None

    def endtag(self, tag: str) -> None:
        if tag in _BLOCK_TAGS:
            self._current = None
        if tag in _VOID_TAGS:
            return
        stack = self._stack
        if stack and stack[-1][0] == tag:
            # well-nested close — the overwhelmingly common case
            _t, drop, main, boiler, link = stack.pop()
            if drop:
                self._drop_depth -= 1
            if main:
                self._main_depth -= 1
            if boiler:
                self._boiler_depth -= 1
            if link:
                self._link_depth -= 1
            return
        # pop to the matching open tag (tolerate unbalanced markup)
        for i in range(len(stack) - 1, -1, -1):
            if stack[i][0] == tag:
                for _t, drop, main, boiler, link in stack[i:]:
                    if drop:
                        self._drop_depth -= 1
                    if main:
                        self._main_depth -= 1
                    if boiler:
                        self._boiler_depth -= 1
                    if link:
                        self._link_depth -= 1
                del stack[i:]
                break

    def emit(self, start: int, src_len: int, decoded: str) -> None:
        if self._drop_depth or not decoded:
            return
        block = self._current
        if decoded.isspace():
            # inter-block whitespace (indentation between tags) is noise, but
            # whitespace inside an open block separates words — keep it there
            if block is None or not block.segments:
                return
        elif block is None:
            block = self._current = _Block(
                self._main_depth > 0, self._boiler_depth > 0
            )
            self.blocks.append(block)
        block.segments.append((start, start + src_len, decoded))
        block.raw_len += len(decoded)
        if self._link_depth:
            block.link_len += len(decoded)


class _OffsetParser(HTMLParser):
    """Stdlib twin: collects text segments with absolute codepoint offsets.

    ``convert_charrefs=False`` so that every ``handle_data`` chunk is exactly a
    source substring and entity/char refs arrive as separate events with their
    own source positions — this is what makes span offsets exact.
    """

    def __init__(self, text: str) -> None:
        super().__init__(convert_charrefs=False)
        self._text = text
        # absolute offset of the start of each line (getpos() is line/col)
        self._line_starts = [0]
        for m in re.finditer("\n", text):
            self._line_starts.append(m.end())
        self.coll = _Collector()

    def _abs(self) -> int:
        line, col = self.getpos()
        return self._line_starts[line - 1] + col

    def handle_starttag(self, tag, attrs):
        self.coll.starttag(tag, attrs)

    def handle_startendtag(self, tag, attrs):
        self.coll.startendtag(tag)

    def handle_endtag(self, tag):
        self.coll.endtag(tag)

    def handle_data(self, data):
        self.coll.emit(self._abs(), len(data), data)

    def handle_entityref(self, name):
        self._ref(f"&{name};")

    def handle_charref(self, name):
        self._ref(f"&#{name};")

    def _ref(self, src):
        # the parser consumes the trailing ';' only when the source has one
        start = self._abs()
        src_len = len(src) - 1
        if self._text.startswith(";", start + src_len):
            src_len += 1
        self.coll.emit(start, src_len, unescape(src))


# ---------------------------------------------------------------------------
# Fast scanner: stdlib-parser event semantics at absolute offsets.
# ---------------------------------------------------------------------------

class _FastBail(Exception):
    """Raised when the fast scanner meets a construct it does not replicate;
    the caller re-runs the whole payload through the stdlib twin."""


#: CDATA content elements and their close-tag scanners (3.11 semantics:
#: ``interesting`` becomes ``</\s*tag\s*>`` — a FULL close tag pattern).
_CDATA_ELEMS = ("script", "style")
_CDATA_CLOSE = {
    t: re.compile(r"</\s*%s\s*>" % t, re.IGNORECASE) for t in _CDATA_ELEMS
}

#: The common tokens outside CDATA mode, one match each: a text run (what
#: the ``interesting_normal`` search would hand to ``handle_data``), an
#: attribute-less start tag (group 1) or an attribute-less end tag
#: (group 2). Tag names are restricted to [a-zA-Z0-9] so the tag lanes can
#: never disagree with ``tagfind_tolerant``'s longer name grammar: a start
#: tag takes the general path's locatestarttagend → '>' → no attrs, an end
#: tag ``parse_endtag``'s full-match branch. Anything else falls through to
#: the general branches.
_FAST_LANE = re.compile(
    r"[^<&]+|<([a-zA-Z][a-zA-Z0-9]*)>|</([a-zA-Z][a-zA-Z0-9]*)>"
)

#: Memo of parsed start-tag sources → (kind, tag, attrs) where kind is
#: 'start' | 'startend' | 'data' (the tolerant junk path). Corpus tag
#: sources repeat heavily; bounded to keep a pathological corpus from
#: growing it without limit.
_TAG_MEMO: dict[str, tuple[str, str | None, list | None]] = {}
_TAG_MEMO_MAX = 8192

#: Memo of entity/charref source → decoded text.
_REF_MEMO: dict[str, str] = {}
_REF_MEMO_MAX = 4096


def _parse_starttag_src(src: str) -> tuple[str, str | None, list | None]:
    """Parse one complete start-tag source (mirrors ``parse_starttag``'s
    tag/attr extraction, html/parser.py:299-341)."""
    m = tagfind_tolerant.match(src, 1)
    tag = m.group(1).lower()
    k = m.end()
    endpos = len(src)
    attrs: list[tuple[str, str | None]] = []
    while k < endpos:
        am = attrfind_tolerant.match(src, k)
        if not am:
            break
        attrname, rest, attrvalue = am.group(1, 2, 3)
        if not rest:
            attrvalue = None
        elif attrvalue[:1] == "'" == attrvalue[-1:] or \
                attrvalue[:1] == '"' == attrvalue[-1:]:
            attrvalue = attrvalue[1:-1]
        if attrvalue:
            attrvalue = unescape(attrvalue)
        attrs.append((attrname.lower(), attrvalue))
        k = am.end()
    end = src[k:].strip()
    if end not in (">", "/>"):
        return ("data", None, None)
    if end.endswith("/>"):
        return ("startend", tag, attrs)
    return ("start", tag, attrs)


def _ref_decode(src: str) -> str:
    d = _REF_MEMO.get(src)
    if d is None:
        d = unescape(src)
        if len(_REF_MEMO) < _REF_MEMO_MAX:
            _REF_MEMO[src] = d
    return d


def _fast_goahead(
    text: str, coll: _Collector, i: int, end: int, cdata_elem: str | None
) -> tuple[int, str | None]:
    """One ``goahead`` pass (html/parser.py:133-247) at absolute offsets.

    Returns (resume position, cdata state). Called twice — end=0 (the
    single ``feed``) then end=1 (``close``) — so the stdlib's buffered
    -1/break paths, which change behavior between the two calls, are
    replicated exactly.
    """
    n = len(text)
    startswith = text.startswith
    find = text.find
    emit = coll.emit
    lane = _FAST_LANE.match
    while i < n:
        if cdata_elem is None:
            m = lane(text, i)
            if m:
                k = m.end()
                if m.lastindex is None:
                    emit(i, k - i, m.group())
                elif m.lastindex == 1:
                    tag = m.group(1).lower()
                    coll.starttag(tag, ())
                    if tag in _CDATA_ELEMS:
                        cdata_elem = tag
                else:
                    coll.endtag(m.group(2).lower())
                i = k
                continue
        interesting = _CDATA_CLOSE[cdata_elem] if cdata_elem else interesting_normal
        m = interesting.search(text, i)
        if m:
            j = m.start()
        else:
            if cdata_elem:
                break
            j = n
        if i < j:
            emit(i, j - i, text[i:j])
        i = j
        if i == n:
            break
        if startswith("<", i):
            if starttagopen.match(text, i):  # < + letter
                k, cd = _fast_starttag(text, coll, i)
                if cd is not None:
                    cdata_elem = cd
            elif startswith("</", i):
                k, cdata_elem = _fast_endtag(text, coll, i, cdata_elem)
            elif startswith("<!--", i):
                mm = commentclose.search(text, i + 4)
                k = mm.end() if mm else -1
            elif startswith("<?", i):
                mm = piclose.search(text, i + 2)
                k = mm.end() if mm else -1
            elif startswith("<!", i):
                # parse_html_declaration (html/parser.py:249-272)
                if startswith("<![", i):
                    raise _FastBail("marked section")
                if text[i:i + 9].lower() == "<!doctype":
                    gtpos = find(">", i + 9)
                    k = -1 if gtpos == -1 else gtpos + 1
                else:
                    # bogus comment
                    pos = find(">", i + 2)
                    k = -1 if pos == -1 else pos + 1
            elif (i + 1) < n:
                emit(i, 1, "<")
                k = i + 1
            else:
                break
            if k < 0:
                if not end:
                    break
                k = find(">", i + 1)
                if k < 0:
                    k = find("<", i + 1)
                    if k < 0:
                        k = i + 1
                else:
                    k += 1
                emit(i, k - i, text[i:k])
            i = k
        elif startswith("&#", i):
            mm = charref.match(text, i)
            if mm:
                name = mm.group()[2:-1]
                k = mm.end()
                if not startswith(";", k - 1):
                    k = k - 1
                emit(i, k - i, _ref_decode(f"&#{name};"))
                i = k
                continue
            else:
                if ";" in text[i:]:  # bail by consuming &#
                    emit(i, 2, text[i:i + 2])
                    i = i + 2
                break
        elif startswith("&", i):
            mm = entityref.match(text, i)
            if mm:
                name = mm.group(1)
                k = mm.end()
                if not startswith(";", k - 1):
                    k = k - 1
                emit(i, k - i, _ref_decode(f"&{name};"))
                i = k
                continue
            mm = incomplete.match(text, i)
            if mm:
                if end and mm.group() == text[i:]:
                    i = i + 1
                break
            elif (i + 1) < n:
                emit(i, 1, "&")
                i = i + 1
            else:
                break
        else:
            raise _FastBail("interesting desync")
    if end and i < n and not cdata_elem:
        emit(i, n - i, text[i:n])
        i = n
    return i, cdata_elem


def _fast_starttag(
    text: str, coll: _Collector, i: int
) -> tuple[int, str | None]:
    """``parse_starttag`` + ``check_for_whole_start_tag``
    (html/parser.py:299-374) with memoized tag-source parsing.

    Returns (end position or -1, cdata element entered or None)."""
    m = locatestarttagend_tolerant.match(text, i)
    if not m:
        raise _FastBail("locatestarttagend failed")
    j = m.end()
    nxt = text[j:j + 1]
    if nxt == ">":
        endpos = j + 1
    elif nxt == "/":
        if text.startswith("/>", j):
            endpos = j + 2
        else:
            return -1, None  # buffer boundary
    elif nxt == "":
        return -1, None  # end of input
    elif nxt in "abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ":
        return -1, None  # end of input in or before attribute value
    else:
        endpos = j if j > i else i + 1
    src = text[i:endpos]
    parsed = _TAG_MEMO.get(src)
    if parsed is None:
        parsed = _parse_starttag_src(src)
        if len(_TAG_MEMO) < _TAG_MEMO_MAX:
            _TAG_MEMO[src] = parsed
    kind, tag, attrs = parsed
    if kind == "data":
        coll.emit(i, endpos - i, src)
    elif kind == "startend":
        coll.startendtag(tag)
    else:
        coll.starttag(tag, attrs)
        if tag in _CDATA_ELEMS:
            return endpos, tag
    return endpos, None


def _fast_endtag(
    text: str, coll: _Collector, i: int, cdata_elem: str | None
) -> tuple[int, str | None]:
    """``parse_endtag`` (html/parser.py:377-416)."""
    gtpos0 = text.find(">", i + 1)  # endendtag.search
    if gtpos0 == -1:
        return -1, cdata_elem
    gtpos = gtpos0 + 1
    m = endtagfind.match(text, i)  # </ + tag + >
    if not m:
        if cdata_elem is not None:
            coll.emit(i, gtpos - i, text[i:gtpos])
            return gtpos, cdata_elem
        nm = tagfind_tolerant.match(text, i + 2)
        if not nm:
            if text[i:i + 3] == "</>":
                return i + 3, cdata_elem
            # bogus comment path
            pos = text.find(">", i + 2)
            return (-1 if pos == -1 else pos + 1), cdata_elem
        tagname = nm.group(1).lower()
        gt = text.find(">", nm.end())
        if gt == -1:
            # CPython would return 0 here after firing the event (a
            # quirk that can only arise when the '>' seen by endendtag
            # precedes the tag name, which the grammar forbids) — bail
            # rather than guess.
            raise _FastBail("tolerant endtag without gt")
        coll.endtag(tagname)
        return gt + 1, cdata_elem
    elem = m.group(1).lower()
    if cdata_elem is not None:
        if elem != cdata_elem:
            coll.emit(i, gtpos - i, text[i:gtpos])
            return gtpos, cdata_elem
    coll.endtag(elem)
    return gtpos, None  # clear_cdata_mode


def _fast_collect(text: str) -> _Collector:
    coll = _Collector()
    i, cdata = _fast_goahead(text, coll, 0, 0, None)   # feed(text)
    _fast_goahead(text, coll, i, 1, cdata)             # close()
    return coll


def _score(coll: _Collector) -> HtmlExtraction:
    """Block scoring, shared by both backends."""
    blocks = [b for b in coll.blocks if b.segments and not b.boiler]
    if coll.saw_main:
        kept = [b for b in blocks if b.in_main]
        rule = "article"
        # inside the main container, still drop pure link farms
        kept = [
            b
            for b in kept
            if b.raw_len > 0
            and (b.link_len / b.raw_len) <= _MAX_LINK_DENSITY
        ]
    else:
        rule = "density"
        kept = []
        for b in blocks:
            rl = b.raw_len
            if rl < _MIN_BLOCK_LEN:
                continue
            if rl and (b.link_len / rl) > _MAX_LINK_DENSITY:
                continue
            kept.append(b)

    parts: list[str] = []
    spans: list[tuple[int, int]] = []
    for b in kept:
        btxt, bspans = _trim_block(b)
        if not btxt:
            continue
        parts.append(btxt)
        spans.extend(bspans)
    if not parts:
        return HtmlExtraction("", [], "empty")
    return HtmlExtraction("\n\n".join(parts), spans, rule)


def _trim_block(block: _Block) -> tuple[str, list[tuple[int, int]]]:
    """Render a block: concat segments, strip outer whitespace, adjust spans."""
    segs = list(block.segments)
    # drop whitespace-only segments at either edge, then trim the edges of
    # what remains (HTML outer whitespace is presentation, not content)
    while segs and segs[0][2].isspace():
        segs.pop(0)
    while segs and segs[-1][2].isspace():
        segs.pop()
    out_parts: list[str] = []
    out_spans: list[tuple[int, int]] = []
    n = len(segs)
    for i, (s, e, txt) in enumerate(segs):
        # source and decoded text align 1:1 only for plain data segments
        # (entity refs decode to a different length) — only then may span
        # edges be trimmed along with the text
        aligned = (e - s) == len(txt)
        if i == 0:
            stripped = txt.lstrip()
            if aligned:
                s += len(txt) - len(stripped)
            txt = stripped
        if i == n - 1:
            stripped = txt.rstrip()
            if aligned:
                e -= len(txt) - len(stripped)
            txt = stripped
        if not txt:
            continue
        out_parts.append(txt)
        out_spans.append((s, e))
    return "".join(out_parts), out_spans


#: sha256 of ``inspect.getsource(html.parser)`` on CPython 3.11.7, the
#: source whose regexes and tolerant-markup quirks ``_fast_collect`` copies.
_HTML_PARSER_SHA256 = (
    "2fc512ae95bed2746b5ba3fabb14fcebf3114ff808ce97d96214ddd613b253da"
)


def _parser_matches_pin() -> bool:
    """True on the pinned ``html.parser``; otherwise warn and return False."""
    try:
        src = inspect.getsource(_html_parser)
    except OSError:  # no source to compare counts as drift
        src = ""
    if hashlib.sha256(src.encode()).hexdigest() == _HTML_PARSER_SHA256:
        return True
    warnings.warn("html.parser differs from the source the fast HTML scanner "
                  "reimplements; extract_html uses the stdlib twin",
                  RuntimeWarning)
    return False


_FORCE_SLOW = (not _parser_matches_pin()
               or os.environ.get("SPARK_GRAFT_HTML_SLOW", "") == "1")


def extract_html_slow(text: str) -> HtmlExtraction:
    """Extract via the stdlib ``html.parser`` twin (differential reference)."""
    if not text or not text.strip():
        return HtmlExtraction("", [], "empty")
    parser = _OffsetParser(text)
    parser.feed(text)
    parser.close()
    return _score(parser.coll)


def extract_html(text: str) -> HtmlExtraction:
    """Extract main content + spans from an HTML payload."""
    if not text or not text.strip():
        return HtmlExtraction("", [], "empty")
    if _FORCE_SLOW:
        return extract_html_slow(text)
    try:
        return _score(_fast_collect(text))
    except _FastBail:
        return extract_html_slow(text)
