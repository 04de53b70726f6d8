"""HTML -> DOM region tree with incrementally accumulated features.

Web analog of the reference's linear-time component-tree extraction
(``/root/reference/erfilter.c:364-683`` er_tree_extract) with the
per-pixel / per-merge incremental descriptor updates
(``erfilter.c:686-736`` er_add_pixel, ``erfilter.c:739-797`` er_merge):

  pixels            -> text characters
  grey threshold    -> DOM containment depth
  extremal region   -> element node (one Region per element)
  area              -> text chars in subtree
  perimeter         -> 2 * subtree element count (tag boundaries)
  euler (holes)     -> count of embedded non-text islands (script/img/...)
  crossings per row -> inline-tag starts per text line
  med_crossings     -> median of crossings at lines h/6, 3h/6, 5h/6
                       (reference erfilter.c:799-808)
  raw/central moments -> start/end offsets in the document text stream

All features are accumulated bottom-up in one pass: a child's stats fold
into its parent exactly once when the child's end tag closes (the er_merge
pattern), so extraction is O(bytes) per document and runs entirely inside
one Arrow batch — no Spark shuffle is involved (SURVEY.md §2.3 D5).

Two tokenizer drivers feed the same builder:

* the default regex tokenizer (``parse_document``) — a lean scanner that
  matches stdlib ``html.parser`` semantics (lowercased tag names,
  charref decoding outside script/style, raw-text mode for script/style,
  lone ``<`` treated as text) at roughly 3x the speed;
* the stdlib driver (``parse_document_stdlib``) — kept as the semantic
  oracle; a hypothesis test asserts both produce identical region trees
  and text streams.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

from ..config import (
    BLOCK_TAGS,
    INLINE_TAGS,
    ISLAND_TAGS,
    SKIP_CONTENT_TAGS,
    VOID_TAGS,
)

# one dict probe instead of 4-5 frozenset probes per tag (hot path)
_F_VOID, _F_SKIP, _F_ISLAND, _F_INLINE, _F_BLOCK = 1, 2, 4, 8, 16
_TAG_FLAGS: dict[str, int] = {}
for _t in (VOID_TAGS | SKIP_CONTENT_TAGS | ISLAND_TAGS | INLINE_TAGS
           | BLOCK_TAGS):
    _TAG_FLAGS[_t] = ((_t in VOID_TAGS) * _F_VOID
                      | (_t in SKIP_CONTENT_TAGS) * _F_SKIP
                      | (_t in ISLAND_TAGS) * _F_ISLAND
                      | (_t in INLINE_TAGS) * _F_INLINE
                      | (_t in BLOCK_TAGS) * _F_BLOCK)


class Region:
    """One DOM element = one extremal-region analog (reference ERStat,
    erfilter.c:40-75)."""

    __slots__ = (
        "region_id", "parent_id", "depth", "tag",
        "start", "end", "raw_start", "raw_end",
        "area", "link_area", "skipped_chars",
        "n_elements", "islands", "start_line", "end_line",
        "ev_start", "ev_end", "child_profiles",
        # filled by the cascade (feature values live in the batch feature
        # matrix, not on the Region — keeps construction lean):
        "probability", "local_maxima", "group_id",
    )

    def __init__(self, region_id: int, parent_id: int, depth: int, tag: str,
                 start: int, raw_start: int, start_line: int,
                 ev_start: int) -> None:
        self.region_id = region_id
        self.parent_id = parent_id
        self.depth = depth
        self.tag = tag
        self.start = start
        self.end = start
        self.raw_start = raw_start
        self.raw_end = raw_start
        self.area = 0
        self.link_area = 0
        self.skipped_chars = 0
        self.n_elements = 1
        self.islands = 0
        self.start_line = start_line
        self.end_line = start_line
        self.ev_start = ev_start
        self.ev_end = ev_start
        self.child_profiles: list[float] = []
        self.probability = 0.0
        self.local_maxima = False
        self.group_id = -1

    @property
    def n_lines(self) -> int:
        return self.end_line - self.start_line + 1

    @property
    def span(self) -> int:
        """chars of visible text covered in the stream (== area by construction)."""
        return self.end - self.start

    @property
    def raw_span(self) -> int:
        """bbox analog: raw chars covered incl. skipped island content."""
        return self.raw_end - self.raw_start

    @property
    def link_density(self) -> float:
        return self.link_area / max(1, self.area)


class _BuilderCore:
    """Region-tree bookkeeping shared by both tokenizer drivers."""

    def __init__(self) -> None:
        self.regions: list[Region] = []
        self.stack: list[Region] = []
        self.chunks: list[str] = []    # document-order text stream
        self.text_off = 0              # visible chars emitted (NB: never name
        # these "offset"/"lineno" — ParserBase uses those internally)
        self.raw_off = 0               # visible + skipped chars
        self.line_no = 0               # newlines emitted so far
        self.inline_events: list[int] = []  # line_no per inline-tag start
        self.skip_depth = 0            # >0 while inside SKIP_CONTENT_TAGS
        self._in_link = 0              # >0 while inside <a>
        self._next_id = 0
        # root pseudo-region = whole document (component-tree root,
        # reference: root component = whole image)
        self._open("#document")

    # -- region lifecycle ---------------------------------------------------
    def _open(self, tag: str) -> Region:
        parent = self.stack[-1] if self.stack else None
        r = Region(
            self._next_id,
            parent.region_id if parent is not None else -1,
            len(self.stack),
            tag,
            self.text_off,
            self.raw_off,
            self.line_no,
            len(self.inline_events),
        )
        self._next_id += 1
        self.regions.append(r)
        self.stack.append(r)
        if tag == "a":
            self._in_link += 1
        return r

    def _close(self) -> None:
        r = self.stack.pop()
        if r.tag == "a":
            self._in_link -= 1
        r.end = self.text_off
        r.raw_end = self.raw_off
        r.end_line = self.line_no
        r.ev_end = len(self.inline_events)
        if self.stack:
            p = self.stack[-1]
            # er_merge analog: fold child stats into parent (erfilter.c:746-779)
            p.area += r.area
            p.link_area += r.link_area
            p.skipped_chars += r.skipped_chars
            p.n_elements += r.n_elements
            p.islands += r.islands
            # per-child content profile (1 - link_density) drives the
            # num_inflexion_points analog (SURVEY.md §2.4 C2); only
            # BLOCK-level children count — inline spans (b/a/i) are part of
            # the parent's own text flow, not structural alternation
            if r.area > 0 and _TAG_FLAGS.get(r.tag, 0) & _F_BLOCK:
                p.child_profiles.append(1.0 - r.link_area / r.area)

    def _emit_text(self, s: str) -> None:
        if not s:
            return
        self.chunks.append(s)
        n = len(s)
        self.text_off += n
        self.raw_off += n
        self.line_no += s.count("\n")
        cur = self.stack[-1]
        cur.area += n
        if self._in_link:
            cur.link_area += n

    # -- tag events -----------------------------------------------------------
    def starttag(self, tag: str) -> None:
        flags = _TAG_FLAGS.get(tag, 0)
        if flags & _F_VOID:
            self.startendtag(tag)
            return
        if flags & _F_SKIP:
            self.skip_depth += 1
        if flags & _F_ISLAND:
            self.stack[-1].islands += 1
        if flags & _F_INLINE and self.skip_depth == 0:
            self.inline_events.append(self.line_no)
        self._open(tag)

    def startendtag(self, tag: str) -> None:
        cur = self.stack[-1]
        if tag == "br" and self.skip_depth == 0:
            self._emit_text("\n")
        if _TAG_FLAGS.get(tag, 0) & _F_ISLAND:
            cur.islands += 1
        cur.n_elements += 1

    def endtag(self, tag: str) -> None:
        if _TAG_FLAGS.get(tag, 0) & _F_VOID:
            return
        stack = self.stack
        # fast path: well-formed HTML closes the top of the stack
        if stack[-1].tag == tag:
            i = len(stack) - 1
        else:
            # find matching open tag; ignore stray end tags
            for i in range(len(stack) - 2, 0, -1):
                if stack[i].tag == tag:
                    break
            else:
                return
        if i == 0:
            return
        while len(stack) > i:
            top = stack[-1]
            tf = _TAG_FLAGS.get(top.tag, 0)
            if tf & _F_BLOCK and self.skip_depth == 0:
                if self.text_off > top.start:  # only if it held text
                    self._emit_text("\n")
            if tf & _F_SKIP:
                self.skip_depth -= 1
            self._close()

    def data(self, chunk: str) -> None:
        if self.skip_depth:
            self.stack[-1].skipped_chars += len(chunk)
            self.raw_off += len(chunk)
        else:
            self._emit_text(chunk)

    def finish(self) -> None:
        while self.stack:
            if _TAG_FLAGS.get(self.stack[-1].tag, 0) & _F_SKIP:
                self.skip_depth -= 1
            self._close()


# ---------------------------------------------------------------------------
# default driver: lean regex tokenizer (~3x stdlib html.parser)
# ---------------------------------------------------------------------------

# one linear-scan tag matcher; quoted attribute values may contain '>'
# The attr loops are POSSESSIVE (*+): with a backtracking `*`, the
# quoted-string alternatives and `[^>]` overlap on quote characters, so
# an UNTERMINATED tag containing k quoted segments explodes into 2^k
# re-splits before failing — a ~150-byte adversarial page hung the
# tokenizer for minutes (round-4 stress-fixture finding).  Possessive
# matching commits to the greedy parse (quoted segments may contain
# '>', a bare quote falls through to [^>]) and fails in linear time;
# well-formed tags match identically, and the regex-vs-stdlib parity
# suites pin the semantics.
_TAG_RE = re.compile(
    r"<(?:"
    r"(?P<end>/\s*(?P<endname>[a-zA-Z][a-zA-Z0-9:._-]*)(?:\"[^\"]*\"|'[^']*'|[^>])*+>)"
    r"|(?P<start>(?P<name>[a-zA-Z][a-zA-Z0-9:._-]*)"
    r"(?P<attrs>(?:\"[^\"]*\"|'[^']*'|[^>])*+)>)"
    r"|(?P<comment>!--.*?(?:--!?>|\Z))"
    r"|(?P<decl>![^>]*(?:>|\Z))"
    r"|(?P<pi>\?[^>]*(?:>|\Z))"
    r")",
    re.S,
)
# raw-text (CDATA) closers, matching html.parser's set_cdata_mode behavior:
# only script/style get raw-text treatment in stdlib html.parser
_CDATA_CLOSE = {
    "script": re.compile(r"</\s*script", re.I),
    "style": re.compile(r"</\s*style", re.I),
}


def _parse_fast(html: str, tb: _BuilderCore) -> None:
    pos = 0
    n = len(html)
    find = html.find
    while pos < n:
        lt = find("<", pos)
        if lt < 0:
            chunk = html[pos:]
            tb.data(unescape(chunk) if "&" in chunk else chunk)
            break
        if lt > pos:
            chunk = html[pos:lt]
            tb.data(unescape(chunk) if "&" in chunk else chunk)
        m = _TAG_RE.match(html, lt)
        if m is None:
            tb.data("<")        # lone '<' is text (html.parser semantics)
            pos = lt + 1
            continue
        pos = m.end()
        name = m.group("name")
        if name is not None:
            tag = name.lower()
            attrs = m.group("attrs")
            if attrs.rstrip().endswith("/"):
                tb.startendtag(tag)
            else:
                tb.starttag(tag)
                closer = _CDATA_CLOSE.get(tag)
                if closer is not None:
                    # raw-text content: no entity decoding, no nested tags
                    mm = closer.search(html, pos)
                    end = mm.start() if mm else n
                    if end > pos:
                        tb.data(html[pos:end])
                    pos = end  # the </script> tag itself matches next round
            continue
        endname = m.group("endname")
        if endname is not None:
            tb.endtag(endname.lower())
        # comments / declarations / processing instructions: ignored


def parse_document(html: bytes | str) -> tuple[list[Region], str, list[int]]:
    """Parse one page; return (regions in preorder, document text stream,
    inline-tag line events).

    regions[0] is the #document root, and ``regions[i].region_id == i``
    (ids are assigned in preorder as regions open, so a parent precedes
    its children): the cascade indexes ``regions`` by id.  Offsets
    (start/end) index into the returned stream; region subtree text ==
    stream[r.start : r.end].
    """
    if isinstance(html, bytes):
        html = html.decode("utf-8", errors="replace")
    tb = _BuilderCore()
    _parse_fast(html, tb)
    tb.finish()
    return tb.regions, "".join(tb.chunks), tb.inline_events


# ---------------------------------------------------------------------------
# stdlib driver (semantic oracle for the tokenizer)
# ---------------------------------------------------------------------------

class _StdlibDriver(HTMLParser):
    def __init__(self, tb: _BuilderCore) -> None:
        super().__init__(convert_charrefs=True)
        self.tb = tb

    def handle_starttag(self, tag, attrs):
        self.tb.starttag(tag)

    def handle_startendtag(self, tag, attrs):
        self.tb.startendtag(tag)

    def handle_endtag(self, tag):
        self.tb.endtag(tag)

    def handle_data(self, data):
        self.tb.data(data)


def parse_document_stdlib(html: bytes | str) -> tuple[list[Region], str, list[int]]:
    """html.parser-driven variant; must produce output identical to
    parse_document (tested)."""
    if isinstance(html, bytes):
        html = html.decode("utf-8", errors="replace")
    tb = _BuilderCore()
    d = _StdlibDriver(tb)
    d.feed(html)
    d.close()
    tb.finish()
    return tb.regions, "".join(tb.chunks), tb.inline_events


def region_crossings(r: Region, inline_events: list[int]) -> list[int]:
    """Per-line inline-tag start counts for a region (crossings analog)."""
    counts = [0] * r.n_lines
    for ln in inline_events[r.ev_start:r.ev_end]:
        idx = ln - r.start_line
        if 0 <= idx < len(counts):
            counts[idx] += 1
    return counts


def med_crossings(counts: list[int]) -> float:
    """Median of crossings sampled at lines h/6, 3h/6, 5h/6
    (reference erfilter.c:799-808)."""
    h = len(counts)
    if h == 0:
        return 0.0
    sample = sorted((counts[h // 6], counts[3 * h // 6], counts[5 * h // 6]))
    return float(sample[1])
