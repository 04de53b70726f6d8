"""Pinned pipeline constants (semantics, not tuning).

These mirror the reference cascade defaults (``/root/reference/erfilter.c:1747-1748``:
thresholdDelta=16, minArea=0.00015, maxArea=0.13, minProbability=0.2,
nonMaxSuppression=true, minProbabilityDiff=0.1; stage 2 minProbability=0.5)
retargeted to web documents per BASELINE.json's north rule.  Every value here
is part of the pipeline's *semantics*: byte-identical extracted text depends
on them, so they are data pinned by tests, never runtime-tuned.
"""

from __future__ import annotations

# --- cascade gates (reference: erfilter.c:278-297, 1747-1748) ------------
STAGE1_MIN_PROB = 0.2          # minProbability, stage 1
STAGE2_MIN_PROB = 0.5          # minProbability, stage 2
MIN_PROB_DIFF = 0.1            # minProbabilityDiff for non-max suppression
MIN_AREA_FRAC = 0.00015        # minArea as fraction of document text chars
MAX_AREA_FRAC = 0.95           # maxArea fraction (web: main content can dominate)
MIN_AREA_ABS = 3               # w>2 && h>2 analog: at least 3 text chars

# --- grouping thresholds (reference: erfilter.c:1506-1596 pair gates; the
#     triplet/sequence constants are undefined in the reference repo and are
#     filled with upstream OpenCV text module values — SURVEY.md §2.5 G3) ---
PAIR_MIN_LENGTH_RATIO = 0.4    # height_ratio >= 0.4 analog (erfilter.c:1529)
PAIR_GAP_LO = -0.4             # gap/avg-span lower bound (erfilter.c:1545)
PAIR_GAP_HI = 2.2              # gap/avg-span upper bound (erfilter.c:1545)
PAIR_MAX_STYLE_DIST = 0.2     # link-density distance; color-consistency analog
                               # (grey-mean diff <= 111/255 ~ 0.43 scaled; pinned 0.2)
# triplet collinearity analog (isValidTriplet line-fit consistency,
# erfilter.c:1693-1716: top/bottom line offsets must agree within
# TRIPLET_MAX_DIST of the central height).  Our 1-D analog: two chained
# pair gaps are consistent iff
#   max(g1, g2) <= TRIPLET_GAP_TOLERANCE + TRIPLET_MAX_GAP_RATIO * min(g1, g2)
# — the additive term absorbs separator-markup jitter at small gaps.
TRIPLET_MAX_GAP_RATIO = 4.0
TRIPLET_GAP_TOLERANCE = 8

# --- recognition / dedup (north_star: HardsubX double_enter + Levenshtein) --
DEDUP_SIM_THRESHOLD = 0.85     # drop region if ratio vs previous kept >= this
DEDUP_PREFIX_CHARS = 512       # similarity computed over first N normalized chars
GROUP_JOINER = "\n\n"          # block separator in extracted_text

# --- parse-time tag classes (DOM analogs of pixel semantics) --------------
# content under these contributes no text and counts toward hole/euler analogs
SKIP_CONTENT_TAGS = frozenset(
    {"script", "style", "noscript", "iframe", "svg", "canvas", "object",
     "embed", "template", "head"}
)
# subtree "islands" (euler analog: embedded non-text components,
# reference euler quad-counting erfilter.c:384-389,502-616)
ISLAND_TAGS = frozenset(
    {"script", "style", "noscript", "iframe", "svg", "canvas", "object",
     "embed", "img", "video", "audio"}
)
VOID_TAGS = frozenset(
    {"br", "img", "hr", "input", "meta", "link", "area", "base", "col",
     "embed", "source", "track", "wbr"}
)
# inline tags whose starts count as per-line "crossings"
# (med_crossings analog, reference erfilter.c:799-808)
INLINE_TAGS = frozenset(
    {"a", "b", "i", "em", "strong", "span", "code", "u", "small", "sup",
     "sub", "mark", "abbr", "cite", "q", "time", "var", "kbd"}
)
# block tags: closing one emits a line break into the text stream
BLOCK_TAGS = frozenset(
    {"p", "div", "li", "tr", "h1", "h2", "h3", "h4", "h5", "h6", "ul", "ol",
     "section", "article", "header", "footer", "nav", "aside", "main",
     "table", "blockquote", "pre", "figure", "figcaption", "dl", "dt", "dd",
     "form", "fieldset", "address", "details", "summary", "body"}
)

# --- scale knobs (not semantics) ------------------------------------------
ARROW_MAX_RECORDS_PER_BATCH = 512   # docs per Arrow batch (SURVEY §4 O6);
# swept 128/512/1024 at local[8]/local[32]: 512 (~1.8 MB/batch) is the
# plateau — 128 pays too many JVM<->Python crossings, 1024 adds latency
# variance without throughput
DEFAULT_SHUFFLE_PARTITIONS = 32
