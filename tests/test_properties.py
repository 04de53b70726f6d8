"""Property-based tests (SURVEY.md §5.2.4) — hypothesis."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_hardsubx_spark.functions.levenshtein import (
    at_least_as_similar,
    levenshtein,
    similarity_ratio,
)
from ocr_hardsubx_spark.functions.normalize import normalize_text
from ocr_hardsubx_spark.operators.dedup import dedup_consecutive
from ocr_hardsubx_spark.operators.parse import (
    parse_document,
    parse_document_stdlib,
)
from ocr_hardsubx_spark.sources.model_store import build_nm1

# --- dedup ----------------------------------------------------------------

texts = st.lists(st.text(alphabet="abc \n", max_size=30), max_size=12)


@given(texts)
def test_dedup_idempotent(ts):
    kept = dedup_consecutive(ts)
    again = dedup_consecutive([ts[i] for i in kept])
    assert again == list(range(len(kept)))


@given(texts)
def test_dedup_keeps_subset_in_order(ts):
    kept = dedup_consecutive(ts)
    assert kept == sorted(kept)
    assert all(ts[i] for i in kept)  # no empties survive


@given(texts, st.data())
def test_dedup_chain_carries_across_a_split(ts, data):
    """Deduping texts[:k], then texts[k:] seeded with the first part's
    last kept text, keeps exactly what one pass over texts keeps."""
    k = data.draw(st.integers(0, len(ts)))
    head = dedup_consecutive(ts[:k])
    prev = ts[head[-1]] if head else None
    tail = dedup_consecutive(ts[k:], prev_text=prev)
    assert head + [k + i for i in tail] == dedup_consecutive(ts)


# --- levenshtein ----------------------------------------------------------

s_short = st.text(alphabet="abcd", max_size=60)


@given(s_short, s_short)
def test_lev_symmetry_and_bounds(a, b):
    d = levenshtein(a, b)
    assert d == levenshtein(b, a)
    assert abs(len(a) - len(b)) <= d <= max(len(a), len(b))


@given(s_short, s_short, st.floats(0.1, 0.99))
def test_capped_matches_exact(a, b, thr):
    """The pinned rule: similar <=> dist <= int((1-thr)*max_len).
    (similarity_ratio is a float convenience and can disagree by one ulp
    exactly AT the boundary; the integer cap is the semantic.)"""
    m = max(len(a), len(b))
    if m == 0:
        assert at_least_as_similar(a, b, thr)
    else:
        cap = int((1.0 - thr) * m)
        assert at_least_as_similar(a, b, thr) == (levenshtein(a, b) <= cap)


# --- normalization --------------------------------------------------------

@given(st.text(alphabet="abc \t\xa0\n\r", max_size=80))
def test_normalize_idempotent(s):
    once = normalize_text(s)
    assert normalize_text(once) == once


@given(st.text(alphabet="abcdef ", max_size=60), st.integers(0, 5))
def test_normalize_invariant_under_space_injection(s, k):
    """Injecting horizontal whitespace runs never changes the bytes out."""
    injected = s.replace(" ", " " * (k + 1) + "\t")
    assert normalize_text(injected) == normalize_text(s)


# --- cascade monotonicity (SURVEY §5.2.4) ----------------------------------

@given(st.lists(st.tuples(st.floats(0, 200), st.floats(0, 1),
                          st.floats(-5, 1), st.floats(0, 9)),
                min_size=1, max_size=30))
def test_lowering_min_probability_only_adds_regions(feats):
    X = np.array(feats, dtype=np.float64)
    p = build_nm1().probability(X)
    for hi, lo in ((0.5, 0.2), (0.9, 0.1)):
        assert set(np.nonzero(p >= hi)[0]) <= set(np.nonzero(p >= lo)[0])


# --- tokenizer equivalence -------------------------------------------------

_FRAGMENTS = st.sampled_from([
    "text words here", "a & b", "&amp;", "&#65;", "<p>", "</p>", "<div>",
    "</div>", "<b>", "</b>", "<a href='/x'>", "</a>", "<br>", "<img src=x>",
    "<script>s<t;</script>", "<style>a>b{}</style>", "<!-- c -->",
    "<ul><li>", "</li></ul>", "x < y", "é\xa0ü", "<p class='a>b'>",
    "\n", "  ", "<P>", "</P>", "<span>", "</span>",
])


@given(st.lists(_FRAGMENTS, max_size=25))
@settings(max_examples=200)
def test_fast_tokenizer_equals_stdlib(parts):
    html = "".join(parts)

    def key(rs, stream, ev):
        return ([(r.region_id, r.parent_id, r.tag, r.start, r.end,
                  r.raw_start, r.raw_end, r.area, r.link_area,
                  r.skipped_chars, r.n_elements, r.islands,
                  r.start_line, r.end_line, r.ev_start, r.ev_end)
                 for r in rs], stream, ev)

    assert key(*parse_document(html)) == key(*parse_document_stdlib(html))
