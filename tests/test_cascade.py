"""Cascade scoring, gates, NMS (C1-C7, D8 analogs)."""

import numpy as np

from ocr_hardsubx_spark.functions.scoring import StumpModel
from ocr_hardsubx_spark.operators.cascade import (
    feature_matrix,
    nonmax_suppression,
    num_inflexions,
    stage1_gate,
    stage2_gate,
)
from ocr_hardsubx_spark.operators.parse import (
    Region,
    med_crossings,
    parse_document,
    region_crossings,
)
from ocr_hardsubx_spark.sources.model_store import build_nm1, build_nm2


def test_stump_votes_match_hand_eval():
    m = StumpModel([0, 0, 1], [1.0, 5.0, 0.5], [1.0, 2.0, -1.0],
                   [-1.0, -2.0, 3.0], 2)
    # x = [0.5, 0.7]: 0.5<=1 -> +1 ; 0.5<=5 -> +2 ; 0.7>0.5 -> +3
    assert m.votes(np.array([[0.5, 0.7]]))[0] == 6.0
    # x = [10, 0.1]: -1 -2 -1 = -4
    assert m.votes(np.array([[10.0, 0.1]]))[0] == -4.0


def test_probability_logistic():
    m = StumpModel([0], [0.0], [1.0], [-1.0], 1)
    p_pos = m.probability(np.array([[-1.0]]))[0]   # votes +1
    p_neg = m.probability(np.array([[1.0]]))[0]    # votes -1
    assert abs(p_pos - 1 / (1 + np.exp(-2))) < 1e-12
    assert abs(p_neg - 1 / (1 + np.exp(2))) < 1e-12


def test_nm1_separates_content_from_nav():
    nm1 = build_nm1()
    # [text_density, link_density, 1-islands, med_crossings]
    content = nm1.probability(np.array([[120.0, 0.05, 1.0, 1.0]]))[0]
    nav = nm1.probability(np.array([[3.0, 0.95, 1.0, 1.0]]))[0]
    assert content > 0.9
    assert nav < 0.05


def test_nm2_rejects_mixed_containers():
    nm2 = build_nm2()
    clean = nm2.probability(
        np.array([[80.0, 0.04, 1.0, 1.0, 0.0, 1.0, 0.0]]))[0]
    mixed = nm2.probability(
        np.array([[15.0, 0.30, 1.0, 1.0, 0.1, 0.9, 2.0]]))[0]
    assert clean > 0.9
    assert mixed < 0.5


def test_num_inflexions_ignores_noise():
    assert num_inflexions([0.95, 0.93, 0.96]) == 0.0       # |diff| <= 0.2
    assert num_inflexions([0.95, 0.0, 0.95]) == 1.0        # down-up
    assert num_inflexions([0.9, 0.1, 0.9, 0.1]) == 2.0
    assert num_inflexions([]) == 0.0
    assert num_inflexions([0.5]) == 0.0


def test_stage1_area_gates():
    nm1 = build_nm1()
    X = np.array([
        [120.0, 0.0, 1.0, 0.0],   # good features, area below min
        [120.0, 0.0, 1.0, 0.0],   # good features, area ok
        [120.0, 0.0, 1.0, 0.0],   # good features, area above max frac
    ])
    areas = np.array([2.0, 100.0, 990.0])
    total = np.array([1000.0, 1000.0, 1000.0])
    mask, p = stage1_gate(X, areas, total, nm1)
    assert list(mask) == [False, True, False]
    assert (p > 0.9).all()


def _mk(rid, parent, depth=0):
    return Region(rid, parent, depth, "div", 0, 0, 0, 0)


def test_nms_child_supersedes_weak_root():
    # root(p=0.5) -> child(p=0.95): child wins, root flag cleared
    regions = [_mk(0, -1), _mk(1, 0, 1)]
    kept = nonmax_suppression(regions, np.array([0, 1]),
                              np.array([0.5, 0.95]))
    assert kept == [1]


def test_nms_small_diff_keeps_root():
    # diff 0.04 < MIN_PROB_DIFF: root keeps the flag
    regions = [_mk(0, -1), _mk(1, 0, 1)]
    kept = nonmax_suppression(regions, np.array([0, 1]),
                              np.array([0.95, 0.99]))
    assert kept == [0]


def test_nms_equal_chain_keeps_exactly_one():
    regions = [_mk(0, -1), _mk(1, 0, 1), _mk(2, 1, 2)]
    kept = nonmax_suppression(regions, np.array([0, 1, 2]),
                              np.array([0.9, 0.9, 0.9]))
    assert kept == [0]


def test_nms_siblings_both_survive():
    regions = [_mk(0, -1), _mk(1, 0, 1), _mk(2, 0, 1)]
    kept = nonmax_suppression(regions, np.array([0, 1, 2]),
                              np.array([0.4, 0.95, 0.97]))
    assert kept == [1, 2]


def test_nms_splices_rejected_ancestors():
    # 0 -> 1 -> 2 but only 0 and 2 accepted: 2's parent becomes 0
    regions = [_mk(0, -1), _mk(1, 0, 1), _mk(2, 1, 2)]
    kept = nonmax_suppression(regions, np.array([0, 2]),
                              np.array([0.3, 0.99]))
    assert kept == [2]


def test_nms_forest_roots_default_kept():
    regions = [_mk(0, -1), _mk(1, -1)]
    kept = nonmax_suppression(regions, np.array([0, 1]),
                              np.array([0.8, 0.9]))
    assert kept == [0, 1]


def _reference_features(regions, ev):
    """feature_matrix written one element at a time, with the unsampled
    crossings formulation."""
    X = np.empty((len(regions), 7))
    for i, r in enumerate(regions):
        raw_span = max(1, r.raw_span)
        X[i, 0] = r.area / max(1, 2 * r.n_elements)
        X[i, 1] = r.link_area / max(1, r.area)
        X[i, 2] = 1.0 - r.islands
        X[i, 3] = med_crossings(region_crossings(r, ev))
        X[i, 4] = r.skipped_chars / raw_span
        X[i, 5] = r.area / raw_span
        X[i, 6] = num_inflexions(r.child_profiles)
    return X


FEATURE_PAGES = {
    "empty": "",
    "raw_span_0": "<body><div></div><p>text here</p><span></span></body>",
    "inline_events": ("<body><p>a <b>bold</b> and <i>it</i><br>line two "
                      "<a href='/'>link</a> <em>x</em><br><code>y</code>"
                      "<br>four</p><script>var s = 1;</script></body>"),
    "block_children": (
        "<body><div><p>first paragraph with plenty of prose words here</p>"
        "<ul><li><a href='/'>nav one</a></li><li><a href='/'>nav two</a>"
        "</li></ul><p>second paragraph with plenty of prose words too</p>"
        "<ul><li><a href='/'>nav three</a></li></ul>"
        "<p>third paragraph</p></div></body>"),
}


def test_feature_matrix_end_to_end_shapes():
    reached = set()
    for name, html in FEATURE_PAGES.items():
        regions, _, ev = parse_document(html)
        X = feature_matrix(regions, ev)
        assert X.shape == (len(regions), 7) and X.dtype == np.float64
        assert np.array_equal(X, _reference_features(regions, ev)), name
        mask2, p2 = stage2_gate(X, build_nm2())
        assert mask2.shape == (len(regions),)
        assert ((p2 >= 0) & (p2 <= 1)).all()
        if len(regions) == 1:
            reached.add("empty")
        if any(r.raw_span == 0 for r in regions):
            reached.add("raw_span_0")
        if (X[:, 3] > 0).any():
            reached.add("inline")
        if (X[:, 6] > 0).any():
            reached.add("inflexion")
    # every edge the reference is compared on was actually reached
    assert reached == {"empty", "raw_span_0", "inline", "inflexion"}
    assert feature_matrix([], []).shape == (0, 7)


def test_stage2_recovery_rescues_children_of_rejected_container():
    """er_tree_filter child splicing (erfilter.c:1046-1058): a mixed
    container rejected at stage 2 must not black-hole its clean children."""
    import numpy as np
    from ocr_hardsubx_spark.operators.cascade import (
        nms_with_forest, stage2_with_recovery)
    from ocr_hardsubx_spark.operators.parse import parse_document
    from ocr_hardsubx_spark.operators.cascade import feature_matrix, stage1_gate
    from ocr_hardsubx_spark.sources.model_store import build_nm1, build_nm2

    html = ("<body><div>"
            "<p>first clean paragraph with plenty of ordinary prose words here</p>"
            "<ul><li><a href='/'>Nav one</a></li><li><a href='/'>Nav two</a></li>"
            "<li><a href='/'>Nav three</a></li></ul>"
            "<p>second clean paragraph with plenty of ordinary prose words too</p>"
            "</div><p>outside paragraph with plenty of ordinary prose words as well</p></body>")
    regions, stream, ev = parse_document(html)
    X = feature_matrix(regions, ev)
    areas = np.array([r.area for r in regions], float)
    tot = np.full(len(regions), regions[0].area, float)
    mask1, p1 = stage1_gate(X, areas, tot, build_nm1())
    acc1 = np.nonzero(mask1)[0]
    kept, children = nms_with_forest(regions, acc1, p1[acc1])
    survivors = stage2_with_recovery(kept, children, X, build_nm2(), regions)
    texts = [stream[r.start:r.end] for r in survivors]
    joined = "|".join(texts)
    assert "first clean paragraph" in joined
    assert "second clean paragraph" in joined
    assert "Nav one" not in joined
    # survivors must be span-disjoint
    spans = sorted((r.start, r.end) for r in survivors)
    for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
        assert e1 <= s2


def test_feedback_absorbs_pair_compatible_neighbor():
    """G6 feedback (erfilter.c:1313-1463): a rejected region adjacent to a
    group and passing the pair gates is absorbed."""
    from ocr_hardsubx_spark.operators.grouping import feedback_absorb
    from ocr_hardsubx_spark.operators.parse import Region

    def mk(rid, start, area, link=0, gid=-1):
        r = Region(rid, -1, 1, "p", start, start, 0, 0)
        r.end = start + area
        r.area = area
        r.link_area = link
        r.group_id = gid
        return r

    m1, m2 = mk(0, 0, 100, gid=0), mk(1, 150, 100, gid=0)
    # padded window = [-62, 312] (span 250, pad 62): candidates must lie
    # FULLY inside it (the reference skips subimage-border-clipped
    # regions, erfilter.c:1352-1353) and within its relative area gates
    cand_ok = mk(2, 260, 50)                 # near, similar style, inside
    cand_far = mk(3, 5000, 90)               # outside the padded window
    cand_clipped = mk(5, 260, 90)            # end 350 > window end 312
    cand_linky = mk(4, 262, 50, link=40)     # style distance too large
    groups = feedback_absorb(
        [[m1, m2]], [cand_ok, cand_far, cand_clipped, cand_linky])
    members = {r.region_id for r in groups[0]}
    assert members == {0, 1, 2}
    assert cand_ok.group_id == 0
    assert cand_far.group_id == -1 and cand_linky.group_id == -1


def test_feedback_recovers_sub_threshold_region_end_to_end():
    """G6 full re-detection analog (round-3 verdict item 7): a region
    BELOW MIN_AREA_ABS — which the main cascade never surfaces as a
    candidate — inside a block's padded window is absorbed via
    eval_dummy semantics (erfilter.c:1316: the feedback pass re-runs
    detection with loadDummyClassifier, whose only gate is area > 0,
    under the feedback filter's own 0.005-0.3 window-relative area
    gates).  Pinned against refimpl end to end."""
    from ocr_hardsubx_spark.config import MIN_AREA_ABS
    from ocr_hardsubx_spark.refimpl import extract_document

    para = ("Long form article content paragraph with plenty of running "
            "text to anchor the document so the cascade keeps real "
            "blocks alive. ")
    items = "".join(f"<p>item line number {i} here</p>" for i in range(4))
    tiny = "go"
    assert len(tiny) < MIN_AREA_ABS
    html = ("<html><body><article>" + "<p>" + para * 6 + "</p>"
            + items + f"<p>{tiny}</p>"
            + "<p>" + para * 6 + "</p></article></body></html>")
    out = extract_document(html.encode())["extracted_text"]
    assert out.endswith("\ngo") or " go" in out or "\ngo\n" in out
    # and the anchoring blocks are still there (no collateral damage)
    assert "item line number 0 here" in out
    assert "Long form article content paragraph" in out
