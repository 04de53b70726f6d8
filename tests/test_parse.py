"""DOM region-tree extraction: structure + incremental features (D5/D6/D7)."""

import pytest

from ocr_hardsubx_spark.operators.parse import (
    med_crossings,
    parse_document,
    parse_document_stdlib,
    region_crossings,
)


def _by_tag(regions, tag):
    return [r for r in regions if r.tag == tag]


def test_tree_structure_and_offsets():
    html = "<html><body><div><p>hello</p><p>world</p></div></body></html>"
    regions, stream, ev = parse_document(html)
    tags = [r.tag for r in regions]
    assert tags == ["#document", "html", "body", "div", "p", "p"]
    doc, h, body, div, p1, p2 = regions
    assert p1.parent_id == div.region_id
    assert div.parent_id == body.region_id
    assert p1.depth == 4 and div.depth == 3
    assert stream[p1.start:p1.end] == "hello\n"   # block close emits \n
    assert stream[p2.start:p2.end] == "world\n"
    # 5+\n per <p>, plus the div's own closing \n
    assert p1.area == p2.area == 6
    assert div.area == p1.area + p2.area + 1 == 13


def test_area_is_subtree_text_and_matches_span():
    html = "<body><div>ab<p>cde</p>f</div></body>"
    regions, stream, _ = parse_document(html)
    div = _by_tag(regions, "div")[0]
    assert div.area == div.end - div.start
    assert div.area == len("ab") + len("cde\n") + len("f") + 1  # div's own \n


def test_perimeter_is_subtree_element_count():
    html = "<body><div><p>a</p><p>b<b>c</b></p></div></body>"
    regions, _, _ = parse_document(html)
    div = _by_tag(regions, "div")[0]
    assert div.n_elements == 4  # div, p, p, b


def test_link_area_and_density():
    html = '<body><p>abcd<a href="/x">wxyz</a></p></body>'
    regions, _, _ = parse_document(html)
    p = _by_tag(regions, "p")[0]
    a = _by_tag(regions, "a")[0]
    assert a.link_area == 4 and a.link_density == 1.0
    assert p.link_area == 4
    assert p.area == 9  # abcd + wxyz + \n


def test_islands_euler_analog():
    html = ("<body><div><script>var i=0;</script><p>text</p>"
            "<img src='x'><iframe></iframe></div></body>")
    regions, stream, _ = parse_document(html)
    div = _by_tag(regions, "div")[0]
    assert div.islands == 3  # script, img, iframe
    assert "var i=0;" not in stream
    assert div.skipped_chars == len("var i=0;")


def test_skip_content_excluded_but_raw_span_includes_it():
    html = "<body><div><style>.a{}</style>abc</div></body>"
    regions, stream, _ = parse_document(html)
    div = _by_tag(regions, "div")[0]
    assert div.area == 4  # abc + \n
    assert div.raw_span == 4 + len(".a{}")


def test_head_content_skipped():
    html = "<html><head><title>Ti</title></head><body>x</body></html>"
    _, stream, _ = parse_document(html)
    assert "Ti" not in stream
    assert "x" in stream


def test_br_emits_newline_and_void_tags_dont_nest():
    html = "<body><p>a<br>b<br/>c</p></body>"
    regions, stream, _ = parse_document(html)
    p = _by_tag(regions, "p")[0]
    assert stream[p.start:p.end] == "a\nb\nc\n"
    assert [r.tag for r in regions] == ["#document", "body", "p"]
    assert p.n_elements == 3  # p + 2 br


def test_malformed_unclosed_tags_close_implicitly():
    html = "<body><div><p>a<p>b</div>c</body>"
    regions, stream, _ = parse_document(html)
    ps = _by_tag(regions, "p")
    assert len(ps) == 2
    assert stream[ps[0].start:ps[0].end].startswith("a")
    body = _by_tag(regions, "body")[0]
    assert body.area == regions[0].area


def test_stray_end_tag_ignored():
    regions, stream, _ = parse_document("<body></i>ok</body>")
    assert "ok" in stream


def test_entities_decoded():
    _, stream, _ = parse_document("<body><p>a &amp; b &#x2014; c</p></body>")
    assert "a & b — c" in stream


def test_crossings_per_line():
    html = "<body><p>x <b>y</b> z<br>no tags<br><i>i</i> <a href=''>a</a></p></body>"
    regions, _, ev = parse_document(html)
    p = [r for r in regions if r.tag == "p"][0]
    counts = region_crossings(p, ev)
    assert counts[0] == 1   # b on line 0
    assert counts[1] == 0
    assert counts[2] == 2   # i + a


def test_med_crossings_median_of_sixths():
    assert med_crossings([]) == 0.0
    assert med_crossings([3]) == 3.0
    # h=6: samples at lines 1, 3, 5
    assert med_crossings([9, 0, 9, 2, 9, 7]) == 2.0


def test_incremental_equals_bruteforce():
    """er_add_pixel/er_merge invariant: accumulated stats == recomputation."""
    html = ("<body><div><p>one <a href='/'>link</a></p>"
            "<ul><li><a href='/'>nav</a></li></ul>"
            "<p>two<script>s()</script></p></div></body>")
    regions, stream, _ = parse_document(html)
    by_id = {r.region_id: r for r in regions}
    for r in regions:
        desc = [q for q in regions if _is_desc(q, r, by_id)]
        assert r.n_elements == 1 + len(desc)
        assert r.area == len(stream[r.start:r.end])
        # islands = island-tagged strict descendants (the node itself is
        # counted by its parent)
        assert r.islands == sum(
            1 for q in desc if q.tag in ("script", "img", "iframe")
        )


def _is_desc(q, r, by_id):
    p = q.parent_id
    while p != -1:
        if p == r.region_id:
            return True
        p = by_id[p].parent_id
    return False


@pytest.mark.parametrize("parse", [parse_document, parse_document_stdlib])
def test_region_ids_are_list_positions(parse):
    """The cascade indexes ``regions`` by region id: both tokenizer
    drivers must return ``regions[i].region_id == i``, with every parent
    before its children, on clean, malformed and empty pages."""
    pages = [
        "",
        "plain text, no tags",
        "<html><body><div><p>a</p><p>b<b>c</b></p></div></body></html>",
        "<div><p>unclosed <li>item<li>item</div></span><p>stray end",
        "<body><br><img src=x><script>x < y</script><ul><li>z</ul></body>",
        "<div>" * 40 + "deep" + "</div>" * 40,
    ]
    for html in pages:
        regions, _, _ = parse(html)
        assert [r.region_id for r in regions] == list(range(len(regions)))
        assert regions[0].parent_id == -1
        assert all(-1 < r.parent_id < r.region_id for r in regions[1:])
