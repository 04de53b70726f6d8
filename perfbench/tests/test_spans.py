"""Self-time arithmetic and the kernel wrappers, on synthetic spans."""

import pytest

from perfbench import spans
from perfbench.spans import Tracer, self_times


def test_self_time_subtracts_direct_children_only():
    s = [("root", 0.0, 10.0, -1),
         ("a", 1.0, 4.0, 0),
         ("b", 2.0, 3.0, 1),        # nested in a: not subtracted from root
         ("c", 5.0, 9.0, 0),
         ("root", 20.0, 21.0, -1)]
    st = self_times(s)
    assert st["root"] == pytest.approx(10 - 3 - 4 + 1)
    assert st["a"] == pytest.approx(2.0)
    assert st["b"] == pytest.approx(1.0)
    assert st["c"] == pytest.approx(4.0)
    # self times always add up to the roots' total duration
    assert sum(st.values()) == pytest.approx(spans.root_time(s))


def test_same_name_spans_accumulate():
    s = [("r", 0.0, 5.0, -1), ("d", 0.0, 1.0, 0), ("d", 2.0, 4.0, 0)]
    assert self_times(s) == pytest.approx({"r": 2.0, "d": 3.0})


def test_tracer_records_parents_and_counts():
    t = Tracer()

    def leaf(x):
        return [x] * x

    wrapped = t.wrap("leaf", leaf,
                     lambda c, a, o: c.__setitem__("n", c["n"] + len(o)))
    with t.span("root"):
        wrapped(2)
        wrapped(3)
    names = [(n, p) for n, _s, _e, p in t.spans]
    assert names == [("root", -1), ("leaf", 0), ("leaf", 0)]
    assert t.counts["n"] == 5
    assert all(e >= s for _n, s, e, _p in t.spans)


def test_instrument_restores_functions():
    from ocr_hardsubx_spark.operators import assemble, extract

    before = (extract.parse_document, assemble.dedup_consecutive)
    with spans.instrument(Tracer(), spans.KERNEL_FUNCS):
        assert extract.parse_document is not before[0]
    assert (extract.parse_document, assemble.dedup_consecutive) == before


def test_kernel_metrics_cover_the_traced_pass():
    """Spans around one real batch account for the whole batch, and the
    counters are consistent with the output."""
    import time

    import pandas as pd

    from ocr_hardsubx_spark.operators import extract
    from ocr_hardsubx_spark.sources.fixtures import generate_rows
    from ocr_hardsubx_spark.sources.model_store import load_models

    rows = list(generate_rows(24, seed=3))
    pdf = pd.DataFrame({k: [r[k] for r in rows]
                        for k in ("url", "warc_ts", "html", "lang")})
    nm1, nm2 = load_models()
    t = Tracer()
    t0 = time.perf_counter()
    with spans.instrument(t, spans.KERNEL_FUNCS, spans.KERNEL_COUNTERS):
        with t.span("extract_batch"):
            out = extract.extract_pandas_batch(pdf, nm1, nm2)
    wall = time.perf_counter() - t0
    assert list(out["extracted_text"]) == [r["text"] for r in rows]
    m = spans.kernel_metrics(t, wall, len(rows), 1)
    assert m["kernel.coverage"] > 0.9
    assert m["cascade.regions"] == int(out["n_regions"].sum())
    assert 0 < m["cascade.stage1_accept_ratio"] <= 1
    assert m["parse.self_s"] > 0 and m["assemble.self_s"] > 0
    assert m["extract_batch.batches"] == 1
