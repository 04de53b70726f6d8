"""Spans: timing wrappers around the functions a layer calls, installed
from outside the program.

``operators.extract.extract_pandas_batch`` calls ``parse_document``,
``feature_matrix``, ``stage1_gate`` and ``finish_document`` through its
module globals, and ``operators.assemble.finish_document`` calls the NMS,
stage-2, grouping, normalization and dedup functions the same way.
Replacing those globals with timing wrappers records one span per call
(name, start, end, parent) without touching the program.  Spans stay in
memory until the pass ends; a layer's self time is its spans' duration
minus the time its direct children cover.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager

# (module, attribute, span name); the callers look these up as module
# globals on every call, so patching the attribute is enough
KERNEL_FUNCS = (
    ("ocr_hardsubx_spark.operators.extract", "parse_document", "parse"),
    ("ocr_hardsubx_spark.operators.extract", "feature_matrix",
     "cascade.feature_matrix"),
    ("ocr_hardsubx_spark.operators.extract", "stage1_gate", "cascade.stage1"),
    ("ocr_hardsubx_spark.operators.extract", "finish_document", "assemble"),
    ("ocr_hardsubx_spark.operators.assemble", "nms_with_forest",
     "cascade.nms"),
    ("ocr_hardsubx_spark.operators.assemble", "stage2_with_recovery",
     "cascade.stage2"),
    ("ocr_hardsubx_spark.operators.assemble", "group_regions",
     "grouping.group"),
    ("ocr_hardsubx_spark.operators.assemble", "feedback_absorb",
     "grouping.feedback"),
    ("ocr_hardsubx_spark.operators.assemble", "normalize_text", "dedup"),
    ("ocr_hardsubx_spark.operators.assemble", "dedup_consecutive", "dedup"),
)
ROOT = "extract_batch"
PIPELINE_FUNCS = (
    ("ocr_hardsubx_spark.plans.pipeline", "pending_input_files",
     "pipeline.pending"),
    ("ocr_hardsubx_spark.plans.pipeline", "_commit_manifest",
     "pipeline.commit"),
)


class Tracer:
    """Single-thread span recorder.  ``spans`` holds
    ``(name, start, end, parent_index)`` tuples, parent -1 for roots;
    ``counts`` holds the counters recorded at the same boundaries."""

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, 0.0, 0.0, parent))
        self._stack.append(idx)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans[idx] = (name, t0, t1, parent)

    def wrap(self, name: str, fn, count=None):
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if count is not None:
                count(self.counts, args, out)
            return out
        return traced

    def calls(self, name: str) -> int:
        return sum(s[0] == name for s in self.spans)


def self_times(spans) -> dict[str, float]:
    """Per-name self time: each span's duration minus the durations of
    its direct children (spans in one thread nest, never overlap)."""
    child = [0.0] * len(spans)
    for _name, t0, t1, parent in spans:
        if parent >= 0:
            child[parent] += t1 - t0
    out: dict[str, float] = defaultdict(float)
    for i, (name, t0, t1, _parent) in enumerate(spans):
        out[name] += (t1 - t0) - child[i]
    return dict(out)


def root_time(spans) -> float:
    return sum(t1 - t0 for _n, t0, t1, parent in spans if parent < 0)


# ---- counters, recorded where the work happens ----

def _count_parse(c, args, out):
    html = args[0]
    c["parse.bytes"] += len(html)
    c["cascade.regions"] += len(out[0])


def _count_stage1(c, args, out):
    mask = out[0]
    c["stage1.in"] += len(mask)
    c["stage1.accepted"] += int(mask.sum())


def _count_nms(c, args, out):
    c["nms.in"] += len(args[1])
    c["nms.kept"] += len(out[0])


def _count_stage2(c, args, out):
    c["stage2.in"] += len(args[0])
    c["stage2.kept"] += len(out)


def _count_group(c, args, out):
    c["grouping.groups"] += len(out)


def _count_feedback(c, args, out):
    # candidates arrive ungrouped; absorption sets their group id
    c["grouping.feedback_absorbed"] += sum(r.group_id != -1 for r in args[1])


def _count_dedup(c, args, out):
    c["dedup.in"] += len(args[0])
    c["dedup.kept"] += len(out)


KERNEL_COUNTERS = {
    "parse_document": _count_parse, "stage1_gate": _count_stage1,
    "nms_with_forest": _count_nms, "stage2_with_recovery": _count_stage2,
    "group_regions": _count_group, "feedback_absorb": _count_feedback,
    "dedup_consecutive": _count_dedup}


@contextmanager
def instrument(tracer: Tracer, funcs, counters=None):
    """Install ``tracer`` wrappers around ``funcs`` for the duration of
    the block; ``counters`` maps an attribute to its counter."""
    import importlib

    saved = []
    try:
        for mod_name, attr, name in funcs:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))
            setattr(mod, attr,
                    tracer.wrap(name, fn, (counters or {}).get(attr)))
        yield tracer
    finally:
        for mod, attr, fn in reversed(saved):
            setattr(mod, attr, fn)


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def kernel_metrics(tracer: Tracer, wall_s: float, n_docs: int,
                   n_batches: int) -> dict[str, float]:
    """Per-layer numbers of one traced kernel pass.  ``wall_s`` is the
    pass's own wall time; ``kernel.coverage`` is the share of it that the
    spans account for."""
    st = self_times(tracer.spans)
    c = tracer.counts
    busy = root_time(tracer.spans)
    return {
        "parse.self_s": st.get("parse", 0.0),
        "parse.mb_per_s": _ratio(c["parse.bytes"] / 1e6, st.get("parse", 0)),
        "cascade.feature_matrix.self_s": st.get("cascade.feature_matrix", 0.0),
        "cascade.stage1.self_s": st.get("cascade.stage1", 0.0),
        "cascade.nms.self_s": st.get("cascade.nms", 0.0),
        "cascade.stage2.self_s": st.get("cascade.stage2", 0.0),
        "cascade.regions": c["cascade.regions"],
        "cascade.stage1_accept_ratio": _ratio(c["stage1.accepted"],
                                              c["stage1.in"]),
        "cascade.nms_keep_ratio": _ratio(c["nms.kept"], c["nms.in"]),
        "cascade.stage2_keep_ratio": _ratio(c["stage2.kept"],
                                            c["stage2.in"]),
        "grouping.group.self_s": st.get("grouping.group", 0.0),
        "grouping.feedback.self_s": st.get("grouping.feedback", 0.0),
        "grouping.groups": c["grouping.groups"],
        "grouping.feedback_absorbed": c["grouping.feedback_absorbed"],
        "dedup.self_s": st.get("dedup", 0.0),
        "dedup.drop_ratio": 1.0 - _ratio(c["dedup.kept"], c["dedup.in"])
        if c["dedup.in"] else 0.0,
        "assemble.self_s": st.get("assemble", 0.0),
        "extract_batch.self_s": st.get(ROOT, 0.0),
        "extract_batch.batches": float(n_batches),
        "extract_batch.docs_per_s_1core": _ratio(n_docs, busy),
        "kernel.coverage": _ratio(sum(st.values()), wall_s),
    }
