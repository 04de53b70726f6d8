"""The fused Spark extraction stage (flagship job, G9/detectRegions analog).

One Arrow-vectorized ``mapInPandas`` stage runs the whole
detect -> classify -> recognize -> dedup pipeline per document
(reference ``/root/reference/erfilter.c:1730-1762`` detectRegions):
parse, stage-1 cascade, NMS, stage-2 cascade, grouping, normalization,
consecutive dedup.  Stages 1+2 are fused in the same batch so document
bytes are never re-shipped (SURVEY.md §2.4 C6), and stump scoring is
vectorized with numpy across ALL regions of the batch at once — exactly
two ensemble evaluations per Arrow batch, zero per-row Python UDFs
(north_star hard requirement; the plan shows MapInPandas, never
BatchEvalPython — enforced by tests/test_spark_pipeline.py).

Classifier tables ride one SparkContext broadcast per session (a few KB)
and are rehydrated into numpy arrays once per executor (reference S2,
erfilter.c:241-251).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

import numpy as np
import pandas as pd

from ..functions.scoring import StumpModel
from ..plans.packaging import (
    ensure_workers_can_import,
    guard_zip_directory_reads,
)
from ..sources.model_store import (
    N_FEATURES_NM1,
    N_FEATURES_NM2,
    load_models,
)
from .assemble import finish_document
from .cascade import channel_features, feature_matrix, stage1_gate
from .parse import parse_document

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

EXTRACTED_SCHEMA = (
    "url string, warc_ts timestamp, lang string, "
    "spans array<struct<start:int,end:int,text:string>>, "
    "extracted_text string, n_regions int, n_kept int"
)
_PASSTHROUGH_OK = ("input_file",)  # lineage columns carried 1:1 through the stage

# per-executor model cache: broadcast id -> (nm1, nm2)
_MODEL_CACHE: dict[int, tuple[StumpModel, StumpModel]] = {}
# driver side: applicationId -> the model broadcast every extraction job
# of that session ships (one broadcast, one executor cache entry)
_MODEL_BROADCASTS: dict = {}


def _model_broadcast(spark: "SparkSession"):
    sc = spark.sparkContext
    bc = _MODEL_BROADCASTS.get(sc.applicationId)
    if bc is None:
        nm1, nm2 = load_models()
        bc = sc.broadcast((nm1.to_rows(1), nm2.to_rows(2)))
        _MODEL_BROADCASTS[sc.applicationId] = bc
    return bc


def _models_from_broadcast(bc) -> tuple[StumpModel, StumpModel]:
    if bc is None:
        return load_models()
    key = id(bc)
    if key not in _MODEL_CACHE:
        rows1, rows2 = bc.value
        _MODEL_CACHE[key] = (
            StumpModel.from_rows(rows1, N_FEATURES_NM1),
            StumpModel.from_rows(rows2, N_FEATURES_NM2),
        )
    return _MODEL_CACHE[key]


def extract_pandas_batch(pdf: pd.DataFrame, nm1: StumpModel,
                         nm2: StumpModel,
                         passthrough: tuple = (),
                         channels: tuple = (0,)) -> pd.DataFrame:
    """Run the full pipeline on one Arrow batch of documents.

    ``channels``: detection channels; each extra channel costs exactly one
    more vectorized ensemble evaluation per batch (same batched-scoring
    discipline as channel 0 — still zero per-row Python)."""
    n_docs = len(pdf)
    docs = []
    for html in pdf["html"]:
        regions, stream, events = parse_document(html)
        X = feature_matrix(regions, events)
        docs.append((regions, stream, X))

    extra_ch = tuple(ch for ch in channels if ch != 0)
    # ---- stage 1, one vectorized scoring call per channel for the whole
    # batch (reference: er_filter1 runs once per channel,
    # erfilter.c:1752-1758) ----
    if n_docs:
        X_all = np.vstack([d[2] for d in docs])
        areas = np.fromiter(
            (r.area for d in docs for r in d[0]), dtype=np.float64,
            count=X_all.shape[0])
        totals = np.concatenate([
            np.full(len(d[0]), d[0][0].area if d[0] else 0, dtype=np.float64)
            for d in docs])
        mask1_all, p1_all = stage1_gate(X_all, areas, totals, nm1)
        ch_all = []
        for ch in extra_ch:
            Xc_all = channel_features(X_all, ch)
            maskc_all, pc_all = stage1_gate(Xc_all, areas, totals, nm1)
            ch_all.append((Xc_all, maskc_all, pc_all))
    out_spans: list[list] = []
    out_text: list[str] = []
    out_nreg: list[int] = []
    out_nkept: list[int] = []

    # ---- per-document back half (NMS -> stage2 -> groups -> dedup), the
    # shared implementation in operators/assemble.py ----
    offs = 0
    for regions, stream, X in docs:
        n = len(regions)
        mask1 = mask1_all[offs:offs + n]
        p1 = p1_all[offs:offs + n]
        extra = tuple(
            (Xc[offs:offs + n], mc[offs:offs + n], pc[offs:offs + n])
            for Xc, mc, pc in ch_all)
        offs += n
        out_nreg.append(n)
        if not regions:
            out_spans.append([])
            out_text.append("")
            out_nkept.append(0)
            continue
        spans, text, n_kept = finish_document(
            regions, stream, X, mask1, p1, nm2, extra_channels=extra)
        out_spans.append(spans)
        out_text.append(text)
        out_nkept.append(n_kept)

    cols = {
        "url": pdf["url"].values,
        "warc_ts": pdf["warc_ts"].values if "warc_ts" in pdf else pd.NaT,
        "lang": pdf["lang"].values if "lang" in pdf else None,
        "spans": out_spans,
        "extracted_text": out_text,
        "n_regions": pd.array(out_nreg, dtype="int32"),
        "n_kept": pd.array(out_nkept, dtype="int32"),
    }
    for c in passthrough:
        cols[c] = pdf[c].values
    return pd.DataFrame(cols)


def extract_documents(df: "DataFrame", spark: "SparkSession | None" = None,
                      channels: tuple = (0,)) -> "DataFrame":
    """documents(url, warc_ts, html, ...) -> extracted(url, warc_ts, lang,
    spans, extracted_text, n_regions, n_kept [, lineage passthrough]).

    Column pruning: only url/warc_ts/html/lang (+ declared lineage columns)
    enter the stage (the parquet scan's ReadSchema drops everything else —
    verified in tests).

    ``channels``: (0,) by default; (0, 1) adds the negative link-polarity
    detection channel (D1, cascade.invert_link_polarity) — a per-corpus
    choice: it recovers link-structured main content (directories, TOCs)
    at the cost of also detecting link-heavy boilerplate, whose removal
    then rests on grouping + dedup alone.
    """
    passthrough = tuple(c for c in _PASSTHROUGH_OK if c in df.columns)
    cols = [c for c in ("url", "warc_ts", "html", "lang") if c in df.columns]
    df = df.select(*cols, *passthrough)
    bc = None
    if spark is not None:
        ensure_workers_can_import(spark)  # --py-files equivalent
        bc = _model_broadcast(spark)

    schema = EXTRACTED_SCHEMA + "".join(f", {c} string" for c in passthrough)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # from this worker's next task on, task set-up skips re-parsing
        # the unchanged zips on its import path
        guard_zip_directory_reads()
        nm1, nm2 = _models_from_broadcast(bc)
        for pdf in batches:
            yield extract_pandas_batch(pdf, nm1, nm2, passthrough, channels)

    return df.mapInPandas(gen, schema=schema)
