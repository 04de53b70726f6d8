"""PDF text + layout extraction as an Arrow-batched Spark stage.

The north rule's extraction pipeline names "PDF/layout parse" next to the
HTML boilerplate strip: a 100 TB crawl carries PDFs alongside HTML, and the
pipeline must pull reading-ordered main content out of both.  This module
is the Spark plumbing over ``functions/pdf_codec.py`` (from-scratch ISO
32000 subset parser): one ``mapInPandas`` stage per corpus, exactly the
shape of the html path in ``operators/extract.py`` — column-pruned scan,
zero shuffle, batch-at-a-time Python with all per-byte work in the codec.

Scale: decode is embarrassingly parallel (per-document); partitioning is
whatever the scan gives (``maxPartitionBytes`` sizes tasks).  Failed or
exotic payloads are provenance-flagged per row (``decoded_real = false``),
never dropped silently.

The synthesizer (``pdf_corpus_from_text``) is the writer twin used by
fixtures and the roundtrip oracle queries: deterministic layout (fixed
chunking, fixed line grid, optional running header/footer furniture) so a
relational oracle can re-derive the expected extraction output exactly.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

import pandas as pd

from ocr_hardsubx_spark.functions import pdf_codec

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

PDF_TEXT_SCHEMA = ("doc_id long, extracted_text string, n_pages long, "
                   "n_spans long, decoded_real boolean")

# deterministic synth layout: body starts below the header band and ends
# above the footer band of a US-letter MediaBox, so the furniture margin
# band (FURNITURE_BAND) can never touch body lines
BODY_X = 72.0
BODY_TOP_Y = 648.0
BODY_LEADING = 28.0
BODY_SIZE = 11.0
HEADER_Y = 780.0
FOOTER_Y = 24.0
FURNITURE_SIZE = 9.0
HEADER_TEXT = "ACME Web Corpus — crawl snapshot"
FURNITURE_BAND = (95.0, 673.0)  # y <= 95 footer band, y >= 673 header band


def synth_pages(text: str, chunk: int, per_page: int,
                furniture: bool) -> list[list[tuple]]:
    """Deterministic span layout for one document (writer side).

    ``chunk``-char slices, ``per_page`` lines per page on a fixed grid;
    with ``furniture`` every page gets a running header and a
    'Page i of n' footer.  The relational twin of this function lives in
    the q_pdf_* oracle SQL (substr chunking + string_agg).
    """
    chunks = [text[i:i + chunk] for i in range(0, len(text), chunk)] or [""]
    n_pages = (len(chunks) + per_page - 1) // per_page
    pages = []
    for p in range(n_pages):
        spans = []
        if furniture:
            spans.append((BODY_X, HEADER_Y, FURNITURE_SIZE, HEADER_TEXT))
        for j, c in enumerate(chunks[p * per_page:(p + 1) * per_page]):
            spans.append((BODY_X, BODY_TOP_Y - BODY_LEADING * j,
                          BODY_SIZE, c))
        if furniture:
            spans.append((BODY_X, FOOTER_Y, FURNITURE_SIZE,
                          f"Page {p + 1} of {n_pages}"))
        pages.append(spans)
    return pages


def pdf_corpus_from_text(df: "DataFrame", id_col: str = "doc_id",
                         text_col: str = "text", chunk: int = 120,
                         per_page: int = 5, furniture: bool = False,
                         xref_stream: bool = False) -> "DataFrame":
    """text -> deterministic PDF payloads (one binary column per doc)."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                pdf_codec.write_pdf(
                    synth_pages(t, chunk, per_page, furniture),
                    xref_stream=xref_stream)
                for t in pdf[text_col]
            ]
            yield pd.DataFrame({"doc_id": pdf[id_col].values,
                                "payload": payloads})

    return df.mapInPandas(gen, schema="doc_id long, payload binary")


def _extract_columns(payloads, strip: bool, margin_band: tuple | None):
    """Shared per-batch decode loop: payload iterable -> column lists."""
    texts, n_pages, n_spans, reals = [], [], [], []
    for payload in payloads:
        try:
            data = bytes(payload)
            pages, real = pdf_codec.extract_spans(data)
            if strip:
                lines_pp = pdf_codec.strip_furniture(
                    pages, margin_band=margin_band)
            else:
                lines_pp = [pdf_codec.page_lines(sp) for sp in pages]
            text = "\n".join(ln["text"] for lines in lines_pp
                             for ln in lines)
            texts.append(text)
            n_pages.append(len(pages))
            n_spans.append(sum(len(sp) for sp in pages))
            reals.append(bool(real))
        except (pdf_codec.UnsupportedPdf, ValueError, KeyError,
                IndexError, TypeError, EOFError, OverflowError):
            texts.append(None)
            n_pages.append(0)
            n_spans.append(0)
            reals.append(False)
    return texts, n_pages, n_spans, reals


def pdf_roundtrip_table(df: "DataFrame", id_col: str = "doc_id",
                        text_col: str = "text", chunk: int = 120,
                        per_page: int = 5, furniture: bool = False,
                        strip: bool = False,
                        margin_band: tuple | None = None) -> "DataFrame":
    """Fused synthesize->parse roundtrip in ONE mapInPandas stage.

    Equivalent to ``pdf_extract_table(pdf_corpus_from_text(df, ...))``
    (equality pinned in tests/test_pdf_operator.py) but the PDF payload
    bytes never cross the JVM<->Python boundary: the chained two-stage
    form serializes every payload out of the writer stage and back into
    the parser stage — pure Arrow transfer cost for the roundtrip
    queries, measured ~20-25% of their wall at sf1.0 (guide §4.1: you
    control how many columns/bytes cross)."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = (
                pdf_codec.write_pdf(synth_pages(t, chunk, per_page,
                                                furniture))
                for t in pdf[text_col]
            )
            texts, n_pages, n_spans, reals = _extract_columns(
                payloads, strip, margin_band)
            yield pd.DataFrame({
                "doc_id": pdf[id_col].values,
                "extracted_text": texts,
                "n_pages": n_pages,
                "n_spans": n_spans,
                "decoded_real": reals,
            })

    return df.select(id_col, text_col).mapInPandas(gen, PDF_TEXT_SCHEMA)


def pdf_extract_table(df: "DataFrame", id_col: str = "doc_id",
                      payload_col: str = "payload", strip: bool = False,
                      margin_band: tuple | None = None) -> "DataFrame":
    """PDF binary column -> reading-ordered text + layout metadata.

    ``strip`` applies the running header/footer + page-number furniture
    strip (:func:`pdf_codec.strip_furniture`) restricted to
    ``margin_band``.  Unparseable payloads yield a NULL text row with
    ``decoded_real = false`` (provenance-flag policy, round-2 verdict
    item 3) rather than failing the stage or vanishing.
    """
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts, n_pages, n_spans, reals = _extract_columns(
                pdf[payload_col], strip, margin_band)
            yield pd.DataFrame({
                "doc_id": pdf[id_col].values,
                "extracted_text": texts,
                "n_pages": n_pages,
                "n_spans": n_spans,
                "decoded_real": reals,
            })

    return df.mapInPandas(gen, schema=PDF_TEXT_SCHEMA)
