"""End-to-end Spark pipeline: byte-identity vs goldens + plan checks."""

import os

import pytest

from ocr_hardsubx_spark.operators.extract import extract_documents
from ocr_hardsubx_spark.plans.queries import FIXTURES_DIR
from ocr_hardsubx_spark.sources.fixtures import write_documents

N_DOCS = 120
FIXTURE = os.path.join(FIXTURES_DIR, "documents_t1.parquet")


@pytest.fixture(scope="module")
def docs_path():
    if not os.path.exists(FIXTURE):
        write_documents(FIXTURE, N_DOCS)
    return FIXTURE


def test_byte_identical_extraction(spark, docs_path):
    """The invariant from BASELINE.json: extracted_text byte-identical to
    the golden per url."""
    df = spark.read.parquet(docs_path)
    out = extract_documents(df, spark)
    joined = out.join(df.select("url", "text"), "url").collect()
    assert len(joined) == N_DOCS
    mismatches = [
        (r["url"], r["extracted_text"], r["text"])
        for r in joined if r["extracted_text"] != r["text"]
    ]
    assert not mismatches, (
        f"{len(mismatches)} urls differ; first: {mismatches[0]}")


def test_extraction_is_deterministic_under_repartition(spark, docs_path):
    """Salting invariance (SURVEY.md §5.2.4): output set identical under
    any partitioning."""
    df = spark.read.parquet(docs_path)
    a = {(r["url"], r["extracted_text"])
         for r in extract_documents(df, spark).collect()}
    b = {(r["url"], r["extracted_text"])
         for r in extract_documents(df.repartition(7), spark).collect()}
    assert a == b


def test_plan_has_no_row_python_and_prunes_columns(spark, docs_path):
    """north_star: no per-row Python (BatchEvalPython) — only MapInPandas;
    and the scan must not read the golden 'text' column."""
    df = spark.read.parquet(docs_path)
    out = extract_documents(df, spark)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan
    scan = [ln for ln in plan.splitlines() if "Scan parquet" in ln or "FileScan" in ln]
    assert scan, plan
    assert "text" not in scan[0].split("ReadSchema")[-1], scan[0]


def test_spans_are_ordered_and_nonoverlapping(spark, docs_path):
    df = spark.read.parquet(docs_path)
    rows = extract_documents(df, spark).collect()
    for r in rows:
        spans = r["spans"]
        for s in spans:
            assert s["start"] <= s["end"]
        for a, b in zip(spans, spans[1:]):
            assert a["end"] <= b["start"], (r["url"], spans)
