"""Stateful streaming dedup + catalog feature-detection."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from ocr_hardsubx_spark.plans.queries import FIXTURES_DIR
from ocr_hardsubx_spark.sources.catalog import iceberg_available, read_documents
from ocr_hardsubx_spark.sources.fixtures import write_documents
from ocr_hardsubx_spark.streaming.stateful_dedup import stateful_host_dedup
from tests.conftest import drain_stream

PART_CORPUS = os.path.join(FIXTURES_DIR, "documents_part")
SCHEMA = "url string, warc_ts timestamp, extracted_text string"
BOILER = "Same navigation heavy page content repeated on every fetch"


@pytest.fixture(scope="module")
def corpus():
    if not os.path.isdir(PART_CORPUS):
        write_documents(PART_CORPUS, 200, partition_by_day=True)
    return PART_CORPUS


def test_stateful_dedup_suppresses_refetches(spark, tmp_path):
    t0 = dt.datetime(2025, 1, 1)
    rows = [
        (f"https://hostA.example/p/{i}", t0 + dt.timedelta(minutes=i), BOILER)
        for i in range(4)
    ] + [
        ("https://hostA.example/p/9", t0 + dt.timedelta(minutes=9),
         "Completely different article text that must be kept"),
        ("https://hostB.example/q/0", t0, BOILER),  # other host: independent
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, SCHEMA).repartition(1) \
        .write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = (stateful_host_dedup(stream, watermark=None)
         .writeStream.format("memory").queryName("sd1")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .start())
    drain_stream(q)
    kept = {r["url"]: r["kept"] for r in spark.sql("select * from sd1").collect()}
    assert kept["https://hostA.example/p/0"] is True
    assert all(kept[f"https://hostA.example/p/{i}"] is False for i in (1, 2, 3))
    assert kept["https://hostA.example/p/9"] is True
    assert kept["https://hostB.example/q/0"] is True


def test_stateful_dedup_state_crosses_batches(spark, tmp_path):
    """A second query resumed from the checkpoint suppresses the refetch
    against batch 1's kept doc (state survives across queries)."""
    t0 = dt.datetime(2025, 1, 1)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def run_batch(rows):
        spark.createDataFrame(rows, SCHEMA).repartition(1) \
            .write.mode("append").parquet(src)
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        q = (stateful_host_dedup(stream, watermark=None)
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ck)
             .outputMode("append")
             .start())
        drain_stream(q)

    run_batch([("https://hostC.example/a", t0, BOILER)])
    run_batch([("https://hostC.example/b",
                t0 + dt.timedelta(minutes=1), BOILER)])
    kept = {r["url"]: r["kept"]
            for r in spark.read.parquet(out).collect()}
    assert kept["https://hostC.example/a"] is True
    assert kept["https://hostC.example/b"] is False


def test_iceberg_detect_false_in_sandbox(spark):
    assert iceberg_available(spark) is False


def test_read_documents_parquet_fallback_prunes(spark, corpus):
    df = read_documents(spark, corpus, day_range=("2025-01-01", "2025-01-02"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "warc_dt" in plan
    full = read_documents(spark, corpus)
    assert 0 < df.count() < full.count() == 200


def test_read_documents_single_file_falls_back_to_ts_filter(spark):
    path = os.path.join(FIXTURES_DIR, "documents_oracle.parquet")
    df = read_documents(spark, path, day_range=("2025-01-01", "2025-01-01"))
    assert df.count() > 0
    assert df.where(F.to_date("warc_ts") != "2025-01-01").count() == 0


def test_read_documents_table_branch(spark, corpus, monkeypatch):
    """The Iceberg-affirmative branch (spark.read.table + warc_ts range
    filter) exercised against a temp view standing in for the catalog
    table — the sandbox has no Iceberg runtime, but the branch's plan and
    filter semantics are identical either way."""
    import ocr_hardsubx_spark.sources.catalog as cat

    spark.read.parquet(corpus).createOrReplaceTempView("docs_table")
    monkeypatch.setattr(cat, "iceberg_available", lambda s: True)
    df = cat.read_documents(spark, "docs_table",
                            day_range=("2025-01-01", "2025-01-01"))
    assert df.count() > 0
    assert df.where(F.to_date("warc_ts") != "2025-01-01").count() == 0
    full = cat.read_documents(spark, "docs_table")
    assert full.count() == 200


def test_jsonl_source_extraction_parity(spark, tmp_path):
    """JSONL-landed pages extract byte-identically to the same pages
    landed as parquet: the source layer normalizes (ISO timestamp ->
    timestamp, html string -> binary) so the fused stage can't tell the
    formats apart."""
    import json

    from ocr_hardsubx_spark.operators.extract import extract_documents
    from ocr_hardsubx_spark.sources.catalog import read_documents_jsonl
    from ocr_hardsubx_spark.sources.fixtures import generate_rows

    rows = list(generate_rows(20, seed=42))
    jl = tmp_path / "docs.jsonl"
    with open(jl, "w") as f:
        for r in rows:
            f.write(json.dumps({
                "url": r["url"],
                "warc_ts": r["warc_ts"].isoformat(),
                "html": r["html"].decode("utf-8"),
                "text": r["text"],
                "lang": r["lang"],
            }) + "\n")

    docs = read_documents_jsonl(spark, str(jl))
    assert dict(docs.dtypes)["html"] == "binary"
    assert dict(docs.dtypes)["warc_ts"] == "timestamp"
    got = {r["url"]: r["extracted_text"]
           for r in extract_documents(docs, spark).collect()}
    assert len(got) == 20
    for r in rows:
        assert got[r["url"]] == r["text"]
