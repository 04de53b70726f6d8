"""Streaming extraction and the regions table."""

import os

import pytest
from pyspark.sql import functions as F

from ocr_hardsubx_spark.operators.regions import extract_regions
from ocr_hardsubx_spark.plans.queries import FIXTURES_DIR
from ocr_hardsubx_spark.sources.fixtures import write_documents
from ocr_hardsubx_spark.streaming.extract_stream import (
    stream_extraction,
    stream_host_rates,
)

PART_CORPUS = os.path.join(FIXTURES_DIR, "documents_part")


@pytest.fixture(scope="module")
def corpus():
    if not os.path.isdir(PART_CORPUS):
        write_documents(PART_CORPUS, 200, partition_by_day=True)
    return PART_CORPUS


def test_streaming_extraction_matches_batch(spark, corpus, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = stream_extraction(spark, corpus, out, ckpt)
    q.awaitTermination(300)
    res = spark.read.parquet(out)
    golden = spark.read.parquet(corpus).select("url", "text")
    j = res.join(golden, "url").collect()
    assert len(j) == 200
    assert all(r["extracted_text"] == r["text"] for r in j)


def test_streaming_is_incremental(spark, corpus, tmp_path):
    """Second availableNow trigger with no new files processes nothing."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream_extraction(spark, corpus, out, ckpt).awaitTermination(300)
    n1 = spark.read.parquet(out).count()
    stream_extraction(spark, corpus, out, ckpt).awaitTermination(300)
    n2 = spark.read.parquet(out).count()
    assert n1 == n2 == 200


def test_streaming_windowed_host_rates(spark, corpus, tmp_path):
    q = stream_host_rates(spark, corpus, str(tmp_path / "ck"),
                          queryName="hr_test")
    q.awaitTermination(300)
    rows = spark.sql("select * from hr_test").collect()
    assert rows
    total = sum(r["n_docs"] for r in rows)
    assert total == 200
    assert all(r["host"].startswith("host") for r in rows)


def test_regions_table_contract(spark, corpus):
    docs = spark.read.parquet(corpus).limit(10)
    regions = extract_regions(docs, spark)
    rows = regions.collect()
    assert rows
    by_url = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append(r)
    for url, rs in by_url.items():
        ids = {r["region_id"] for r in rs}
        roots = [r for r in rs if r["parent_id"] == -1]
        assert len(roots) == 1 and roots[0]["tag"] == "#document"
        for r in rs:
            assert r["parent_id"] == -1 or r["parent_id"] in ids
            assert 0 <= r["probability"] <= 1
            assert r["end"] >= r["start"]
        # at least one local maximum on content pages
        assert any(r["local_maxima"] for r in rs), url


def test_streaming_restart_is_exactly_once_across_new_files(
        spark, tmp_path):
    """Kill/restart with the SAME checkpoint: files landed between the
    two runs are processed exactly once, earlier files never reprocess,
    and the final output equals what one uninterrupted run produces —
    the streaming twin of the batch manifest/resume exactly-once
    contract."""
    import glob
    import shutil

    src = str(tmp_path / "src")
    os.makedirs(src)
    staged = sorted(glob.glob(os.path.join(PART_CORPUS, "**", "*.parquet"),
                              recursive=True))
    assert len(staged) >= 3
    half = len(staged) // 2
    for i, f in enumerate(staged[:half]):
        shutil.copy(f, os.path.join(src, f"f{i:03d}.parquet"))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream_extraction(spark, src, out, ckpt).awaitTermination(300)
    n1 = spark.read.parquet(out).count()
    assert 0 < n1 < 200

    # new crawl files land while the query is down; restart SAME ckpt
    for i, f in enumerate(staged[half:]):
        shutil.copy(f, os.path.join(src, f"g{i:03d}.parquet"))
    stream_extraction(spark, src, out, ckpt).awaitTermination(300)

    res = spark.read.parquet(out)
    assert res.count() == 200
    assert res.select("url").distinct().count() == 200  # exactly once
    golden = spark.read.parquet(PART_CORPUS).select("url", "text")
    j = res.join(golden, "url").collect()
    assert len(j) == 200
    assert all(r["extracted_text"] == r["text"] for r in j)
