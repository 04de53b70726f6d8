"""Skew fixture: prove salting actually moves the tail (SURVEY.md §7 risk:
'synthetic skewed-host fixture to prove the salting path actually moves
the p99 task time')."""

import os

import pytest
from pyspark.sql import functions as F

from ocr_hardsubx_spark.plans.pipeline import salt_repartition
from ocr_hardsubx_spark.plans.queries import FIXTURES_DIR
from ocr_hardsubx_spark.sources.fixtures import generate_rows

SKEWED = os.path.join(FIXTURES_DIR, "documents_skewed")
N_DOCS = 600


@pytest.fixture(scope="module")
def skewed_layout(spark):
    """Pathological upstream layout: ONE parquet file per host, hosts
    Zipf-distributed — the mega-host's file dominates any per-file task."""
    if not os.path.isdir(SKEWED):
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = list(generate_rows(N_DOCS))
        by_host: dict[str, list] = {}
        for r in rows:
            host = r["url"].split("/")[2]
            by_host.setdefault(host, []).append(r)
        os.makedirs(SKEWED, exist_ok=True)
        for host, rs in by_host.items():
            pq.write_table(
                pa.table({
                    "url": [r["url"] for r in rs],
                    "warc_ts": pa.array([r["warc_ts"] for r in rs],
                                        type=pa.timestamp("us", tz="UTC")),
                    "html": pa.array([r["html"] for r in rs],
                                     type=pa.binary()),
                    "lang": [r["lang"] for r in rs],
                }),
                os.path.join(SKEWED, f"{host}.parquet"))
    return SKEWED


def _partition_histogram(df):
    rows = (df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid").count().collect())
    return sorted(r["count"] for r in rows)


def test_layout_is_actually_skewed(spark, skewed_layout):
    files = sorted(os.listdir(skewed_layout))
    sizes = [os.path.getsize(os.path.join(skewed_layout, f)) for f in files]
    assert max(sizes) > 5 * (sum(sizes) / len(sizes)), (
        "fixture lost its skew")


def test_salting_flattens_partition_load(spark, skewed_layout):
    """With maxPartitionBytes large (pathological: split = file), the
    mega-host's partition dwarfs the mean; after salt_repartition every
    partition is within 2x the mean."""
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 30))
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try:
        df = spark.read.parquet(skewed_layout)
        before = _partition_histogram(df)
        mean_b = sum(before) / len(before)
        after = _partition_histogram(salt_repartition(df, 16))
        mean_a = sum(after) / len(after)
        assert sum(before) == sum(after) == N_DOCS
        # unsalted: dominated by the mega-host partition
        assert before[-1] > 3 * mean_b, (before, mean_b)
        # salted: tail within 2x mean
        assert after[-1] <= 2 * mean_a, (after, mean_a)
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
        spark.conf.unset("spark.sql.files.openCostInBytes")


def test_salted_output_set_identical(spark, skewed_layout):
    """Salting must not change WHAT is computed, only where (order-
    insensitive equality of the full extraction output)."""
    from ocr_hardsubx_spark.operators.extract import extract_documents

    df = spark.read.parquet(skewed_layout)
    a = {(r["url"], r["extracted_text"])
         for r in extract_documents(df, spark).collect()}
    b = {(r["url"], r["extracted_text"])
         for r in extract_documents(
             salt_repartition(df, 16), spark).collect()}
    assert a == b and len(a) == N_DOCS
