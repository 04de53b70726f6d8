"""Structured Streaming variant of the extraction pipeline.

The reference has no streaming surface (frames arrive from an external
CCExtractor loop — SURVEY.md §1.2); the web analog is a continuously
landing crawl: new parquet files appear under the documents directory and
must be extracted incrementally with exactly-once sink semantics.

Spark-first mapping:

* ``readStream`` file source over the same hive layout (schema explicit,
  never inferred);
* the SAME fused ``mapInPandas`` stage as the batch path —
  ``extract_documents`` is trigger-agnostic, so batch and streaming share
  one implementation and therefore one set of byte-identity guarantees;
* ``writeStream`` parquet sink + checkpointLocation gives incremental,
  resumable processing (the streaming twin of the manifest/resume
  protocol in plans/pipeline.py);
* ``stream_host_rates`` shows the watermark + windowed-aggregation
  pattern for late data (docs per host per 10-minute event-time window).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import functions as F

from ..operators.extract import extract_documents
from .stateful_dedup import HOST_RE

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql.streaming import StreamingQuery

DOCUMENTS_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                    "text string, lang string")


def read_documents_stream(spark: "SparkSession", input_path: str,
                          max_files_per_trigger: int = 8) -> "DataFrame":
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", "*.parquet")
        .parquet(input_path)
    )


def stream_extraction(spark: "SparkSession", input_path: str,
                      output_path: str, checkpoint: str,
                      available_now: bool = True) -> "StreamingQuery":
    """Incremental extraction: new crawl files -> extracted parquet.

    ``available_now=True`` drains everything currently present and stops
    (the batch-equivalent trigger used in tests and backfills); a live
    deployment passes False and lets the query run with the default
    micro-batch trigger.
    """
    docs = read_documents_stream(spark, input_path)
    extracted = extract_documents(docs, spark)
    writer = (
        extracted.writeStream
        .format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_host_rates(spark: "SparkSession", input_path: str,
                      checkpoint: str, queryName: str = "host_rates",
                      available_now: bool = True) -> "StreamingQuery":
    """Watermarked windowed aggregation: docs per host per 10-minute
    event-time window, tolerating 30 minutes of late data."""
    docs = read_documents_stream(spark, input_path)
    host = F.regexp_extract("url", HOST_RE, 1).alias("host")
    agg = (
        docs.select(host, "warc_ts")
        .withWatermark("warc_ts", "30 minutes")
        .groupBy(F.window("warc_ts", "10 minutes"), "host")
        .agg(F.count("*").alias("n_docs"))
    )
    writer = (
        agg.writeStream.format("memory").queryName(queryName)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_documents_warc_stream(spark: "SparkSession",
                               input_path: str,
                               max_files_per_trigger: int = 8
                               ) -> "DataFrame":
    """Crawl-native streaming ingest: WARC files landing in a directory
    become an incremental (url, warc_ts, html, lang) stream.

    ``binaryFile`` is a streaming-capable file source, so the
    parallelism unit stays the ARCHIVE FILE — exactly the batch
    reader's sharding (sources/warc.read_documents_warc) and exactly
    how crawls land (Common Crawl publishes ~100k WARCs per snapshot
    as they are written).  The record parse is the SAME pure function
    as the batch path, so batch and streaming share one set of
    parsing/damage guarantees; the checkpoint tracks which archives
    are done, giving exactly-once ingest across restarts."""
    from ..plans.packaging import ensure_workers_can_import
    from ..sources.warc import WARC_PAGE_SCHEMA, parse_files

    ensure_workers_can_import(spark)
    files = (
        spark.readStream.format("binaryFile")
        # streaming sources require an explicit schema; binaryFile's
        # is fixed by the format
        .schema("path string, modificationTime timestamp, "
                "length long, content binary")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", "*.warc*")
        .load(input_path)
        .select("content")
    )
    return files.mapInPandas(parse_files, schema=WARC_PAGE_SCHEMA)
