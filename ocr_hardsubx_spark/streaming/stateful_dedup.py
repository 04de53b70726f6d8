"""Custom stateful streaming operator: cross-batch consecutive dedup.

The batch pipeline dedups consecutive blocks WITHIN a document; a live
crawl also sees the same boilerplate-heavy page re-fetched across
micro-batches.  This operator extends the HardsubX consecutive-dedup
semantics across time per host: within each host's stream (event-time
order), a document whose extracted text is near-identical
(Levenshtein ratio >= DEDUP_SIM_THRESHOLD) to the host's previously kept
document is suppressed.  The chain itself is the kernel's
``operators.dedup.dedup_consecutive``, seeded with the host's carried
prefix.

Implemented with ``applyInPandasWithState`` (the Structured Streaming
escape hatch for custom stateful logic): state = the last kept document's
normalized prefix, the last folded event time and a reorder buffer per
host, carried across micro-batches.  One per-host fold serves both
delivery modes.  The DEFAULT is watermark mode (out-of-order tolerant:
reorder buffer + event-time-timeout flush + engine-side late-drop census
+ event-time idle-state GC — see streaming/watermark.py);
``watermark=None`` folds every arrival at once (nothing is held back,
no timeout, no state GC) for sources that replay event-time order.
"""

from __future__ import annotations

from functools import partial
from typing import TYPE_CHECKING

import pandas as pd

from ..config import DEDUP_PREFIX_CHARS, DEDUP_SIM_THRESHOLD
from ..operators.dedup import dedup_consecutive
from .watermark import (
    WM_IDLE_HORIZON_MS, dump_buffer, load_buffer, schedule_flush, split_ready,
)

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

OUTPUT_SCHEMA = ("host string, url string, warc_ts timestamp, "
                 "extracted_text string, kept boolean")
STATE_SCHEMA = "prefix string, last_us long, buf string"
_COLS = ["host", "url", "warc_ts", "extracted_text", "kept"]

# scheme-agnostic, no trailing-slash requirement: http:// URLs and
# pathless https URLs extract a real host instead of '' (round-2
# advisory — '' lumped unrelated URLs into one shared dedup state)
HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]+)"


def _dedup_host(watermarked, idle_horizon_ms, key, pdfs, state):
    """Per-host function: fold the ready events in (warc_ts, url) order,
    suppressing docs near-identical to the previously kept one.

    In watermark mode only events strictly below the current watermark
    are ready; the rest wait in the state's buffer (see
    streaming/watermark.py for the disorder contract), and
    beyond-watermark stragglers never reach this function — the engine
    drops and counts them (watermark_drop_census).  A host idle past
    ``idle_horizon_ms`` (event time) has its state row removed — after
    GC a refetch starts a fresh chain.  Without a watermark every
    arrival is ready at once."""
    (host,) = key
    new = (None if state.hasTimedOut
           else pd.concat(list(pdfs), ignore_index=True))
    if host == "":
        # unparseable-host rows pass through independently: no shared
        # chain, no state — unrelated URLs must never suppress each other
        if new is not None and len(new):
            kept = [bool((t or "")[:DEDUP_PREFIX_CHARS])
                    for t in new["extracted_text"]]
            yield new.assign(host=host, kept=kept)[_COLS]
        return
    prev, last_us, buf = "", -1, []
    if state.exists:
        prev, last_us, buf_json = state.get
        buf = load_buffer(buf_json)
    if new is not None:
        buf += [[int(pd.Timestamp(ts).value) // 1000, url, text]
                for ts, url, text in zip(new["warc_ts"], new["url"],
                                         new["extracted_text"])]
    wm_ms = state.getCurrentWatermarkMs() if watermarked else None
    ready, pending = split_ready(buf, wm_ms)
    if state.hasTimedOut and not ready and not pending:
        # idle-horizon GC: the watermark passed last activity + horizon
        # with nothing buffered — drop the state row
        state.remove()
        return
    prefixes = [(text or "")[:DEDUP_PREFIX_CHARS] for _, _, text in ready]
    kept = dedup_consecutive(prefixes, prev_text=prev or None)
    if kept:
        prev = prefixes[kept[-1]]
    if ready:
        last_us = ready[-1][0]
    state.update((prev, last_us, dump_buffer(pending)))
    schedule_flush(state, pending, wm_ms, None if last_us < 0 else last_us,
                   idle_horizon_ms)
    if ready:
        keep = set(kept)
        yield pd.DataFrame(
            [(host, url, pd.Timestamp(ts_us * 1000), text, i in keep)
             for i, (ts_us, url, text) in enumerate(ready)],
            columns=_COLS)


def batch_host_dedup(extracted: "DataFrame") -> "DataFrame":
    """Batch-equivalence shadow of ``stateful_host_dedup``: the same
    prev-KEPT consecutive-dedup chain per host, computed over a bounded
    batch with JVM higher-order functions (collect per host -> sort by
    (warc_ts, url) -> left fold carrying the previously kept prefix) —
    no Python in the loop, one shuffle on host.

    Returns (host, url, kept).  Running the streaming operator
    availableNow over the same rows (any batch slicing) must produce the
    identical kept set — asserted in tests/test_stream_batch_shadow.py.

    Scale note: this collects one host's refetch window into a single
    row, so it is the ORACLE for bounded windows (a day of one host's
    fetches), not the scale path — the streaming operator with its
    one-row-per-host state is the scale path.
    """
    from pyspark.sql import functions as F

    # banded DP: sim >= T requires distance <= (1-T)*maxlen <=
    # (1-T)*DEDUP_PREFIX_CHARS, so levenshtein's threshold form (returns
    # -1 when the distance exceeds the band) is an EXACT-equivalent gate
    # at ~1/7th the DP cost — O(len * band) instead of O(len^2)
    band = int((1.0 - DEDUP_SIM_THRESHOLD) * DEDUP_PREFIX_CHARS) + 1
    lev = f"levenshtein(x.cur, acc.prev, {band})"
    sim = (
        f"(acc.prev <> '' AND x.cur <> '' AND {lev} >= 0 AND "
        f"(1.0 - cast({lev} as double)"
        f" / greatest(length(x.cur), length(acc.prev))) >= "
        f"{DEDUP_SIM_THRESHOLD})"
    )
    fold = f"""
    aggregate(
      items,
      cast(named_struct('prev', '', 'out',
           array()) as struct<prev:string,
                              out:array<struct<url:string,k:boolean>>>),
      (acc, x) -> named_struct(
        'prev', CASE WHEN {sim} THEN acc.prev
                     WHEN x.cur <> '' THEN x.cur
                     ELSE acc.prev END,
        'out', concat(acc.out, array(named_struct(
                 'url', x.url, 'k', (NOT {sim}) AND x.cur <> '')))
      )
    ).out
    """
    with_host = extracted.withColumn(
        "host", F.regexp_extract("url", HOST_RE, 1))
    base = with_host.select(
        "host", "warc_ts", "url",
        F.expr(f"substring(coalesce(extracted_text, ''), 1, "
               f"{DEDUP_PREFIX_CHARS})").alias("cur"))
    # unparseable-host rows pass through independently (mirrors the
    # stateful operator): each is kept iff non-empty, no shared chain
    orphans = base.where(F.col("host") == "").select(
        "host", "url", (F.col("cur") != "").alias("kept"))
    g = base.where(F.col("host") != "").groupBy("host").agg(
        F.expr("sort_array(collect_list(struct(warc_ts, url, cur)))")
         .alias("items"))
    return (
        g.select("host", F.explode(F.expr(fold)).alias("o"))
        .select("host", F.col("o.url").alias("url"),
                F.col("o.k").alias("kept"))
        .unionByName(orphans)
    )


def stateful_host_dedup(extracted: "DataFrame",
                        watermark: str | None = "10 minutes",
                        idle_horizon_ms: int | None = None) -> "DataFrame":
    """extracted(url, warc_ts, extracted_text, ...) -> per-host stream with
    a ``kept`` flag assigned by cross-batch consecutive dedup.

    The DEFAULT is watermark mode (``watermark="10 minutes"``): real
    sources (Kafka, a live crawl) deliver out of order, so events are
    reorder-buffered per host and folded in event-time order once the
    watermark passes them; stragglers older than the watermark are
    dropped BY THE ENGINE and counted (watermark.watermark_drop_census).
    ``idle_horizon_ms`` is this mode's EVENT-TIME idle GC (default
    ``watermark.WM_IDLE_HORIZON_MS``, 24h): a host idle past it has its
    state row removed — a later refetch starts a FRESH chain, the
    documented GC tradeoff.

    Pass ``watermark=None`` for a source that replays event-time order:
    the same fold runs on every arrival at once (no reorder buffer, no
    drops, no timeout and so no state GC — ``idle_horizon_ms`` is
    rejected there).

    Works on a streaming DataFrame (applyInPandasWithState); the unit tests
    drive it through a memory-source availableNow query.
    """
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    spark = SparkSession.getActiveSession()
    if spark is not None:
        from ..plans.packaging import ensure_workers_can_import

        ensure_workers_can_import(spark)  # --py-files equivalent

    with_host = extracted.withColumn(
        "host", F.regexp_extract("url", HOST_RE, 1))
    if watermark is None:
        if idle_horizon_ms is not None:
            raise ValueError(
                "idle_horizon_ms is the watermark mode's event-time GC "
                "horizon; watermark=None has no timeout-based GC")
        timeout = GroupStateTimeout.NoTimeout
    else:
        with_host = with_host.withWatermark("warc_ts", watermark)
        timeout = GroupStateTimeout.EventTimeTimeout
        if idle_horizon_ms is None:
            idle_horizon_ms = WM_IDLE_HORIZON_MS
    return (
        with_host.select("host", "url", "warc_ts", "extracted_text")
        .groupBy("host")
        .applyInPandasWithState(
            partial(_dedup_host, watermark is not None, idle_horizon_ms),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=timeout,
        )
    )
