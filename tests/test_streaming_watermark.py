"""Out-of-order delivery for the stateful streaming operators.

Round-3 verdict item 2: the in-order-arrival assumption is replaced by
a watermark contract — within-watermark disorder is reorder-buffered in
state and folded in event-time order (stream == batch under shuffled
delivery), beyond-watermark stragglers are engine-dropped with an exact
observable census (numRowsDroppedByWatermark).
"""

from __future__ import annotations

import datetime as dt

from ocr_hardsubx_spark.plans import dataset_queries as dq
from ocr_hardsubx_spark.streaming.stateful_dedup import (
    batch_host_dedup, stateful_host_dedup,
)
from ocr_hardsubx_spark.streaming.stateful_sessions import (
    stateful_sessionize,
)
from ocr_hardsubx_spark.streaming.watermark import watermark_drop_census
from tests.conftest import drain_stream

T0 = dt.datetime(2025, 1, 1, 12, 0, 0)
M = dt.timedelta(minutes=1)
BOILER = "Same navigation heavy page content repeated on every fetch"
ARTICLE = "Completely different article text that must be kept"

DEDUP_SCHEMA = "url string, warc_ts timestamp, extracted_text string"
EVENTS_SCHEMA = "event_id long, ts timestamp, user_id long"


def _run_rounds(spark, tmp_path, make_query, schema, rounds):
    """Feed one parquet file per round through a fresh checkpointed
    query (watermark persists across restarts); returns (rows, total
    engine late-drop census)."""
    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))
    dropped = 0
    for batch in rounds:
        spark.createDataFrame(batch, schema).repartition(1) \
            .write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = (make_query(stream)
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ck)
             .outputMode("append")
             .start())
        drain_stream(q)
        dropped += watermark_drop_census(q)
    return spark.read.parquet(out).collect(), dropped


def _dedup_rows():
    a = "https://hostA.example/p/"
    return [
        (a + "0", T0, BOILER),
        (a + "1", T0 + 1 * M, BOILER),              # refetch: suppressed
        (a + "2", T0 + 8 * M, ARTICLE),             # new article: kept
        (a + "3", T0 + 9 * M, ARTICLE + "!"),       # near-dup: suppressed
        ("https://hostB.example/q/0", T0, BOILER),  # independent chain
    ]


def test_dedup_shuffled_delivery_equals_batch_with_straggler_census(
        spark, tmp_path):
    rows = _dedup_rows()
    flush1 = ("https://flush.example/f1", T0 + 60 * M, "flush one")
    flush2 = ("https://flush.example/f2", T0 + 120 * M, "flush two")
    straggler = ("https://hostA.example/late", T0 - 120 * M, BOILER)
    # delivery order scrambles every within-watermark position; the
    # straggler arrives when the watermark is far past it
    rounds = [
        [rows[2], rows[0], rows[4]],
        [rows[3], rows[1], flush1],
        [straggler, flush2],
    ]
    got, dropped = _run_rounds(
        spark, tmp_path,
        lambda s: stateful_host_dedup(s, watermark="10 minutes"),
        DEDUP_SCHEMA, rounds)
    assert dropped == 1                      # exactly the straggler
    kept = {r["url"]: r["kept"] for r in got
            if not r["url"].startswith("https://flush.")}
    want = {r["url"]: r["kept"]
            for r in batch_host_dedup(
                spark.createDataFrame(rows, DEDUP_SCHEMA)).collect()}
    assert kept == want
    # pin the semantics, not just agreement
    assert want["https://hostA.example/p/0"] is True
    assert want["https://hostA.example/p/1"] is False
    assert want["https://hostA.example/p/2"] is True
    assert want["https://hostA.example/p/3"] is False
    assert want["https://hostB.example/q/0"] is True
    # the straggler was dropped, never emitted
    assert "https://hostA.example/late" not in {r["url"] for r in got}


def test_dedup_wm_in_order_delivery_also_matches(spark, tmp_path):
    """Watermark mode must not change semantics when delivery happens
    to be in order."""
    rows = _dedup_rows()
    flush1 = ("https://flush.example/f1", T0 + 60 * M, "flush one")
    flush2 = ("https://flush.example/f2", T0 + 120 * M, "flush two")
    got, dropped = _run_rounds(
        spark, tmp_path,
        lambda s: stateful_host_dedup(s, watermark="10 minutes"),
        DEDUP_SCHEMA, [rows, [flush1], [flush2]])
    assert dropped == 0
    kept = {r["url"]: r["kept"] for r in got
            if not r["url"].startswith("https://flush.")}
    want = {r["url"]: r["kept"]
            for r in batch_host_dedup(
                spark.createDataFrame(rows, DEDUP_SCHEMA)).collect()}
    assert kept == want


def _event_rows():
    """User 1: two sessions (40-min gap), ids NOT time-monotone in
    session 2; user 2: one session straddling exactly the 30-min
    threshold (not a boundary)."""
    return [
        (10, T0, 1), (11, T0 + 10 * M, 1),
        (13, T0 + 50 * M, 1), (12, T0 + 60 * M, 1),
        (20, T0, 2), (21, T0 + 30 * M, 2),
    ]


def _batch_minus_open(spark, tmp_path, rows):
    sf = str(tmp_path / "sf")
    (spark.createDataFrame(rows, EVENTS_SCHEMA)
     .selectExpr("event_id", "ts", "user_id",
                 "'x' AS event_type", "0.0 AS value", "'' AS props")
     .coalesce(1).write.mode("overwrite").parquet(sf + "/events.parquet"))
    sessions = dq.q_sessionize(spark, sf).collect()
    last = {}
    for r in sessions:
        last[r["user_id"]] = max(last.get(r["user_id"], 0), r["session_no"])
    return {(r["user_id"], r["session_no"]):
            (r["n_events"], r["first_event"], r["last_event"])
            for r in sessions if r["session_no"] != last[r["user_id"]]}


def test_sessions_shuffled_delivery_equals_batch_with_straggler_census(
        spark, tmp_path):
    rows = _event_rows()
    h = dt.timedelta(hours=1)
    flush1 = (990, T0 + 10 * h, 99)
    flush2 = (991, T0 + 20 * h, 99)
    straggler = (666, T0 - 10 * h, 1)
    # the events span 60 minutes and round 1 delivers T0+50m before
    # T0: the 2-hour watermark keeps every real event within the
    # reorder horizon, while the 10-hour straggler is engine-dropped
    rounds = [
        [rows[2], rows[0], rows[5]],           # shuffled
        [rows[3], rows[1], rows[4], flush1],
        [straggler, flush2],
    ]
    got, dropped = _run_rounds(
        spark, tmp_path,
        lambda s: stateful_sessionize(s, watermark="2 hours"),
        EVENTS_SCHEMA, rounds)
    assert dropped == 1
    emitted = {(r["user_id"], r["session_no"]):
               (r["n_events"], r["first_event"], r["last_event"])
               for r in got if r["user_id"] != 99}
    want = _batch_minus_open(spark, tmp_path, rows)
    assert emitted == want
    # exactly user 1's first session closed: 2 events, ids 10..11
    assert want == {(1, 1): (2, 10, 11)}
    # the straggler never surfaced in any emitted session
    assert all(not (lo <= 666 <= hi)
               for (_, _), (_, lo, hi) in emitted.items())


def test_dedup_default_mode_is_watermark_shuffled_delivery(
        spark, tmp_path):
    """The DEFAULT path (no watermark= passed) must tolerate shuffled
    delivery — real sources are out of order, so in-order is the opt-in
    fast path, not the default."""
    rows = _dedup_rows()
    flush1 = ("https://flush.example/f1", T0 + 60 * M, "flush one")
    flush2 = ("https://flush.example/f2", T0 + 120 * M, "flush two")
    straggler = ("https://hostA.example/late", T0 - 120 * M, BOILER)
    rounds = [
        [rows[2], rows[0], rows[4]],
        [rows[3], rows[1], flush1],
        [straggler, flush2],
    ]
    got, dropped = _run_rounds(
        spark, tmp_path,
        lambda s: stateful_host_dedup(s),       # DEFAULT mode
        DEDUP_SCHEMA, rounds)
    assert dropped == 1
    kept = {r["url"]: r["kept"] for r in got
            if not r["url"].startswith("https://flush.")}
    want = {r["url"]: r["kept"]
            for r in batch_host_dedup(
                spark.createDataFrame(rows, DEDUP_SCHEMA)).collect()}
    assert kept == want


def test_sessions_default_mode_is_watermark_shuffled_delivery(
        spark, tmp_path):
    """Default stateful_sessionize (no watermark= passed) under
    delivery shuffled within the default 10-minute watermark."""
    from ocr_hardsubx_spark.streaming.stateful_sessions import (
        stateful_sessionize,
    )

    h = dt.timedelta(hours=1)
    e1, e2, e3 = (10, T0, 1), (11, T0 + 5 * M, 1), (12, T0 + 40 * M, 1)
    flush1, flush2 = (990, T0 + 5 * h, 99), (991, T0 + 10 * h, 99)
    straggler = (666, T0 - 10 * h, 1)
    rounds = [
        [e2, e1],                       # shuffled within the watermark
        [e3, flush1],
        [straggler, flush2],
    ]
    got, dropped = _run_rounds(
        spark, tmp_path,
        lambda s: stateful_sessionize(s),       # DEFAULT mode
        EVENTS_SCHEMA, rounds)
    assert dropped == 1                         # exactly the straggler
    emitted = {(r["user_id"], r["session_no"]):
               (r["n_events"], r["first_event"], r["last_event"])
               for r in got if r["user_id"] != 99}
    want = _batch_minus_open(spark, tmp_path, [e1, e2, e3])
    assert emitted == want == {(1, 1): (2, 10, 11)}


def _dedup_gc_rounds():
    h = dt.timedelta(hours=1)
    a0 = ("https://hostA.example/g/0", T0, BOILER)
    a1 = ("https://hostA.example/g/1", T0 + 5 * h + 55 * M, BOILER)
    f = lambda i, t: (f"https://flush.example/f{i}", t, f"flush {i}")
    return a0, a1, [
        [a0, f(1, T0 + 30 * M)],
        [f(2, T0 + 3 * h)],
        [f(3, T0 + 6 * h)],                 # idle horizon passes here
        [a1, f(4, T0 + 9 * h)],
        [f(5, T0 + 12 * h)],
    ]


def test_dedup_wm_idle_state_gc(spark, tmp_path):
    """A host idle past the event-time idle horizon has its state row
    removed: the later near-identical refetch starts a FRESH chain and
    is kept (state did not persist forever)."""
    a0, a1, rounds = _dedup_gc_rounds()
    got, dropped = _run_rounds(
        spark, tmp_path,
        lambda s: stateful_host_dedup(s, idle_horizon_ms=3_600_000),
        DEDUP_SCHEMA, rounds)
    assert dropped == 0
    kept = {r["url"]: r["kept"] for r in got}
    assert kept[a0[0]] is True
    assert kept[a1[0]] is True              # fresh chain after GC


def test_dedup_wm_idle_gc_control_state_survives_inside_horizon(
        spark, tmp_path):
    """Control for the GC test: with the default 24h horizon the state
    row survives the same timeline, so the refetch IS suppressed —
    proving the keep above is caused by the GC, not a chain bug."""
    a0, a1, rounds = _dedup_gc_rounds()
    got, dropped = _run_rounds(
        spark, tmp_path,
        lambda s: stateful_host_dedup(s),   # default 24h horizon
        DEDUP_SCHEMA, rounds)
    assert dropped == 0
    kept = {r["url"]: r["kept"] for r in got}
    assert kept[a0[0]] is True
    assert kept[a1[0]] is False             # state survived, suppressed


def test_sessions_wm_idle_state_gc_emits_open_session(spark, tmp_path):
    """A user idle past the idle horizon has the still-open session
    emitted as closed (gap >= horizon >= SESSION_GAP) and the state row
    removed — no closing event ever arrives, yet the session surfaces."""
    from ocr_hardsubx_spark.streaming.stateful_sessions import (
        stateful_sessionize,
    )

    h = dt.timedelta(hours=1)
    e1, e2 = (10, T0, 1), (11, T0 + 5 * M, 1)
    rounds = [
        [e1, e2, (990, T0 + 30 * M, 99)],
        [(991, T0 + 3 * h, 99)],
        [(992, T0 + 6 * h, 99)],            # GC fires for user 1 here
    ]
    got, dropped = _run_rounds(
        spark, tmp_path,
        lambda s: stateful_sessionize(s, idle_horizon_ms=3_600_000),
        EVENTS_SCHEMA, rounds)
    assert dropped == 0
    emitted = {(r["user_id"], r["session_no"]):
               (r["n_events"], r["first_event"], r["last_event"])
               for r in got if r["user_id"] != 99}
    assert emitted == {(1, 1): (2, 10, 11)}


def test_gc_knobs_are_mode_specific_and_never_reinterpreted(spark):
    """A processing-time GC budget must never silently become an
    event-time horizon (or vice versa) when the mode changes — each
    knob is rejected in the other's mode."""
    import pytest as _pytest

    from ocr_hardsubx_spark.streaming.stateful_sessions import (
        stateful_sessionize,
    )

    df = spark.createDataFrame([], DEDUP_SCHEMA)
    with _pytest.raises(TypeError):                       # retired knob
        stateful_host_dedup(df, idle_timeout_ms=60_000)
    with _pytest.raises(ValueError):
        stateful_host_dedup(df, watermark=None,
                            idle_horizon_ms=60_000)
    ev = spark.createDataFrame([], EVENTS_SCHEMA)
    with _pytest.raises(ValueError):
        stateful_sessionize(ev, watermark=None,
                            idle_horizon_ms=60_000)


def test_sessions_gc_restarts_numbering_documented_epoch(spark,
                                                         tmp_path):
    """The documented GC tradeoff, pinned as a contract: a user
    returning AFTER the idle horizon starts a fresh numbering epoch
    (session_no restarts at 1), and the rows stay distinguishable via
    first_event.  Without GC (the default), state — and numbering —
    would have persisted."""
    from ocr_hardsubx_spark.streaming.stateful_sessions import (
        stateful_sessionize,
    )

    h = dt.timedelta(hours=1)
    rounds = [
        [(10, T0, 1), (990, T0 + 30 * M, 99)],
        [(991, T0 + 3 * h, 99)],            # GC fires for user 1
        [(992, T0 + 6 * h, 99)],
        # user 1 returns long past the horizon: new epoch
        [(20, T0 + 7 * h, 1), (993, T0 + 9 * h, 99)],
        [(994, T0 + 12 * h, 99)],           # GC fires again
    ]
    got, dropped = _run_rounds(
        spark, tmp_path,
        lambda s: stateful_sessionize(s, idle_horizon_ms=3_600_000),
        EVENTS_SCHEMA, rounds)
    assert dropped == 0
    mine = sorted((r["session_no"], r["first_event"], r["n_events"])
                  for r in got if r["user_id"] == 1)
    # two epochs, each numbered from 1, distinguished by first_event
    assert mine == [(1, 10, 1), (1, 20, 1)]
