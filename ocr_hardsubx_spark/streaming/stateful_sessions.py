"""Stateful streaming sessionization — the streaming twin of
``plans/dataset_queries.q_sessionize`` (a 30-minute inactivity gap
closes a session).

``applyInPandasWithState`` carries one bounded state row per user
(open session: number, counters, id extrema, last event time in µs —
the same µs precision the batch shadow uses, since unix-seconds
truncation misclassifies near-threshold gaps).  A summary row is
emitted for each session the moment a later event CLOSES it (gap >
SESSION_GAP); the still-open session stays in state.

Contract, pinned in tests/test_stateful_sessions.py against the batch
shadow: across ANY micro-batch slicing, the emitted closed sessions
equal ``q_sessionize``'s result minus each user's LAST (still-open)
session.  The DEFAULT mode is the watermark mode (real sources deliver
out of order): reorder-buffer within the watermark, engine-drop (with
an exact census) beyond it, OPT-IN idle-horizon state GC
(tests/test_streaming_watermark.py; see stateful_sessionize on why GC
is not defaulted here).  One per-user fold serves both modes:
``watermark=None`` (for sources that replay event-time order) folds
every arrival at once, with nothing held back, no timeout and no
state GC.
"""

from __future__ import annotations

from functools import partial
from typing import TYPE_CHECKING

import pandas as pd

from .watermark import dump_buffer, load_buffer, schedule_flush, split_ready

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

SESSION_GAP_US = 1800 * 1_000_000  # mirrors q_sessionize's threshold

OUTPUT_SCHEMA = ("user_id long, session_no long, n_events long, "
                 "first_event long, last_event long")
STATE_SCHEMA = ("session_no long, n_events long, first_event long, "
                "last_event long, last_ts_us long, buf string")

_COLS = ["user_id", "session_no", "n_events", "first_event", "last_event"]


def _sessions_user(watermarked, idle_horizon_ms, key, pdfs, state):
    """Per-user fold: close sessions on gap > SESSION_GAP_US, over the
    ready events in (ts, event_id) order.

    In watermark mode only events strictly below the current watermark
    are ready; the rest wait in the state's buffer and flush via
    event-time timeouts (streaming/watermark.py contract), and
    stragglers beyond the watermark are engine-dropped and counted in
    the progress census.  A user idle past ``idle_horizon_ms`` (event
    time) has the still-open session emitted as closed (the gap already
    exceeds SESSION_GAP) and the state row removed — without this GC,
    open-session rows accumulate forever under user churn.  Without a
    watermark every arrival is ready at once.

    ``first_event``/``last_event`` are the MIN/MAX event ids of the
    session (the batch shadow aggregates min/max, which only equals
    first/last-in-time when ids are time-monotone — track extrema, not
    endpoints, so the contract holds either way)."""
    (user,) = key
    sno, n, lo, hi, last_us, buf = 0, 0, 0, 0, -1, []
    if state.exists:
        sno, n, lo, hi, last_us, buf_json = state.get
        buf = load_buffer(buf_json)
    last_us = None if last_us < 0 else last_us  # -1: nothing folded yet
    if not state.hasTimedOut:
        rows = pd.concat(list(pdfs), ignore_index=True)
        buf += [[int(pd.Timestamp(ts).value) // 1000, int(eid)]
                for ts, eid in zip(rows["ts"], rows["event_id"])]
    wm_ms = state.getCurrentWatermarkMs() if watermarked else None
    ready, pending = split_ready(buf, wm_ms)
    if state.hasTimedOut and not ready and not pending:
        # idle-horizon GC: close and emit the open session (the idle
        # horizon >= SESSION_GAP, so it IS closed in event time), then
        # drop the state row
        state.remove()
        if n:
            yield pd.DataFrame([(user, sno, n, lo, hi)], columns=_COLS)
        return
    closed = []
    for us, eid in ready:
        if last_us is None or us - last_us > SESSION_GAP_US:
            if n:
                closed.append((user, sno, n, lo, hi))
            sno += 1
            n, lo, hi = 0, eid, eid
        n += 1
        lo, hi = min(lo, eid), max(hi, eid)
        last_us = us
    state.update((int(sno), int(n), int(lo), int(hi),
                  int(last_us) if last_us is not None else -1,
                  dump_buffer(pending)))
    schedule_flush(state, pending, wm_ms, last_us, idle_horizon_ms)
    if closed:
        yield pd.DataFrame(closed, columns=_COLS)


def stateful_sessionize(events: "DataFrame",
                        watermark: str | None = "10 minutes",
                        idle_horizon_ms: int | None = None,
                        ) -> "DataFrame":
    """events(event_id, ts, user_id, ...) -> closed-session summaries
    ``(user_id, session_no, n_events, first_event, last_event)``.

    The DEFAULT is watermark mode: arrivals may be shuffled arbitrarily
    within the ``watermark`` delay (reorder buffer + event-time
    timeouts); older stragglers are engine-dropped and observable via
    ``watermark.watermark_drop_census``.  Pinned in tests: shuffled
    delivery == in-order delivery == batch shadow, and the straggler
    census is exact.

    ``idle_horizon_ms`` (EVENT-time, floored at SESSION_GAP, OPT-IN) is
    the state GC dial: a user idle past it has the open session emitted
    as closed and the state row removed.  It is opt-in — NOT defaulted
    like the dedup operator's — because removal drops the session
    COUNTER: a user returning after the horizon restarts at
    session_no=1, so emitted (user_id, session_no) keys can repeat
    across GC epochs and no longer match the batch shadow's monotone
    numbering (review finding).  With GC enabled, downstream must key
    on (user_id, session_no, first_event); without it, state is one
    open-session row per user ever seen — the price of stable
    numbering.  Both behaviors are pinned in tests.

    Pass ``watermark=None`` for a file source replaying event-time
    order: the same fold runs on every arrival at once (no reorder
    buffer, no drops, no GC).

    Works on a streaming DataFrame; unit tests drive it through a
    parquet file source with varied micro-batch slicings."""
    from pyspark.sql import SparkSession
    from pyspark.sql.streaming.state import GroupStateTimeout

    spark = SparkSession.getActiveSession()
    if spark is not None:
        from ..plans.packaging import ensure_workers_can_import

        ensure_workers_can_import(spark)  # --py-files equivalent

    if watermark is None:
        if idle_horizon_ms is not None:
            raise ValueError(
                "idle_horizon_ms is the watermark-mode GC horizon; "
                "watermark=None has no timeout-based GC")
        timeout = GroupStateTimeout.NoTimeout
    else:
        events = events.withWatermark("ts", watermark)
        timeout = GroupStateTimeout.EventTimeTimeout
        if idle_horizon_ms is not None:
            # the GC close is only valid once the gap exceeds SESSION_GAP
            idle_horizon_ms = max(idle_horizon_ms, SESSION_GAP_US // 1000 + 1)
    return (
        events.select("user_id", "event_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            partial(_sessions_user, watermark is not None, idle_horizon_ms),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=timeout,
        )
    )
