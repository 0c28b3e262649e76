"""Custom stateful streaming operator: gap-based sessionization with
``applyInPandasWithState`` (north-star §2.8 extension).

Spark's built-in ``session_window`` covers gap sessionization when the
output is an aggregate per session. This operator exists for the cases
the built-in can't express: per-user session *numbering* (each event
tagged with its running session ordinal) and custom per-session state
(arbitrary Python accumulation), while keeping state bounded per key.

State per user: (last event ts, session ordinal, events in session) —
three scalars, so 100M users is a few GB of state store, well within a
cluster's RocksDB state backend. The operator is deterministic given
per-user event-time order; batch parity with a window-function twin
(kept as the oracle in ``tests/test_stateful_sessionize.py``) is pinned
by tests.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: (last_ts_us, session_ordinal, n_in_session, session_start_us)
_STATE_SCHEMA = (
    "last_ts_us long, session_id long, n_events long, session_start_us long"
)
_OUTPUT_SCHEMA = (
    "user_id long, session_id long, n_events long, session_start timestamp"
)


def sessionize_stream(
    events: DataFrame,
    *,
    gap_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-user session aggregates maintained in streaming state.

    Emits, per micro-batch and user, one row per session touched in
    that batch: (user_id, session_id, n_events, session_start).
    ``update`` output mode shows sessions grow across batches; a
    session's row is final once the user's gap elapses. The group's
    events are concatenated across Arrow chunks and sorted ONCE before
    folding — a large group arrives as multiple pandas chunks
    (``spark.sql.execution.arrow.maxRecordsPerBatch``), and chunk 2 can
    hold earlier timestamps than chunk 1, so per-chunk sorting would
    fold out of event-time order.

    Identity contract: ``(user_id, session_start)`` is the stable
    session key. ``session_id`` is the ordinal within the state-
    retention horizon — eviction (the bounded-state guarantee) resets
    a RETURNING user's ordinal to 1, so a sink keyed on
    (user_id, session_id) would collide across the horizon;
    session_start never collides (event time is watermark-monotone
    past the gap). The batch twin numbers over all history, so
    streaming ≡ twin parity holds within one retention horizon.
    """
    gap_us = gap_minutes * 60 * 1_000_000

    def fold(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # watermark passed last_ts + gap: the session can no longer
            # grow — evict its state (bounded state at 100 TB; see the
            # identity contract in the docstring)
            state.remove()
            return
        if state.exists:
            last_ts, sid, n, start_us = state.get
        else:
            last_ts, sid, n, start_us = None, 0, 0, None
        touched: dict[int, tuple] = {}
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        merged = (
            pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        )
        for ts in merged.sort_values("ts")["ts"]:
            ts_us = int(ts.value // 1000)  # pandas ns -> us
            if last_ts is None or ts_us - last_ts > gap_us:
                sid += 1
                n = 0
                start_us = ts_us
            n += 1
            last_ts = ts_us
            touched[sid] = (key[0], sid, n, start_us)
        state.update((last_ts, sid, n, start_us))
        # event-time timer: fire once the watermark passes the gap after
        # the last event (must stay ahead of the current watermark)
        wm_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max((last_ts + gap_us) // 1000, wm_ms + 1))
        if touched:
            out = pd.DataFrame(
                list(touched.values()),
                columns=["user_id", "session_id", "n_events", "session_start"],
            )
            out["session_start"] = pd.to_datetime(out["session_start"], unit="us")
            yield out

    return (
        # NTZ-safe: watermarks require TIMESTAMP (LTZ); wall-clock
        # preserved under the pinned UTC session timezone
        events.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fold,
            outputStructType=_OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
