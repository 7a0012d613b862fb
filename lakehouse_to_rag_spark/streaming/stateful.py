"""Custom stateful streaming operators via applyInPandasWithState.

The reference has no streaming at all (SURVEY.md §2.11); batch
sessionization (operators/events.py) re-expressed incrementally needs
arbitrary per-key state — the idiomatic Spark shape is
``applyInPandasWithState`` with a GroupStateTimeout so sessions close
when the watermark passes the gap.

State per user is O(1) (last event time + running counters), so state
store size is O(active users in the gap window) — the property that
makes this run indefinitely at 100 TB/day event volumes.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

SESSION_GAP_SECONDS = 30 * 60

_STATE_SCHEMA = StructType(
    [
        StructField("last_ts_us", LongType()),
        StructField("n_events", LongType()),
        StructField("session_start_us", LongType()),
        StructField("n_sessions", LongType()),
    ]
)

_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("status", StringType()),  # closed | open
    ]
)


def sessionize_stateful(
    events: DataFrame,
    gap_seconds: int = SESSION_GAP_SECONDS,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Streaming gap sessionization: emits a row per CLOSED session
    (plus the open session on timeout). Input must be a streaming
    DataFrame with columns (user_id, ts, ...)."""

    gap_us = gap_seconds * 1_000_000

    def fn(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            last_ts, n_events, start, n_sessions = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start * 1000)],
                    "session_end": [pd.Timestamp(last_ts * 1000)],
                    "n_events": [n_events],
                    "status": ["closed"],
                }
            )
            return

        ts_list: list[int] = []
        for pdf in batches:
            ts_list.extend(int(v.value // 1000) for v in pdf["ts"])
        ts_list.sort()
        if not ts_list:
            return

        if state.exists:
            last_ts, n_events, start, n_sessions = state.get
        else:
            last_ts, n_events, start, n_sessions = None, 0, None, 0

        out_rows = []
        for t in ts_list:
            if last_ts is not None and t - last_ts > gap_us:
                out_rows.append((user_id, start, last_ts, n_events, "closed"))
                n_sessions += 1
                n_events = 0
                start = None
            if start is None:
                start = t
            n_events += 1
            last_ts = t

        state.update((last_ts, n_events, start, n_sessions))
        state.setTimeoutTimestamp(last_ts // 1000 + gap_seconds * 1000)
        if out_rows:
            yield pd.DataFrame(
                {
                    "user_id": [r[0] for r in out_rows],
                    "session_start": [pd.Timestamp(r[1] * 1000) for r in out_rows],
                    "session_end": [pd.Timestamp(r[2] * 1000) for r in out_rows],
                    "n_events": [r[3] for r in out_rows],
                    "status": [r[4] for r in out_rows],
                }
            )

    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=_OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
