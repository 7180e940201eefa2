"""Custom stateful streaming operator: inactivity-gap sessionization
via ``applyInPandasWithState`` (the API for operators Spark's built-in
windowed aggregations can't express).

Semantics: COMPLETED sessions only. A session is emitted the moment a
newer event from the same user proves the inactivity gap has elapsed;
the trailing open session per user stays in the state store (a real
continuous stream would eventually close it with a state timeout).
That makes the output well-defined for any batch boundary layout: state
carries (open session id, start, last, count) across micro-batches, and
closed sessions are appended exactly once.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (LongType, StructField, StructType)

SESSION_OUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("session_id", LongType()),
    StructField("n_events", LongType()),
    StructField("duration_us", LongType()),
])

# open-session carry-over: (session_id, start_us, last_us, n_events)
SESSION_STATE_SCHEMA = StructType([
    StructField("session_id", LongType()),
    StructField("start_us", LongType()),
    StructField("last_us", LongType()),
    StructField("n_events", LongType()),
])


def sessionize_stateful(events: DataFrame, *, gap_minutes: int = 30,
                        user_col: str = "user_id",
                        ts_us_col: str = "ts_us",
                        order_col: str = "event_id") -> DataFrame:
    """Group a STREAMING frame by user and fold events into sessions.

    ``events`` must carry event time as epoch microseconds (long) —
    computed upstream with native expressions so only compact longs
    cross the Arrow boundary. Emits one row per CLOSED session.
    """
    gap_us = gap_minutes * 60 * 1_000_000

    def fold(key: Any, pdfs: Iterator[pd.DataFrame],
             state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            sid, start, last, n = state.get
        else:
            sid, start, last, n = 0, None, None, 0
        closed: list[tuple[int, int, int, int]] = []
        batch = pd.concat(list(pdfs))
        batch = batch.sort_values([ts_us_col, order_col])
        for ts in batch[ts_us_col]:
            ts = int(ts)
            if last is None:
                sid, start, last, n = sid + 1, ts, ts, 1
            elif ts - last > gap_us:
                closed.append((key[0], sid, n, last - start))
                sid, start, last, n = sid + 1, ts, ts, 1
            else:
                # late cross-batch events must extend bounds
                # monotonically, never move them backward
                start, last, n = min(start, ts), max(last, ts), n + 1
        state.update((sid, start, last, n))
        yield pd.DataFrame(closed, columns=["user_id", "session_id",
                                            "n_events", "duration_us"])

    return (events.groupBy(user_col)
                  .applyInPandasWithState(
                      fold,
                      outputStructType=SESSION_OUT_SCHEMA,
                      stateStructType=SESSION_STATE_SCHEMA,
                      outputMode="append",
                      timeoutConf=GroupStateTimeout.NoTimeout))

