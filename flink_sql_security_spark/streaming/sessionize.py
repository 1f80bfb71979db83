"""Sessionization: gap-based event sessions, batch and streaming forms.

The canonical custom stateful operator (driver brief: "custom stateful
operators via applyInPandasWithState"):

- ``sessionize_batch`` — lag/gap/cumulative-sum over a window: pure built-in
  window functions, SQL-expressible (DuckDB oracle reproduces it), one
  shuffle on the session key.
- ``sessionize_stream`` — the same semantics over an unbounded stream with
  ``applyInPandasWithState``: per-key session state with processing-time
  timeouts, emitting a session row when its gap closes.

At scale the batch form is preferred whenever data is bounded (no Python on
the hot path); the stateful form exists for live streams where sessions must
close incrementally.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StringType, StructField, StructType,
    TimestampType,
)
from pyspark.sql.window import Window

SESSION_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("session_start", TimestampType()),
    StructField("session_end", TimestampType()),
    StructField("n_events", IntegerType()),
    StructField("total_value", DoubleType()),
])

_STATE_SCHEMA = StructType([
    StructField("start_us", LongType()),
    StructField("last_us", LongType()),
    StructField("n_events", IntegerType()),
    StructField("total_value", DoubleType()),
])


def sessionize_batch(events: DataFrame, gap_minutes: int = 30,
                     user_col: str = "user_id", ts_col: str = "ts",
                     value_col: str = "value") -> DataFrame:
    """Batch sessionization via window functions.

    session boundary = event whose gap to the previous event of the same
    user exceeds ``gap_minutes``; session id = cumulative count of
    boundaries. Emits one row per session with start/end/count/sum.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col)
    gap_s = gap_minutes * 60
    with_bounds = (
        events.withColumn("_prev", F.lag(ts_col).over(w))
        .withColumn(
            "_new_session",
            F.when(
                F.col("_prev").isNull()
                | (F.unix_timestamp(ts_col) - F.unix_timestamp("_prev") > gap_s),
                1,
            ).otherwise(0),
        )
        .withColumn("_session", F.sum("_new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    )
    return (
        with_bounds.groupBy(user_col, "_session")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").cast("int").alias("n_events"),
            F.sum(value_col).alias("total_value"),
        )
        .drop("_session")
    )


def sessionize_stream(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Streaming sessionization with per-user state and processing-time
    timeout: a closed session (gap exceeded or timeout fired) is emitted as
    one row. Expects columns (user_id, ts, value)."""
    gap_us = gap_minutes * 60 * 1_000_000

    def update(
        key: Tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        rows = pd.concat(list(batches), ignore_index=True)
        out = []
        if state.hasTimedOut:
            if state.exists:
                s, last, n, total = state.get
                out.append((key[0], s, last, n, total))
                state.remove()
        else:
            rows = rows.sort_values("ts")
            if state.exists:
                start_us, last_us, n, total = state.get
            else:
                start_us, last_us, n, total = None, None, 0, 0.0
            for ts, value in zip(rows["ts"], rows["value"]):
                ts_us = int(ts.value // 1_000)  # pandas ns → µs
                if last_us is not None and ts_us - last_us > gap_us:
                    out.append((key[0], start_us, last_us, n, total))
                    start_us, n, total = ts_us, 0, 0.0
                if start_us is None:
                    start_us = ts_us
                last_us = ts_us
                n += 1
                total += float(value)
            state.update((start_us, last_us, n, total))
            state.setTimeoutDuration(gap_minutes * 60 * 1000)
        if out:
            yield pd.DataFrame(
                [
                    {
                        "user_id": u,
                        "session_start": pd.Timestamp(s, unit="us"),
                        "session_end": pd.Timestamp(e, unit="us"),
                        "n_events": n,
                        "total_value": t,
                    }
                    for u, s, e, n, t in out
                ]
            )

    return (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
