"""Streaming parity: the security layer over Structured Streaming.

The reference executes every query in a *streaming* TableEnvironment over
MySQL-CDC changelog tables (``SecurityContext.java:106-108``,
``AbstractBasicTest.java:179-187``) and fetches the first N rows from the
unbounded result iterator (``fetchRows``, ``SecurityContext.java:235-242``).
Spark parity: ``readStream`` sources + the same policy application
(row filters and masks are stateless projections/filters — valid in streaming
plans unchanged), memory-sink polling for collect-N, and watermarked windowed
aggregation for the parts of Structured Streaming the reference never reaches
(no watermarks/windows anywhere in its corpus — SURVEY §2.B).
"""

from __future__ import annotations

import time
from typing import Optional

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ..context import SecurityContext

_sink_counter = 0


def secure_stream(ctx: SecurityContext, username: str, stream_df: DataFrame,
                  table_name: str) -> DataFrame:
    """Apply the user's policies for ``table_name`` to a streaming DataFrame.

    Same path as batch and SQL (``SecurityContext.apply_policies``): the
    masked projection, then the row filter on the masked values. Both are
    stateless, so the streaming planner accepts them unchanged.
    """
    if not stream_df.isStreaming:
        raise ValueError("secure_stream expects a streaming DataFrame")
    return ctx.apply_policies(username, stream_df, table_name)


# Stateful drains aim for this much input per state task (see
# drain_state_partitions): enough that a test-sized drain stays on its
# measured floor, small enough that a corpus-sized one spreads its state
# store up to the cluster's parallelism.
STATE_TASK_BYTES = 64 << 20


def drain_state_partitions(df: DataFrame, floor_n: int) -> int:
    """State-task count for a bounded streaming drain over ``df``.

    Stateful operators allocate one state task per shuffle partition
    per micro-batch, and each task pays a fixed scheduling (and, for
    Python state runners, worker round-trip) cost — so a drain wants
    the FEWEST partitions that still hold a bounded volume of state
    per task. Tuned constants alone don't scale: 4 partitions sized to
    a test drain would serialize the state store under a production
    key count. Derivation::

        max(floor_n, min(defaultParallelism,
                         ceil(plan_size_bytes / STATE_TASK_BYTES)))

    - ``floor_n`` is the measured per-drain floor (state volume at the
      local SFs never justifies more than a handful of tasks; the
      measured sweeps live at the call sites) — at the local corpus
      the estimate term is ≤ floor, so local behavior is unchanged;
    - the estimate term grows with the drained input (Catalyst's free
      plan statistic — no job; unavailable ⇒ treated as LARGE, the
      scale-safe reading), so a corpus-sized drain spreads its state
      store up to the cluster's parallelism instead of funneling it
      through the test-sized floor.
    """
    if floor_n < 1:
        raise ValueError(f"floor_n must be >= 1, got {floor_n}")
    from ..plan_stats import plan_size_bytes

    cores = df.sparkSession.sparkContext.defaultParallelism
    est = plan_size_bytes(df)
    # a relation Catalyst cannot estimate reports defaultSizeInBytes
    # (Long.MaxValue) — treat anything absurd as UNKNOWN, i.e. large
    # (the spread_partitions convention)
    if est is None or est >= (1 << 50):
        est_tasks = cores
    else:
        est_tasks = -(-est // STATE_TASK_BYTES)
    return max(floor_n, min(cores, est_tasks))


def fetch_stream_rows(result: DataFrame, size: int = 10,
                      timeout_sec: float = 30.0,
                      output_mode: str = "append") -> list[Row]:
    """Collect-N from an unbounded result via a memory sink.

    Parity with the reference's ``fetchRows`` (first N rows of the unbounded
    iterator): start the stream into an in-memory table, poll until ≥N rows
    or all available data is processed, return the first N.
    """
    global _sink_counter
    _sink_counter += 1
    sink = f"_fss_stream_sink_{_sink_counter}"
    query = (
        result.writeStream.format("memory")
        .queryName(sink)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    spark = result.sparkSession
    try:
        deadline = time.monotonic() + timeout_sec
        while time.monotonic() < deadline:
            if spark.table(sink).count() >= size or not query.isActive:
                break
            time.sleep(0.2)
        query.processAllAvailable() if query.isActive else None
        return spark.table(sink).limit(size).collect()
    finally:
        if query.isActive:
            query.stop()


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours",
                          ts_col: str = "ts") -> DataFrame:
    """Watermarked tumbling-window aggregation (late data dropped after the
    watermark). Works on batch DataFrames too (watermark is a no-op there),
    which is how the oracle harness checks the windowing arithmetic.
    """
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(F.col(ts_col), window).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("cnt"),
             # sum in DECIMAL (exact, order-independent), surface as DOUBLE
             # (engine-portable pandas dtype for the oracle hash)
             F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
             .alias("total"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "cnt", "total",
        )
    )


def rate_source_demo(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Unbounded rate source shaped like the orders fixture — the analogue of
    the reference's always-on CDC source for interactive use."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .select(
            (F.col("value") + 10001).alias("order_id"),
            F.col("timestamp").alias("order_date"),
            F.concat(F.lit("cust_"), (F.col("value") % 7).cast("string"))
            .alias("customer_name"),
            (F.col("value") % 9 + 101).cast("int").alias("product_id"),
            F.round(F.rand(seed=42) * 100, 2)  # native-round-ok: demo source
            .cast("decimal(10,5)").alias("price"),
            F.lit(False).alias("order_status"),
            F.element_at(
                F.array(F.lit("beijing"), F.lit("hangzhou"), F.lit("shanghai")),
                (F.col("value") % 3 + 1).cast("int"),
            ).alias("region"),
        )
    )
