"""Catalyst's plan statistics, read without running a job."""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for the optimized plan, in bytes.

    Free — reads the optimizer's statistics, triggers no job. Returns
    None when the estimate is unavailable (e.g. Spark Connect, where
    ``_jdf`` does not exist); callers must treat None as "large" and
    take the scale-safe path.
    """
    try:
        return int(str(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        return None
