"""Streaming half of the gap-fill pipeline: continuously maintain the
latest observation per (entity, period).

``operators/timeseries.py::resample_ffill`` is two stages: (1) latest
observation per (entity, period) — a per-key argmax, and (2) the
lead+explode forward-fill. Stage 1 is exactly the update-mode stateful
aggregation ``streaming/cdc.py::latest_state_stream`` maintains (state:
ONE struct per key, bounded by the live key count), so the streaming
twin delegates to it keyed on (entity, period) with the (ts, id) pair
as the recency sequence.

Stage 2 deliberately stays batch: forward-fill needs ``lead(period)``
over each entity's FINAL timeline — any in-stream emission of fill
rows would have to retract them when a late event lands in the gap it
filled. The production shape is therefore: stream maintains the
per-period state table (this module), and the serving/batch layer runs
``resample_ffill``'s fill tail over a snapshot — the same split as the
HLL register / estimator pair in ``streaming/sketch.py``. The parity
test pins: streamed state == the batch stage-1 table, and the batch
fill over either input is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .cdc import latest_state_stream


def latest_per_period_stream(stream: DataFrame, *,
                             user_col: str = "user_id",
                             ts_col: str = "ts",
                             id_col: str = "event_id",
                             value_col: str = "value",
                             step: str = "hour") -> DataFrame:
    """Update-mode stream of (user_id, period, value): the latest
    observation in each (entity, period) bucket, ties on ``ts`` broken
    by the highest ``id_col`` — bit-identical to the batch stage-1 pick
    in ``resample_ffill`` (same bucket, same recency order)."""
    from ..operators.timeseries import check_step

    check_step(step)
    # same NULL-timestamp drop as the batch stage-1 (a NULL can't be
    # bucketed; without this the stream would carry a NULL-period key
    # the batch twin never produces)
    stream = stream.where(F.col(ts_col).isNotNull())
    ev = stream.select(
        F.col(user_col).alias("user_id"),
        F.date_trunc(step, F.col(ts_col)).alias("period"),
        F.struct(F.col(ts_col).alias("_ts"),
                 F.col(id_col).alias("_id")).alias("_seq"),
        F.col(value_col).alias("value"))
    # recency = (ts, id) lexicographic — one struct column so the
    # shared latest-state aggregation's max_by order matches the batch
    # row_number(ORDER BY ts DESC, id DESC) pick exactly
    out = latest_state_stream(ev, ["user_id", "period"], "_seq", ["value"])
    return out.select("user_id", "period", "value")
