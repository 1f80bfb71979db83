"""Time-series regularization: resample an event stream onto a fixed
grid with forward-fill (gap-fill).

The metrics/feature-engineering primitive a training pipeline needs
before any per-entity sequence model or windowed join: raw event
streams are irregular, and most downstream ops (lag features, sliding
aggregates, sequence packing) want one row per (entity, period) with
the last-known value carried forward. Not present in the reference
(no time-series surface there); built Spark-first.

Scale design — NO grid join. The textbook formulation materializes a
per-entity calendar table and left-joins observations onto it (one
extra shuffle on (entity, period) plus a |entities|×|periods| build).
Instead each observed period generates its own fill range directly:

  1. one shuffle: latest observation per (entity, period) — a
     row_number window keyed by the same partitioning the next step
     needs;
  2. ``lead(period)`` over the entity timeline (no new shuffle — same
     partition key), then ``explode(sequence(period, next-1, step))``
     emits the observed row plus its forward-filled gap rows.

Total: two hash exchanges on the entity key and zero joins; output
size is exactly the filled grid, and the explode is lazy per row (no
driver-side calendar). Values are CARRIED, never recomputed, so there
is no float arithmetic to quantize and the DuckDB oracle is strict by
construction. The grid spans each entity's own [min, max] observed
period — no fabricated history before the first event or after the
last.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

_STEPS = ("hour", "day")


def check_step(step: str) -> None:
    if step not in _STEPS:
        raise ValueError(f"step must be one of {_STEPS}: {step!r}")


def resample_ffill(events, *, user_col: str = "user_id",
                   ts_col: str = "ts", id_col: str = "event_id",
                   value_col: str = "value", step: str = "hour"):
    """(user, period, value, filled) — one row per ``step`` period in
    each entity's observed [min, max] span; ``value`` is the latest
    observation in that period (ties on ``ts`` broken by the highest
    ``id_col``, so the pick is deterministic), forward-filled across
    empty periods; ``filled`` marks carried rows.
    """
    check_step(step)
    # NULL timestamps can't be bucketed; drop them on BOTH engines —
    # explode(sequence(NULL,…)) vs unnest(generate_series(NULL,…)) is
    # exactly the kind of corner the engines need not agree on
    ev = events.where(F.col(ts_col).isNotNull()).select(
        F.col(user_col).alias("user_id"),
        F.date_trunc(step, F.col(ts_col)).alias("period"),
        F.col(ts_col).alias("_ts"),
        F.col(id_col).alias("_id"),
        F.col(value_col).alias("value"))
    pick = Window.partitionBy("user_id", "period").orderBy(
        F.desc("_ts"), F.desc("_id"))
    latest = (ev.withColumn("_rn", F.row_number().over(pick))
              .where(F.col("_rn") == 1)
              .select("user_id", "period", "value"))
    timeline = Window.partitionBy("user_id").orderBy("period")
    step_iv = F.expr(f"interval 1 {step}")
    fill = (
        latest.withColumn("_next", F.lead("period").over(timeline))
        .withColumn(
            "grid",
            F.explode(F.sequence(
                F.col("period"),
                F.coalesce(F.col("_next") - step_iv, F.col("period")),
                step_iv)))
        .select(
            "user_id",
            F.col("grid").alias("period"),
            "value",
            (F.col("grid") != F.col("period")).alias("filled")))
    return fill


PERIOD_SECONDS = {"day": 86_400, "week": 604_800}


def retention_cohorts(events, *, user_col: str = "user_id",
                      ts_col: str = "ts",
                      period: str = "week"):
    """(cohort_period, period_offset, n_active, n_cohort, retention) —
    classic cohort retention: entities grouped by their FIRST-activity
    period, then for each later period the fraction still active.

    The companion readout to :func:`resample_ffill` and the funnel op
    for event streams (is the corpus/user base churning?). Offsets are
    computed as exact integer arithmetic on truncated-period epochs
    (both engines' ``date_trunc`` anchors weeks on Monday and the
    difference of two truncated epochs is an exact multiple of the
    period), so everything except the final rate is integer-exact; the
    rate is one floor-rounded IEEE divide.

    Timezone contract: ``unix_timestamp`` reads the session timezone,
    so run with ``spark.sql.session.timeZone`` fixed (UTC here, the
    repo-wide default) — in a DST-shifting zone two periods straddling
    a transition would differ by a non-multiple of the period and
    floor into the wrong offset bucket. Naive-UTC epochs make the
    subtraction exact and match DuckDB's ``epoch()`` by construction.

    Scale: first-activity per entity is one entity-keyed aggregation;
    per-period activity is one distinct over (entity, period); the
    cohort map (|entities| rows) broadcasts into the activity join
    under AQE; the final (cohort, offset) aggregation and the
    |cohorts|-row size table are small. No step is quadratic and the
    only per-event work is the truncation projection.
    """
    if period not in PERIOD_SECONDS:
        raise ValueError(
            f"period must be one of {tuple(PERIOD_SECONDS)}: {period!r}")
    secs = PERIOD_SECONDS[period]
    events = events.where(F.col(ts_col).isNotNull())
    cohort = (events.groupBy(F.col(user_col).alias("user_id"))
              .agg(F.min(ts_col).alias("_first"))
              .select("user_id",
                      F.date_trunc(period, F.col("_first"))
                      .alias("cohort_period")))
    act = (events.select(F.col(user_col).alias("user_id"),
                         F.date_trunc(period, F.col(ts_col))
                         .alias("_p"))
           .distinct())
    offsets = (act.join(cohort, "user_id")
               .select("cohort_period",
                       ((F.unix_timestamp("_p")
                         - F.unix_timestamp("cohort_period"))
                        / F.lit(secs)).cast("long")
                       .alias("period_offset"),
                       "user_id"))
    active = (offsets.groupBy("cohort_period", "period_offset")
              .agg(F.count("*").alias("n_active")))
    sizes = (cohort.groupBy("cohort_period")
             .agg(F.count("*").alias("n_cohort")))
    from ..functions.text import floor_round_col
    return (active.join(sizes, "cohort_period")
            .select("cohort_period", "period_offset", "n_active",
                    "n_cohort",
                    floor_round_col(
                        F.col("n_active").cast("double")
                        / F.col("n_cohort").cast("double"))
                    .alias("retention")))


def rolling_daily_stats(events, *, group_col: str = "event_type",
                        ts_col: str = "ts", value_col: str = "value",
                        window_days: int = 7):
    """Per-group daily totals with CALENDAR-window trailing aggregates:
    (group, day, n, total, n_roll, total_roll, avg_roll) where the
    ``_roll`` columns cover the trailing ``window_days`` CALENDAR days
    ending at ``day`` — the moving-average/trend primitive
    (7-day actives, weekly revenue trend) between the lag/running
    window entry and full resampling.

    Calendar semantics without a gap-fill join: days quantize to an
    INTEGER epoch-day and the frame is ``RANGE BETWEEN window_days-1
    PRECEDING`` over that integer — a missing calendar day simply
    contributes nothing, unlike a ``ROWS`` frame which would silently
    stretch across gaps (the classic moving-average bug). Integer
    range frames are dialect-common; interval frames on timestamps
    are not.

    Determinism: the daily value total is an exact DECIMAL(18,2) sum
    (the skew_salted_agg cast-parity precedent) and the rolling total
    a DECIMAL sum over those — both order-independent; counts are
    BIGINT; one floor-rounded double division for the average.
    Surfaces DOUBLE totals (stable pandas dtype across engines).
    Shape: one wide exchange over the events (the daily groupBy on
    (group, day)); the window's re-exchange on the group key alone
    carries only the |groups × days| daily rows — negligible next to
    the scan at any scale.
    """
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1: {window_days}")
    from ..functions.text import floor_round_col

    # day stays TIMESTAMP on both sides (the events_daily precedent:
    # Spark DATE → datetime.date vs DuckDB DATE → datetime64 stringify
    # differently in pandas); the frame still orders by integer days
    daily = (events.groupBy(
        F.col(group_col).alias("grp"),
        F.date_trunc("day", F.col(ts_col)).alias("day"),
        F.datediff(F.to_date(ts_col),
                   F.lit("1970-01-01").cast("date")).alias("_dn"))
        .agg(F.count("*").alias("n"),
             F.sum(F.col(value_col).cast("decimal(18,2)"))
             .alias("_tot")))
    w = (Window.partitionBy("grp").orderBy("_dn")
         .rangeBetween(-(window_days - 1), 0))
    return (daily.select(
        F.col("grp").alias(group_col), "day", "n",
        F.col("_tot").cast("double").alias("total"),
        F.sum("n").over(w).alias("n_roll"),
        F.sum("_tot").over(w).cast("double").alias("total_roll"),
        floor_round_col(
            F.sum("_tot").over(w).cast("double")
            / F.sum("n").over(w).cast("double")).alias("avg_roll")))
