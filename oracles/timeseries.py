"""Time-series oracles (``operators/timeseries.py``)."""

from flink_sql_security_spark.operators.timeseries import (
    PERIOD_SECONDS, check_step)

from oracles.common import floor_round


def resample_ffill_sql(table_sql: str, *, user_col: str = "user_id",
                       ts_col: str = "ts", id_col: str = "event_id",
                       value_col: str = "value",
                       step: str = "hour") -> str:
    """DuckDB SQL twin of :func:`resample_ffill` (oracle): identical
    latest-per-period pick, lead timeline, and generate_series fill —
    timestamp arithmetic is exact integer micros on both engines and
    values are carried, so the comparison is strict.
    """
    check_step(step)
    return f"""
WITH ev AS (
  SELECT {user_col} AS user_id,
         date_trunc('{step}', {ts_col}) AS period,
         {ts_col} AS _ts, {id_col} AS _id, {value_col} AS value
  FROM {table_sql} WHERE {ts_col} IS NOT NULL),
latest AS (
  SELECT user_id, period, value FROM (
    SELECT *, row_number() OVER (
      PARTITION BY user_id, period ORDER BY _ts DESC, _id DESC) AS _rn
    FROM ev) WHERE _rn = 1),
tl AS (
  SELECT user_id, period, value,
         lead(period) OVER (PARTITION BY user_id ORDER BY period)
           AS _next
  FROM latest),
expanded AS (
  SELECT user_id, period AS obs_period, value,
         unnest(generate_series(
           period,
           coalesce(_next - INTERVAL 1 {step}, period),
           INTERVAL 1 {step})) AS g
  FROM tl)
SELECT user_id, g AS period, value, g <> obs_period AS filled
FROM expanded
""".strip()


def retention_cohorts_sql(table_sql: str, *, user_col: str = "user_id",
                          ts_col: str = "ts",
                          period: str = "week") -> str:
    """DuckDB SQL twin of :func:`retention_cohorts` (oracle)."""
    if period not in PERIOD_SECONDS:
        raise ValueError(
            f"period must be one of {tuple(PERIOD_SECONDS)}: {period!r}")
    secs = PERIOD_SECONDS[period]
    rate = floor_round(
        "CAST(n_active AS DOUBLE) / CAST(n_cohort AS DOUBLE)", 6)
    return f"""
WITH cohort AS (
  SELECT {user_col} AS user_id,
         CAST(date_trunc('{period}', min({ts_col})) AS TIMESTAMP)
           AS cohort_period
  FROM {table_sql} WHERE {ts_col} IS NOT NULL GROUP BY 1),
act AS (
  SELECT DISTINCT {user_col} AS user_id,
         CAST(date_trunc('{period}', {ts_col}) AS TIMESTAMP) AS _p
  FROM {table_sql} WHERE {ts_col} IS NOT NULL),
offsets AS (
  SELECT c.cohort_period,
         CAST((floor(epoch(a._p)) - floor(epoch(c.cohort_period)))
              / {secs} AS BIGINT) AS period_offset,
         a.user_id
  FROM act a JOIN cohort c USING (user_id)),
active AS (
  SELECT cohort_period, period_offset,
         CAST(count(*) AS BIGINT) AS n_active
  FROM offsets GROUP BY 1, 2),
sizes AS (
  SELECT cohort_period, CAST(count(*) AS BIGINT) AS n_cohort
  FROM cohort GROUP BY 1)
SELECT cohort_period, period_offset, n_active, n_cohort,
       {rate} AS retention
FROM active JOIN sizes USING (cohort_period)
""".strip()


def rolling_daily_stats_sql(table_sql: str, *,
                            group_col: str = "event_type",
                            ts_col: str = "ts",
                            value_col: str = "value",
                            window_days: int = 7) -> str:
    """DuckDB SQL twin of :func:`rolling_daily_stats` (oracle):
    identical epoch-day quantization, integer range frame, DECIMAL
    sums, and floor-rounded division."""
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1: {window_days}")
    avg = floor_round(
        "CAST(sum(_tot) OVER w AS DOUBLE) "
        "/ CAST(sum(n) OVER w AS DOUBLE)", 6)
    return (
        f"WITH daily AS (SELECT {group_col} AS grp, "
        f"CAST(date_trunc('day', {ts_col}) AS TIMESTAMP) AS day, "
        f"datediff('day', DATE '1970-01-01', CAST({ts_col} AS DATE)) "
        f"AS _dn, "
        f"CAST(count(*) AS BIGINT) AS n, "
        f"sum(CAST({value_col} AS DECIMAL(18,2))) AS _tot "
        f"FROM {table_sql} GROUP BY 1, 2, 3) "
        f"SELECT grp AS {group_col}, day, n, "
        f"CAST(_tot AS DOUBLE) AS total, "
        f"CAST(sum(n) OVER w AS BIGINT) AS n_roll, "
        f"CAST(sum(_tot) OVER w AS DOUBLE) AS total_roll, "
        f"{avg} AS avg_roll "
        f"FROM daily "
        f"WINDOW w AS (PARTITION BY grp ORDER BY _dn "
        f"RANGE BETWEEN {window_days - 1} PRECEDING AND CURRENT ROW)")
