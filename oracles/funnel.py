"""Funnel oracles (``operators/funnel.py``)."""

from flink_sql_security_spark.operators.funnel import check_steps

from oracles.common import floor_round


def _chain_sql(table: str, steps: list[str], s1: str, by_entry: bool,
               user_col: str, ts_col: str, type_col: str,
               within_hours: int | None) -> str:
    """The per-step earliest-after-previous min chain from the ``s1``
    entries; with ``by_entry`` each (user, entry) runs its own chain."""
    keys = "p.user_id, p.step_1_ts" if by_entry else "p.user_id"
    on = ("m.user_id = p.user_id AND m.step_1_ts = p.step_1_ts"
          if by_entry else "m.user_id = p.user_id")
    parts = [
        f"WITH ev AS (SELECT {user_col} AS user_id, {ts_col} AS ts, "
        f"{type_col} AS et FROM {table})",
        f"s1 AS ({s1})",
    ]
    prev = "s1"
    prev_col = "step_1_ts"
    for i, step in enumerate(steps[1:], start=2):
        horizon = ""
        if within_hours is not None:
            horizon = (f" AND e.ts <= p.step_1_ts "
                       f"+ INTERVAL {int(within_hours)} HOUR")
        parts.append(
            f"s{i} AS (SELECT p.*, m.step_{i}_ts FROM {prev} p "
            f"LEFT JOIN (SELECT {keys}, min(e.ts) AS step_{i}_ts "
            f"FROM {prev} p JOIN ev e ON e.user_id = p.user_id "
            f"AND e.et = '{step}' AND e.ts > p.{prev_col}{horizon} "
            f"GROUP BY {keys}) m ON {on})")
        prev = f"s{i}"
        prev_col = f"step_{i}_ts"
    ts_cols = [f"step_{i}_ts" for i in range(1, len(steps) + 1)]
    depth = " + ".join(
        f"(CASE WHEN {c} IS NOT NULL THEN 1 ELSE 0 END)" for c in ts_cols)
    return (", ".join(parts)
            + f" SELECT user_id, {', '.join(ts_cols)}, "
            f"CAST({depth} AS INTEGER) AS depth FROM {prev}")


def funnel_duckdb_sql(table: str, steps, *, user_col: str = "user_id",
                      ts_col: str = "ts", type_col: str = "event_type",
                      within_hours: int | None = None) -> str:
    """DuckDB SQL twin of :func:`funnel` (oracle): the identical
    per-step earliest-after-previous min chain."""
    steps = check_steps(steps)
    s1 = (f"SELECT user_id, min(ts) AS step_1_ts FROM ev "
          f"WHERE et = '{steps[0]}' GROUP BY user_id")
    return _chain_sql(table, steps, s1, False, user_col, ts_col, type_col,
                      within_hours)


def funnel_attempts_duckdb_sql(table: str, steps, *,
                               user_col: str = "user_id",
                               ts_col: str = "ts",
                               type_col: str = "event_type",
                               within_hours: int | None = None,
                               max_attempts: int | None = 1000) -> str:
    """DuckDB SQL twin of :func:`funnel_attempts` (oracle): the
    identical per-(user, entry) earliest-after-previous min chain,
    including the identical earliest-``max_attempts`` entry cap."""
    steps = check_steps(steps)
    s1 = (f"SELECT DISTINCT user_id, ts AS step_1_ts FROM ev "
          f"WHERE et = '{steps[0]}'")
    if max_attempts is not None:
        if max_attempts < 1:
            raise ValueError(
                f"max_attempts must be >= 1 or None: {max_attempts}")
        s1 = (f"SELECT user_id, step_1_ts FROM (SELECT user_id, "
              f"step_1_ts, row_number() OVER (PARTITION BY user_id "
              f"ORDER BY step_1_ts) AS rn FROM ({s1})) "
              f"WHERE rn <= {max_attempts}")
    return _chain_sql(table, steps, s1, True, user_col, ts_col, type_col,
                      within_hours)


def funnel_summary_duckdb_sql(table: str, steps, *,
                              user_col: str = "user_id",
                              ts_col: str = "ts",
                              type_col: str = "event_type",
                              within_hours: int | None = None) -> str:
    """DuckDB SQL twin of :func:`funnel_summary` (oracle)."""
    steps = check_steps(steps)
    k = len(steps)
    inner = funnel_duckdb_sql(table, steps, user_col=user_col,
                              ts_col=ts_col, type_col=type_col,
                              within_hours=within_hours)
    counts = ", ".join(
        f"CAST(sum(CASE WHEN step_{i}_ts IS NOT NULL THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS n{i}" for i in range(1, k + 1))

    def rate(num, den):
        return (f"CASE WHEN {den} > 0 THEN "
                + floor_round(f"CAST({num} AS DOUBLE) "
                              f"/ CAST({den} AS DOUBLE)", 6)
                + " END")

    rows = " UNION ALL ".join(
        f"SELECT {i} AS step_index, '{name}' AS step_name, "
        f"n{i} AS n_reached, "
        + ("CAST(1.0 AS DOUBLE)" if i == 1
           else rate(f"n{i}", f"n{i - 1}")) + " AS rate_vs_prev, "
        + ("CAST(1.0 AS DOUBLE)" if i == 1
           else rate(f"n{i}", "n1")) + " AS rate_vs_entry FROM a"
        for i, name in enumerate(steps, start=1))
    return f"WITH f AS ({inner}), a AS (SELECT {counts} FROM f) {rows}"
