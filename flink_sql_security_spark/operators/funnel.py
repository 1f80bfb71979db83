"""Funnel analysis: ordered multi-step conversion over an event stream.

The product-analytics staple (view → click → purchase): for each
entity, find the earliest chain of events matching the step sequence
in order, optionally within a horizon of the first step, and report
how deep each entity got. Not present in the reference (no event
surface there); built Spark-first.

Semantics (the standard "earliest completion" funnel):

- ``t1`` = the entity's earliest step-1 event;
- ``t_i`` = the earliest step-i event STRICTLY AFTER ``t_{i-1}`` (ties
  at the same timestamp do not chain — two steps need two moments);
- with ``within``, every subsequent step must land in
  ``(t_{i-1}, t1 + within]`` — the horizon anchors at funnel ENTRY,
  the common product definition ("converted within 7 days of first
  touch");
- ``depth`` = number of completed steps; a broken chain leaves later
  step timestamps NULL.

Earliest-chain is greedy-optimal for this containment semantics
(exchange argument: taking the earliest valid event at every step
never excludes a completion a later choice would allow), so one
forward pass per step is exact — no backtracking search.

Anchoring caveat: the horizon anchors at the user's EARLIEST step-1
event only. A user whose first funnel entry times out but who would
complete within the horizon of a LATER step-1 event reports as
unconverted here, so funnel tools that evaluate every entry attempt
(per-attempt / re-anchored funnels) report conversion ≥ this op's.
That is the deliberate "first touch" definition — per-attempt
evaluation is a different (and more expensive: one chain per step-1
event) operator, not a bug fix to this one.

Scale design: one aggregation per step, each keyed on the entity —
step 1 is a groupBy(min); each later step filters the event scan to
that step's type BEFORE the join (predicate on the scan), joins the
(entity, t_{i-1}, t1) table — |entities| rows, broadcastable under
AQE — and takes min(ts) per entity. k steps = k scans of the
(filtered) event table and k entity-keyed exchanges; nothing is ever
quadratic in events, and timestamps are carried MINs (no float
arithmetic) so the DuckDB oracle is strict by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _check_steps(steps) -> list[str]:
    steps = list(steps)
    if len(steps) < 2:
        raise ValueError(f"funnel needs >= 2 steps: {steps!r}")
    if len(set(steps)) != len(steps):
        raise ValueError(f"duplicate funnel steps: {steps!r}")
    for s in steps:
        # step values embed as SQL string literals in the oracle
        # emitter — refuse anything that could escape the quoting
        # (the same single-statement discipline as plans/parser.py)
        if not isinstance(s, str) or "'" in s or "\\" in s or ";" in s:
            raise ValueError(f"funnel steps must be plain strings "
                             f"without quotes/backslashes: {s!r}")
    return steps


def funnel(events: DataFrame, steps, *, user_col: str = "user_id",
           ts_col: str = "ts", type_col: str = "event_type",
           within_hours: int | None = None) -> DataFrame:
    """(user, step_1_ts … step_k_ts, depth) per entity that entered the
    funnel (has ≥1 step-1 event)."""
    steps = _check_steps(steps)
    ev = events.select(F.col(user_col).alias("user_id"),
                       F.col(ts_col).alias("ts"),
                       F.col(type_col).alias("et"))
    cur = (ev.where(F.col("et") == steps[0])
           .groupBy("user_id").agg(F.min("ts").alias("step_1_ts")))
    prev_col = "step_1_ts"
    for i, step in enumerate(steps[1:], start=2):
        nxt = ev.where(F.col("et") == step).withColumnRenamed(
            "user_id", "_u")
        cond = (F.col("_u") == F.col("user_id")) & \
               (F.col("ts") > F.col(prev_col))
        if within_hours is not None:
            cond = cond & (
                F.col("ts") <= F.col("step_1_ts")
                + F.expr(f"interval {int(within_hours)} hours"))
        this_col = f"step_{i}_ts"
        hit = (cur.join(nxt, cond, "inner")
               .groupBy(*[c for c in cur.columns])
               .agg(F.min("ts").alias(this_col)))
        cur = cur.join(hit.select("user_id", this_col), "user_id", "left")
        prev_col = this_col
    ts_cols = [f"step_{i}_ts" for i in range(1, len(steps) + 1)]
    depth = sum(
        (F.col(c).isNotNull().cast("int") for c in ts_cols),
        F.lit(0))
    return cur.select("user_id", *ts_cols, depth.alias("depth"))


def funnel_duckdb_sql(table: str, steps, *, user_col: str = "user_id",
                      ts_col: str = "ts", type_col: str = "event_type",
                      within_hours: int | None = None) -> str:
    """DuckDB SQL twin of :func:`funnel` (oracle): the identical
    per-step earliest-after-previous min chain."""
    steps = _check_steps(steps)
    parts = [
        f"WITH ev AS (SELECT {user_col} AS user_id, {ts_col} AS ts, "
        f"{type_col} AS et FROM {table})",
        f"s1 AS (SELECT user_id, min(ts) AS step_1_ts FROM ev "
        f"WHERE et = '{steps[0]}' GROUP BY user_id)",
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
            f"LEFT JOIN (SELECT p.user_id, min(e.ts) AS step_{i}_ts "
            f"FROM {prev} p JOIN ev e ON e.user_id = p.user_id "
            f"AND e.et = '{step}' AND e.ts > p.{prev_col}{horizon} "
            f"GROUP BY p.user_id) m ON m.user_id = p.user_id)")
        prev = f"s{i}"
        prev_col = f"step_{i}_ts"
    ts_cols = [f"step_{i}_ts" for i in range(1, len(steps) + 1)]
    depth = " + ".join(
        f"(CASE WHEN {c} IS NOT NULL THEN 1 ELSE 0 END)" for c in ts_cols)
    return (", ".join(parts)
            + f" SELECT user_id, {', '.join(ts_cols)}, "
            f"CAST({depth} AS INTEGER) AS depth FROM {prev}")


def funnel_attempts(events: DataFrame, steps, *,
                    user_col: str = "user_id", ts_col: str = "ts",
                    type_col: str = "event_type",
                    within_hours: int | None = None,
                    max_attempts: int | None = 1000) -> DataFrame:
    """Per-attempt (re-anchored) funnel: one row per step-1 EVENT —
    (user_id, step_1_ts … step_k_ts, depth).

    The companion :func:`funnel` evaluates only each user's EARLIEST
    entry, so a user whose first attempt times out but who converts
    within a later attempt's horizon reports unconverted; this
    operator anchors a fresh greedy chain at EVERY step-1 event (the
    re-anchored semantics of per-attempt funnel tools), so per-attempt
    conversion ≥ first-touch conversion by construction. The same
    greedy earliest-after-previous chain applies within each attempt
    (exchange-argument optimal, module docstring).

    Scale: identical shape to :func:`funnel` with the chain table
    keyed on (user, step_1_ts) instead of user — one filtered event
    scan + one (user-keyed) join + min-agg per step. Per user the
    step-i join emits |attempts| · |step-i events| candidate rows
    before the per-attempt MIN, so a bot user with many entries AND
    many completions pays that product inside one join key (AQE
    spreads the shuffle but cannot shrink the row count). The
    built-in hot-user guard: ``max_attempts`` (default 1000) keeps
    only each user's EARLIEST ``max_attempts`` step-1 events
    (deterministic: step-1 timestamps are unique per user after the
    distinct, so ORDER BY step_1_ts is a total order), bounding the
    per-user candidate stage at ``max_attempts`` · |step-i events|
    rows — the same built-in-cap discipline as ``basket_rules``'
    ``max_basket_items`` (assoc.py), mirrored bit-for-bit in the
    oracle CTE and measured by ``tools/hotuser_probe.py`` (retired; see
    git history). Pass ``None`` to evaluate every attempt (only safe when the per-user
    entry distribution is known bounded). Earliest-N is the right
    truncation for re-anchored semantics: dropped attempts are the
    LATEST entries, and any completion reachable from a late entry is
    also reachable from depth-1 of the funnel itself (first-touch
    conversion is unaffected — s1's earliest row always survives).
    """
    steps = _check_steps(steps)
    ev = events.select(F.col(user_col).alias("user_id"),
                       F.col(ts_col).alias("ts"),
                       F.col(type_col).alias("et"))
    cur = (ev.where(F.col("et") == steps[0])
           .select("user_id", F.col("ts").alias("step_1_ts"))
           .distinct())
    if max_attempts is not None:
        if max_attempts < 1:
            raise ValueError(
                f"max_attempts must be >= 1 or None: {max_attempts}")
        from pyspark.sql import Window
        w = Window.partitionBy("user_id").orderBy("step_1_ts")
        cur = (cur.withColumn("_rn", F.row_number().over(w))
               .where(F.col("_rn") <= max_attempts).drop("_rn"))
    prev_col = "step_1_ts"
    for i, step in enumerate(steps[1:], start=2):
        nxt = ev.where(F.col("et") == step).withColumnRenamed(
            "user_id", "_u")
        cond = (F.col("_u") == F.col("user_id")) & \
               (F.col("ts") > F.col(prev_col))
        if within_hours is not None:
            cond = cond & (
                F.col("ts") <= F.col("step_1_ts")
                + F.expr(f"interval {int(within_hours)} hours"))
        this_col = f"step_{i}_ts"
        hit = (cur.join(nxt, cond, "inner")
               .groupBy(*[c for c in cur.columns])
               .agg(F.min("ts").alias(this_col)))
        cur = cur.join(hit.select("user_id", "step_1_ts", this_col),
                       ["user_id", "step_1_ts"], "left")
        prev_col = this_col
    ts_cols = [f"step_{i}_ts" for i in range(1, len(steps) + 1)]
    depth = sum(
        (F.col(c).isNotNull().cast("int") for c in ts_cols),
        F.lit(0))
    return cur.select("user_id", *ts_cols, depth.alias("depth"))


def funnel_attempts_duckdb_sql(table: str, steps, *,
                               user_col: str = "user_id",
                               ts_col: str = "ts",
                               type_col: str = "event_type",
                               within_hours: int | None = None,
                               max_attempts: int | None = 1000) -> str:
    """DuckDB SQL twin of :func:`funnel_attempts` (oracle): the
    identical per-(user, entry) earliest-after-previous min chain,
    including the identical earliest-``max_attempts`` entry cap."""
    steps = _check_steps(steps)
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
            f"LEFT JOIN (SELECT p.user_id, p.step_1_ts, "
            f"min(e.ts) AS step_{i}_ts "
            f"FROM {prev} p JOIN ev e ON e.user_id = p.user_id "
            f"AND e.et = '{step}' AND e.ts > p.{prev_col}{horizon} "
            f"GROUP BY p.user_id, p.step_1_ts) m "
            f"ON m.user_id = p.user_id AND m.step_1_ts = p.step_1_ts)")
        prev = f"s{i}"
        prev_col = f"step_{i}_ts"
    ts_cols = [f"step_{i}_ts" for i in range(1, len(steps) + 1)]
    depth = " + ".join(
        f"(CASE WHEN {c} IS NOT NULL THEN 1 ELSE 0 END)" for c in ts_cols)
    return (", ".join(parts)
            + f" SELECT user_id, {', '.join(ts_cols)}, "
            f"CAST({depth} AS INTEGER) AS depth FROM {prev}")


def funnel_summary(events: DataFrame, steps, *,
                   user_col: str = "user_id", ts_col: str = "ts",
                   type_col: str = "event_type",
                   within_hours: int | None = None) -> DataFrame:
    """Step-conversion report over :func:`funnel`: one row per step —
    (step_index, step_name, n_reached, rate_vs_prev, rate_vs_entry).

    The readout product analytics actually ships: how many entities
    reached each step, the step-over-step conversion, and the
    cumulative conversion from entry. ``n_reached(i)`` = entities with
    ``step_i_ts`` non-NULL (the chain guarantees depth ≥ i ⇔ step i
    completed); rates are floor-rounded IEEE divides of the exact
    BIGINT counts, with a NULL rate where the denominator is zero
    (explicit CASE on BOTH engines — Spark's non-ANSI double divide
    yields NULL at zero while DuckDB yields inf, so the guard is
    load-bearing for the oracle).

    Scale: the funnel output (|entities| rows) reduces in ONE
    aggregation to a single row of k counts; the k output rows are k
    projections of that row (no second pass over events).
    """
    from ..functions.text import floor_round_col

    steps = _check_steps(steps)
    k = len(steps)
    fun = funnel(events, steps, user_col=user_col, ts_col=ts_col,
                 type_col=type_col, within_hours=within_hours)
    # ONE row, referenced once per step by the union below — without
    # the persist every branch replays the whole funnel pipeline
    # (k× the event scans; the profile_correlations lesson)
    agg = fun.agg(*[
        F.sum(F.col(f"step_{i}_ts").isNotNull().cast("bigint"))
        .alias(f"n{i}") for i in range(1, k + 1)]).persist()

    def rate(num, den):
        return F.when(F.col(den) > 0, floor_round_col(
            F.col(num).cast("double") / F.col(den).cast("double")))

    out = None
    for i, name in enumerate(steps, start=1):
        row = agg.select(
            F.lit(i).alias("step_index"),
            F.lit(name).alias("step_name"),
            F.col(f"n{i}").alias("n_reached"),
            (F.lit(1.0) if i == 1 else
             rate(f"n{i}", f"n{i - 1}")).alias("rate_vs_prev"),
            (F.lit(1.0) if i == 1 else
             rate(f"n{i}", "n1")).alias("rate_vs_entry"))
        out = row if out is None else out.unionAll(row)
    from .cache import attach
    return attach(out, agg)


def funnel_summary_duckdb_sql(table: str, steps, *,
                              user_col: str = "user_id",
                              ts_col: str = "ts",
                              type_col: str = "event_type",
                              within_hours: int | None = None) -> str:
    """DuckDB SQL twin of :func:`funnel_summary` (oracle)."""
    from ..functions.text import floor_round

    steps = _check_steps(steps)
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
                              f"/ CAST({den} AS DOUBLE)", 6, "duckdb")
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
