"""Table profiling: per-column statistics for pipeline data QA.

The standard pre-training data-quality primitive: one pass over the table
computing count / nulls / distinct / min / max / sum / mean per numeric
column. Emitted in long format (one row per column) via a single wide
aggregate + ``stack`` — the whole profile is ONE job with map-side partial
aggregation, no per-column scans.

Scale notes:
- n_distinct is exact (count(distinct)) — Spark plans multiple distinct
  aggregates with one expand + two-stage agg; for >10⁹-cardinality columns
  swap in approx_count_distinct (HLL) via ``exact_distinct=False``
- money columns are cast DECIMAL(18,2) before summing: exact, order-
  independent, engine-portable (memory: synthetic data is 2-decimal)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from flink_sql_security_spark.functions.text import (
    floor_round as _floor_round,
    floor_round_col as _floor_round_col)


def profile_numeric(df: DataFrame, cols: list[str],
                    exact_distinct: bool = True) -> DataFrame:
    """(column, n, n_null, n_distinct, min, max, sum, mean) per column.

    Exact path: unpivot → groupBy(column, value) → groupBy(column). The
    first shuffle moves only DISTINCT (column, value) pairs (map-side
    partial aggregation collapses repeats), the second is #cols rows —
    measured ~4× faster than Spark's multi-DISTINCT Expand plan (which
    projects every row once per distinct column) and still exact. The
    approx path is the single wide aggregate with HLL sketches — for
    >10⁹-cardinality columns where even the distinct-pair shuffle is
    too wide.
    """
    if not exact_distinct:
        aggs = []
        for c in cols:
            d = F.col(c).cast("decimal(18,2)")
            aggs += [
                F.count(F.col(c)).alias(f"n_{c}"),
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"nn_{c}"),
                F.approx_count_distinct(F.col(c)).alias(f"nd_{c}"),
                F.min(d).cast("double").alias(f"mn_{c}"),
                F.max(d).cast("double").alias(f"mx_{c}"),
                F.sum(d).cast("double").alias(f"sm_{c}"),
            ]
        wide = df.agg(*aggs)
        stacked = ", ".join(
            f"'{c}', n_{c}, nn_{c}, nd_{c}, mn_{c}, mx_{c}, sm_{c}" for c in cols)
        return (
            wide.select(F.expr(
                f"stack({len(cols)}, {stacked})")
                .alias("column", "n", "n_null", "n_distinct", "min", "max", "sum"))
            .withColumn("mean",
                        _floor_round_col(F.col("sum") / F.col("n"), 6))
            # native-round-ok: "sum" is a double holding an EXACT
            # DECIMAL(18,2) sum — round-2 is idempotent re-quantization
            .withColumn("sum", F.round("sum", 2))  # native-round-ok
        )

    # NOTE: deliberately NOT spread_partitions here — A/B measured the
    # extra exchange a net loss (1.13 vs 1.43 s at sf0.1): the per-value
    # partial aggregation is cheap enough that the serial map side wins.
    stacked = ", ".join(f"'{c}', CAST({c} AS DOUBLE)" for c in cols)
    long_df = df.select(
        F.expr(f"stack({len(cols)}, {stacked})").alias("column", "v"))
    per_val = long_df.groupBy("column", "v").agg(F.count("*").alias("cnt"))
    d = F.col("v").cast("decimal(18,2)")
    agg = per_val.groupBy("column").agg(
        F.sum(F.when(F.col("v").isNotNull(), F.col("cnt"))
              .otherwise(F.lit(0))).alias("n"),
        F.sum(F.when(F.col("v").isNull(), F.col("cnt"))
              .otherwise(F.lit(0))).alias("n_null"),
        F.count(F.col("v")).alias("n_distinct"),  # rows here ARE distinct values
        F.min(d).cast("double").alias("min"),
        F.max(d).cast("double").alias("max"),
        F.sum(d * F.col("cnt")).cast("double").alias("sum"),
    )
    return (
        agg.withColumn("mean",
                       _floor_round_col(F.col("sum") / F.col("n"), 6))
        # native-round-ok: exact DECIMAL(18,2) sum, idempotent round-2
        .withColumn("sum", F.round("sum", 2))  # native-round-ok
    )


def profile_numeric_duckdb_sql(table: str, cols: list[str]) -> str:
    """DuckDB SQL producing the identical profile (oracle emitter)."""
    parts = []
    for c in cols:
        d = f"CAST({c} AS DECIMAL(18,2))"
        parts.append(
            f"SELECT '{c}' AS \"column\", count({c}) AS n, "
            # CAST: DuckDB sums of INTEGER return HUGEINT (→ float64 in
            # pandas); Spark's is BIGINT — align the pandas dtypes exactly
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, "
            f"count(DISTINCT {c}) AS n_distinct, "
            f"CAST(min({d}) AS DOUBLE) AS \"min\", "
            f"CAST(max({d}) AS DOUBLE) AS \"max\", "
            # native-round-ok (sum): exact DECIMAL(18,2) sum
            f"round(CAST(sum({d}) AS DOUBLE), 2) "  # native-round-ok
            f"AS \"sum\", "
            + _floor_round(f"CAST(sum({d}) AS DOUBLE) / count({c})",
                           6, "duckdb") + " AS mean "
            f"FROM {table}")
    return " UNION ALL ".join(parts)


QUANTILE_PS = (0.25, 0.5, 0.75, 0.95)

# profile_quantiles(exact='auto'): an input the optimizer proves under
# AUTO_SMALL_BYTES takes the exact path with no probe job; otherwise an
# HLL probe switches to approx past AUTO_DISTINCT_LIMIT distinct values
# in the worst column, a value histogram that still fits an executor.
AUTO_SMALL_BYTES = 1 << 30
AUTO_DISTINCT_LIMIT = 50_000_000


def profile_quantiles(df: DataFrame, cols: list[str],
                      ps: tuple = QUANTILE_PS,
                      exact: bool | str = "auto",
                      accuracy: int = 10000) -> DataFrame:
    """(column, p25, p50, p75, p95) per numeric column.

    **Exact path** (``exact=True``): Spark's sort-based exact
    ``percentile`` over the (distinct value, frequency) histogram —
    the unpivot→groupBy(column, v) shuffle moves only distinct pairs
    (map-side combined) and the aggregate's in-memory state is the value
    histogram, not the row multiset (measured 3.1s → ~1s at sf0.1).
    Values are DECIMAL(18,2)-normalized then widened to DOUBLE (exact),
    and the linear interpolation rounds to 6 — Spark's (1-f)·a + f·b and
    DuckDB's a + (b-a)·f round identically at output precision for
    2-decimal money values.

    **Approx path** (``exact=False``): one wide
    ``approx_percentile`` (Greenwald-Khanna, state bounded by
    ``accuracy``) over raw rows — no per-value histogram anywhere, the
    100 TB-safe shape for high-cardinality columns, error ≤ 1/accuracy
    of the rank.

    **``exact='auto'`` (default)** picks per call, cheapest probe first:
    the optimizer's free size estimate proves a small input → exact (no
    probe job); otherwise ONE approx_count_distinct pass (HLL — tiny
    state, one scan) estimates the worst column's cardinality and
    switches to approx when it exceeds ``AUTO_DISTINCT_LIMIT``. The
    failure mode this removes: exact percentile's per-column
    distinct-value histogram OOMing an executor at 100 TB.
    """
    if exact == "auto":
        from flink_sql_security_spark.plan_stats import plan_size_bytes

        size = plan_size_bytes(df.select(*cols))
        if size is not None and size <= AUTO_SMALL_BYTES:
            exact = True
        else:
            probe = df.agg(*[
                F.approx_count_distinct(c).alias(c) for c in cols]).first()
            exact = max(probe[c] for c in cols) <= AUTO_DISTINCT_LIMIT
    from .skew import spread_partitions

    plist = ", ".join(str(p) for p in ps)
    names = [f"p{int(p * 100)}" for p in ps]
    stacked = ", ".join(
        f"'{c}', CAST(CAST({c} AS DECIMAL(18,2)) AS DOUBLE)" for c in cols)
    # spread a 1-task (single-row-group) scan so the k-wide unpivot and
    # the first aggregation's map side parallelize; no-op at scale
    long_df = (
        spread_partitions(df.select(*cols))
        .select(F.expr(f"stack({len(cols)}, {stacked})")
                  .alias("column", "v"))
        .where(F.col("v").isNotNull())
    )
    if exact:
        # PARALLEL exact percentile by distributed SELECTION. The
        # former shape — one `percentile(v, ps, cnt)` aggregate per
        # column — sorts each column's whole value histogram inside a
        # single task, so the widest column is a straggler no
        # partitioning can split (measured at sf0.1: the final stage
        # ran 1.7 s ≈ one l_extendedprice task while the other three
        # columns finished in 30 ms). A percentile only needs the two
        # values bracketing each target rank, and ranks are globally
        # addressable once the histogram is range-partitioned:
        #   1. range-partition (column, v) and freeze the layout with
        #      a persist (range bounds come from sampling; two jobs
        #      must see the SAME partitioning for offsets to be
        #      meaningful);
        #   2. one tiny aggregate (≤ partitions × k rows, collected)
        #      yields each partition's per-column row-count → driver
        #      computes every partition's global start offset, each
        #      column's total weight W, and — exactly as Spark's
        #      Percentile.getPercentile does — position = p·(W−1),
        #      lower/higher = floor/ceil, and the two interpolation
        #      weights (higher−position), (position−lower) in IEEE
        #      doubles;
        #   3. a per-partition running sum assigns each value its
        #      global index range [start, end). The histogram is
        #      already range-partitioned AND locally sorted (the sort
        #      lives inside the cache fill), so the running sum is ONE
        #      order-preserving streaming pass per partition — an
        #      Arrow kernel carrying a per-column cumulative across
        #      batches, O(batch) memory — instead of a window whose
        #      (_pid, column) clustering requirement re-shuffles the
        #      whole histogram (Catalyst cannot see that the range
        #      layout already satisfies it; measured at sf0.1 the
        #      window's exchange+sort stage was the main job's
        #      dominant cost at 8 cores). The kernel emits ONLY the
        #      ≤ 2·|ps| bracketing rows per column; the broadcast
        #      join against the ≤ k·|ps| selector rows then picks the
        #      values a, b exactly as before;
        #   4. result = (higher−position)·a + (position−lower)·b —
        #      operand-for-operand the Spark built-in's expression, so
        #      values are bit-identical to the former path (and to the
        #      oracle under the shared 6-digit floor-round).
        # The global index is defined by the total order (column, v)
        # alone — unique since per_val is distinct on it — so the
        # result is partitioning-invariant (determinism-suite rule).
        import math

        from pyspark.sql.types import (DoubleType, IntegerType, LongType,
                                       StringType, StructField, StructType)

        from .cache import attach

        per_val = long_df.groupBy("column", "v").agg(
            F.count("*").alias("cnt"))
        spark = df.sparkSession
        k_par = max(spark.sparkContext.defaultParallelism, 1)
        # sortWithinPartitions is a LOCAL sort (no exchange) folded
        # into the cache fill: both consumers below need (column, v)
        # order, and sorting once here is what lets the running-sum
        # pass stream the cache without its own exchange+sort.
        ranged = (per_val.repartitionByRange(k_par, "column", "v")
                  .sortWithinPartitions("column", "v")
                  .withColumn("_pid", F.spark_partition_id())
                  .persist())
        offs = sorted(
            ((r["_pid"], r["column"], r["pc"]) for r in
             ranged.groupBy("_pid", "column")
             .agg(F.sum("cnt").alias("pc")).collect()),
            key=lambda t: (t[1], t[0]))
        starts_rows: list = []
        totals: dict = {}
        for pid, col_name, pc in offs:
            starts_rows.append((pid, col_name, totals.get(col_name, 0)))
            totals[col_name] = totals.get(col_name, 0) + pc
        sel_rows: list = []
        for col_name, w_total in totals.items():
            for i, p in enumerate(ps):
                pos = p * float(w_total - 1)
                lp, hp = math.floor(pos), math.ceil(pos)
                sel_rows.append((col_name, i, lp, hp,
                                 float(hp) - pos, pos - float(lp)))
        sel = spark.createDataFrame(
            sel_rows,
            StructType([StructField("column", StringType()),
                        StructField("_p_idx", IntegerType()),
                        StructField("_lp", LongType()),
                        StructField("_hp", LongType()),
                        StructField("_w_lo", DoubleType()),
                        StructField("_w_hi", DoubleType())]))
        # streaming bracket pick: one ordered pass over the cached
        # layout per partition. Offsets and target indices are the
        # driver-known tiny artifacts computed above, so they ride the
        # task closure (no broadcast-join against a starts frame). The
        # emitted rows are the global bracketing rows — determined by
        # the total (column, v) order and the targets alone, so the
        # output is partitioning-invariant like the window it replaces.
        starts_map = {(pid, col_name): start
                      for pid, col_name, start in starts_rows}
        targets: dict = {}
        for col_name, _i, lp, hp, _wl, _wh in sel_rows:
            targets.setdefault(col_name, set()).update((lp, hp))
        targets = {c: sorted(t) for c, t in targets.items()}

        def _pick_brackets(batches):
            import numpy as np
            import pandas as pd

            carry: dict = {}
            task_pid = None
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                pid = int(pdf["_pid"].iloc[0])
                # Layout-drift guard (ADVICE r11): the offsets in
                # starts_map assume each task streams EXACTLY the one
                # cached range partition whose _pid its rows carry —
                # true for a persisted frame read 1:1. If anything
                # ever re-splits or coalesces between the cache and
                # this kernel (a second _pid in the task, or mixed
                # _pids in a batch), the carried offsets would
                # silently skew every later bracket — fail loudly
                # instead.
                if (pdf["_pid"].to_numpy() != pid).any():
                    raise RuntimeError(
                        "exact-percentile bracket pick: mixed cache "
                        "partition ids inside one Arrow batch "
                        f"({sorted(set(pdf['_pid'].tolist()))}) — the "
                        "persisted range layout was re-partitioned "
                        "between cache and kernel; offsets no longer "
                        "apply")
                if task_pid is None:
                    task_pid = pid
                elif pid != task_pid:
                    raise RuntimeError(
                        "exact-percentile bracket pick: task streamed "
                        f"cache partitions {task_pid} and {pid} — a "
                        "coalesce was inserted between the persisted "
                        "range layout and the kernel; per-partition "
                        "offsets no longer apply")
                cols_a = pdf["column"].to_numpy()
                cnts_a = pdf["cnt"].to_numpy()
                vs_a = pdf["v"].to_numpy()
                # batch rows arrive (column, v)-sorted: column runs
                # are contiguous slices
                run = np.flatnonzero(cols_a[1:] != cols_a[:-1]) + 1
                bounds = [0, *run.tolist(), len(cols_a)]
                h_col: list = []
                h_v: list = []
                h_b: list = []
                h_e: list = []
                for s, e in zip(bounds[:-1], bounds[1:]):
                    c = cols_a[s]
                    base = carry.get(c)
                    if base is None:
                        base = starts_map[(pid, c)]
                    ends = base + np.cumsum(cnts_a[s:e])
                    carry[c] = int(ends[-1])
                    for t in targets.get(c, ()):
                        j = int(np.searchsorted(ends, t, side="right"))
                        if j < e - s and ends[j] - cnts_a[s + j] <= t:
                            h_col.append(c)
                            h_v.append(vs_a[s + j])
                            h_b.append(int(ends[j] - cnts_a[s + j]))
                            h_e.append(int(ends[j]))
                if h_col:
                    yield pd.DataFrame({
                        "column": h_col,
                        "v": np.asarray(h_v, dtype="float64"),
                        "_begini": np.asarray(h_b, dtype="int64"),
                        "_endi": np.asarray(h_e, dtype="int64")})

        cum = ranged.mapInPandas(
            _pick_brackets,
            "column string, v double, _begini long, _endi long")
        lo_hit = ((F.col("_lp") >= F.col("_begini"))
                  & (F.col("_lp") < F.col("_endi")))
        hi_hit = ((F.col("_hp") >= F.col("_begini"))
                  & (F.col("_hp") < F.col("_endi")))
        # ONE groupBy(column) with per-p conditional aggregates (the
        # hit rows are ≤ 2·|ps| per column, exactly one per (p, side))
        # — a (column, p) pre-aggregate would just add an exchange
        aggs = []
        for i in range(len(ps)):
            pi = F.col("_p_idx") == i
            aggs += [
                F.max(F.when(lo_hit & pi, F.col("v"))).alias(f"_a{i}"),
                F.max(F.when(hi_hit & pi, F.col("v"))).alias(f"_b{i}"),
                F.max(F.when(pi, F.col("_lp"))).alias(f"_l{i}"),
                F.max(F.when(pi, F.col("_hp"))).alias(f"_h{i}"),
                F.max(F.when(pi, F.col("_w_lo"))).alias(f"_wl{i}"),
                F.max(F.when(pi, F.col("_w_hi"))).alias(f"_wh{i}")]
        agg = (cum.join(F.broadcast(sel), "column")
               .where(lo_hit | hi_hit)
               .groupBy("column").agg(*aggs))
        out = agg.select(
            "column",
            *[_floor_round_col(
                F.when(F.col(f"_l{i}") == F.col(f"_h{i}"),
                       F.col(f"_a{i}"))
                .otherwise(F.col(f"_wl{i}") * F.col(f"_a{i}")
                           + F.col(f"_wh{i}") * F.col(f"_b{i}")),
                6).alias(n)
              for i, n in enumerate(names)])
        return attach(out, ranged)
    agg = long_df.groupBy("column").agg(
        F.expr(f"approx_percentile(v, array({plist}), {accuracy})")
        .alias("_qs"))
    return agg.select(
        "column",
        *[_floor_round_col(F.col("_qs").getItem(i), 6).alias(n)
          for i, n in enumerate(names)])


def profile_quantiles_duckdb_sql(table: str, cols: list[str],
                                 ps: tuple = QUANTILE_PS) -> str:
    """DuckDB SQL producing the identical quantile profile (oracle)."""
    parts = []
    for c in cols:
        v = f"CAST(CAST({c} AS DECIMAL(18,2)) AS DOUBLE)"
        qs = ", ".join(
            _floor_round(f"quantile_cont({v}, {p})", 6, "duckdb")
            + f" AS p{int(p * 100)}"
            for p in ps)
        parts.append(f"SELECT '{c}' AS \"column\", {qs} FROM {table}")
    return " UNION ALL ".join(parts)


def robust_outliers(df: DataFrame, *, value_col: str,
                    group_cols: list[str], id_cols: list[str],
                    k: float = 3.0) -> DataFrame:
    """Per-group robust outlier detection: rows where the absolute
    deviation from the group median exceeds ``k`` × MAD (median
    absolute deviation) — the data-QA step that catches corrupted
    values mean/stddev z-scores miss, because median and MAD don't
    move when the corruption itself inflates the moments (50%
    breakdown point vs 0% for the mean).

    Exact LOWER-median order statistic (the value at 1-indexed rank
    ``floor((n+1)/2)``) instead of the interpolated median: selecting
    an element that exists in the data involves no float arithmetic,
    so the engines agree bit-for-bit on ANY doubles — interpolation
    parity would restrict inputs to 2-decimal money values (see
    :func:`profile_quantiles`). Deviations are one IEEE subtract of
    two carried doubles; the only rounded value is the reported
    ``score`` (NULL when MAD = 0 — in that degenerate group every
    deviation > 0 already flags, and 0/0 is engine-dependent).

    Scale: every step — rank, count, median broadcast-within-group,
    deviation rank, MAD — is a window over the SAME group key, so the
    whole operator is ONE hash exchange plus in-partition sorts; no
    joins, no driver collection. Skewed group sizes are the usual
    window caveat; pre-salt pathological groups upstream if one group
    dominates the table.
    """
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    if not id_cols:
        raise ValueError("id_cols must be non-empty")
    from pyspark.sql.window import Window

    wp = Window.partitionBy(*group_cols)
    w_val = wp.orderBy(F.col("_v"), *[F.col(c) for c in id_cols])
    w_dev = wp.orderBy(F.col("_dev"), *[F.col(c) for c in id_cols])
    base = (df.select(*group_cols, *id_cols,
                      F.col(value_col).cast("double").alias("_v"))
            .where(F.col("_v").isNotNull()))
    med = (base
           .withColumn("_rn", F.row_number().over(w_val))
           .withColumn("_n", F.count("*").over(wp))
           .withColumn("_med", F.max(F.when(
               F.col("_rn") == F.floor((F.col("_n") + 1) / 2),
               F.col("_v")).otherwise(None)).over(wp)))
    dev = med.withColumn("_dev", F.abs(F.col("_v") - F.col("_med")))
    mad = (dev
           .withColumn("_rn2", F.row_number().over(w_dev))
           .withColumn("_mad", F.max(F.when(
               F.col("_rn2") == F.floor((F.col("_n") + 1) / 2),
               F.col("_dev")).otherwise(None)).over(wp)))
    out = (mad.where(F.col("_dev") > F.lit(float(k)) * F.col("_mad"))
           .select(
               *group_cols, *id_cols,
               F.col("_v").alias("value"),
               F.col("_med").alias("med"),
               F.col("_mad").alias("mad"),
               F.when(F.col("_mad") > 0,
                      _floor_round_col(F.col("_dev") / F.col("_mad")))
               .otherwise(None).alias("score")))
    return out


def robust_outliers_duckdb_sql(table: str, *, value_col: str,
                               group_cols: list[str], id_cols: list[str],
                               k: float = 3.0) -> str:
    """DuckDB SQL twin of :func:`robust_outliers` (oracle): the same
    lower-median rank selection, deviation, MAD, and floor-rounded
    score."""
    if not group_cols or not id_cols:
        raise ValueError("group_cols and id_cols must be non-empty")
    g = ", ".join(group_cols)
    ids = ", ".join(id_cols)
    score = _floor_round("_dev / _mad", 6, "duckdb")
    return f"""
WITH base AS (
  SELECT {g}, {ids}, CAST({value_col} AS DOUBLE) AS _v
  FROM {table} WHERE {value_col} IS NOT NULL),
med AS (
  SELECT *,
    max(CASE WHEN _rn = (_n + 1) // 2 THEN _v END)
      OVER (PARTITION BY {g}) AS _med
  FROM (
    SELECT *,
      row_number() OVER (PARTITION BY {g} ORDER BY _v, {ids}) AS _rn,
      count(*) OVER (PARTITION BY {g}) AS _n
    FROM base)),
mad AS (
  SELECT *,
    max(CASE WHEN _rn2 = (_n + 1) // 2 THEN _dev END)
      OVER (PARTITION BY {g}) AS _mad
  FROM (
    SELECT *, abs(_v - _med) AS _dev,
      row_number() OVER (
        PARTITION BY {g} ORDER BY abs(_v - _med), {ids}) AS _rn2
    FROM med))
SELECT {g}, {ids}, _v AS value, _med AS med, _mad AS mad,
       CASE WHEN _mad > 0 THEN {score} END AS score
FROM mad WHERE _dev > CAST('{float(k)!r}' AS DOUBLE) * _mad
""".strip()


_SCALE_METHODS = ("zscore", "minmax", "rank")


def feature_scale(df: DataFrame, *, value_col: str,
                  group_cols: list[str], id_cols: list[str],
                  method: str = "zscore") -> DataFrame:
    """Per-group feature normalization: ``zscore`` ((v-μ)/σ),
    ``minmax`` ((v-min)/(max-min)), or ``rank`` (percent_rank) — the
    standard ML-preprocessing step before mixing features of different
    scales (quality scores, lengths, perplexities) into one model.

    Cross-engine determinism is the design problem: a distributed
    float mean/variance depends on partition order. The repo's
    decimal-exact recipe applies — values cast to DECIMAL(18,6) (the
    package money/metric convention; wider inputs should be pre-scaled)
    so Σv is exact and Σv² (DECIMAL(38,12) — products of two (18,6)s
    are exact 12-scale decimals) is exact, both order-independent;
    μ, σ² = (Σv² − (Σv)²/n)/(n−1), and every downstream op is then a
    deterministic IEEE expression on decimal-exact doubles. The
    textbook cancellation caveat applies to σ² — it is deterministic
    cancellation, identical on both engines, and for feature scaling
    (not numerics research) that is the contract that matters; a
    negative σ² from cancellation clamps to 0 on both engines.
    ``rank`` is percent_rank over the group (ties share a rank — the
    standard definition both engines implement identically). Scaled
    outputs are floor-rounded; degenerate groups (σ=0, max=min, or a
    single row) emit NULL.

    One hash exchange on the group key (stats via window on zscore/
    minmax, the rank window for rank) — no joins, no collect.
    """
    if method not in _SCALE_METHODS:
        raise ValueError(
            f"method must be one of {_SCALE_METHODS}: {method!r}")
    if not group_cols or not id_cols:
        raise ValueError("group_cols and id_cols must be non-empty")
    from pyspark.sql.window import Window

    wp = Window.partitionBy(*group_cols)
    base = (df.select(*group_cols, *id_cols,
                      F.col(value_col).cast("double").alias("_v"))
            .where(F.col("_v").isNotNull()))
    if method == "rank":
        wr = wp.orderBy(F.col("_v"))
        scaled = F.when(
            F.count("*").over(wp) > 1,
            _floor_round_col(F.percent_rank().over(wr))).otherwise(None)
    elif method == "minmax":
        rng = F.max("_v").over(wp) - F.min("_v").over(wp)
        scaled = F.when(
            rng > 0,
            _floor_round_col((F.col("_v") - F.min("_v").over(wp)) / rng)
        ).otherwise(None)
    else:
        dec = F.col("_v").cast("decimal(18,6)")
        s1 = F.sum(dec).over(wp).cast("double")
        s2 = F.sum((dec * dec).cast("decimal(38,12)")).over(wp) \
            .cast("double")
        n = F.count("*").over(wp).cast("double")
        var = F.when(
            F.count("*").over(wp) > 1,
            F.greatest((s2 - (s1 * s1) / n) / (n - F.lit(1.0)),
                       F.lit(0.0))).otherwise(None)
        std = F.sqrt(var)
        scaled = F.when(
            std > 0,
            _floor_round_col((F.col("_v") - s1 / n) / std)
        ).otherwise(None)
    return base.select(*group_cols, *id_cols,
                       F.col("_v").alias("value"),
                       scaled.alias("scaled"))


def feature_scale_duckdb_sql(table: str, *, value_col: str,
                             group_cols: list[str], id_cols: list[str],
                             method: str = "zscore") -> str:
    """DuckDB SQL twin of :func:`feature_scale` (oracle): identical
    decimal-exact sums and IEEE expression order."""
    if method not in _SCALE_METHODS:
        raise ValueError(
            f"method must be one of {_SCALE_METHODS}: {method!r}")
    if not group_cols or not id_cols:
        raise ValueError("group_cols and id_cols must be non-empty")
    g = ", ".join(group_cols)
    ids = ", ".join(id_cols)
    if method == "rank":
        expr = _floor_round(
            f"percent_rank() OVER (PARTITION BY {g} ORDER BY _v)",
            6, "duckdb")
        scaled = (f"CASE WHEN count(*) OVER (PARTITION BY {g}) > 1 "
                  f"THEN {expr} END")
    elif method == "minmax":
        mn = f"min(_v) OVER (PARTITION BY {g})"
        mx = f"max(_v) OVER (PARTITION BY {g})"
        expr = _floor_round(f"(_v - {mn}) / ({mx} - {mn})", 6, "duckdb")
        scaled = f"CASE WHEN ({mx} - {mn}) > 0 THEN {expr} END"
    else:
        s1 = (f"CAST(sum(CAST(_v AS DECIMAL(18,6))) "
              f"OVER (PARTITION BY {g}) AS DOUBLE)")
        # widen one operand so DuckDB's int64 decimal multiply gets
        # int128 headroom (19+18=37 ≤ 38); the product is the same
        # exact 12-scale decimal Spark computes natively
        s2 = (f"CAST(sum(CAST(CAST(_v AS DECIMAL(19,6)) "
              f"* CAST(_v AS DECIMAL(18,6)) AS DECIMAL(38,12))) "
              f"OVER (PARTITION BY {g}) AS DOUBLE)")
        n = f"CAST(count(*) OVER (PARTITION BY {g}) AS DOUBLE)"
        var = (f"CASE WHEN count(*) OVER (PARTITION BY {g}) > 1 "
               f"THEN greatest(({s2} - ({s1} * {s1}) / {n}) "
               f"/ ({n} - 1.0), 0.0) END")
        std = f"sqrt({var})"
        expr = _floor_round(f"(_v - {s1} / {n}) / {std}", 6, "duckdb")
        scaled = f"CASE WHEN {std} > 0 THEN {expr} END"
    return f"""
SELECT {g}, {ids}, _v AS value, {scaled} AS scaled
FROM (SELECT {g}, {ids}, CAST({value_col} AS DOUBLE) AS _v
      FROM {table} WHERE {value_col} IS NOT NULL)
""".strip()


def profile_correlations(df: DataFrame, cols: list[str]) -> DataFrame:
    """(col_a, col_b, n, corr) — Pearson correlation for every column
    pair (a < b lexicographically): the data-QA readout for redundant
    features and leakage candidates before model training.

    Same determinism recipe as :func:`feature_scale`: rows where ANY
    profiled column is NULL are dropped (one consistent n for every
    pair — listwise deletion, the convention a correlation MATRIX
    needs for positive semidefiniteness), values quantize to
    DECIMAL(18,6), and Σx, Σxy (DECIMAL(38,12) via the widened
    multiply) are exact order-independent sums; corr =
    (n·Σxy − Σx·Σy) / (√(n·Σx²−(Σx)²)·√(n·Σy²−(Σy)²)) is then a fixed
    IEEE expression on decimal-exact doubles — identical on any
    partitioning and any engine. Degenerate pairs (either side
    constant) emit NULL, never a 0/0.

    ONE aggregation job for the whole matrix: every pairwise sum is a
    column of the same single groupless agg (map-side combined), so
    the cost is one table pass regardless of how many of the
    k·(k−1)/2 pairs are requested — the matrix rows are then built
    from the 1-row stats frame with per-pair expressions.
    """
    if len(cols) < 2:
        raise ValueError(f"need >= 2 cols: {cols!r}")
    if len(set(cols)) != len(cols):
        raise ValueError(f"duplicate cols: {cols!r}")
    cols = list(cols)
    base = df
    for c in cols:
        base = base.where(F.col(c).isNotNull())
    dec = {c: F.col(c).cast("double").cast("decimal(18,6)") for c in cols}
    aggs = [F.count("*").alias("_n")]
    for c in cols:
        aggs.append(F.sum(dec[c]).alias(f"s_{c}"))
        aggs.append(F.sum((dec[c] * dec[c]).cast("decimal(38,12)"))
                    .alias(f"ss_{c}"))
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    for a, b in pairs:
        aggs.append(F.sum((dec[a] * dec[b]).cast("decimal(38,12)"))
                    .alias(f"sp_{a}_{b}"))
    stats = base.agg(*aggs)

    structs = []
    for a, b in pairs:
        pa, pb = (a, b) if a < b else (b, a)
        n = F.col("_n").cast("double")
        sa = F.col(f"s_{a}").cast("double")
        sb = F.col(f"s_{b}").cast("double")
        ssa = F.col(f"ss_{a}").cast("double")
        ssb = F.col(f"ss_{b}").cast("double")
        sp = F.col(f"sp_{a}_{b}").cast("double")
        va = n * ssa - sa * sa
        vb = n * ssb - sb * sb
        corr = F.when(
            (va > 0) & (vb > 0),
            _floor_round_col((n * sp - sa * sb)
                             / (F.sqrt(va) * F.sqrt(vb)))).otherwise(None)
        structs.append(F.struct(
            F.lit(pa).alias("col_a"), F.lit(pb).alias("col_b"),
            F.col("_n").alias("n"), corr.alias("corr")))
    # ONE matrix row per pair via a single explode over the 1-row stats
    # frame: the former per-pair select + union chain referenced the
    # stats aggregate once per branch (needing a persist to avoid k²/2
    # replays of the table pass) and paid one stage per pair; the
    # explode builds every row in the same stage as the aggregate, so
    # the persist (and its job/storage bookkeeping) is gone too.
    return (stats.select(F.explode(F.array(*structs)).alias("r"))
            .select("r.col_a", "r.col_b", "r.n", "r.corr"))


def profile_correlations_duckdb_sql(table: str, cols: list[str]) -> str:
    """DuckDB SQL twin of :func:`profile_correlations` (oracle)."""
    if len(cols) < 2:
        raise ValueError(f"need >= 2 cols: {cols!r}")
    if len(set(cols)) != len(cols):
        raise ValueError(f"duplicate cols: {cols!r}")
    cols = list(cols)
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in cols)

    def d(c):
        return f"CAST(CAST({c} AS DOUBLE) AS DECIMAL(18,6))"

    def dw(c):
        return f"CAST(CAST({c} AS DOUBLE) AS DECIMAL(19,6))"

    sums = ["CAST(count(*) AS BIGINT) AS _n"]
    for c in cols:
        sums.append(f"sum({d(c)}) AS s_{c}")
        sums.append(f"sum(CAST({dw(c)} * {d(c)} AS DECIMAL(38,12))) "
                    f"AS ss_{c}")
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    for a, b in pairs:
        sums.append(f"sum(CAST({dw(a)} * {d(b)} AS DECIMAL(38,12))) "
                    f"AS sp_{a}_{b}")
    selects = []
    for a, b in pairs:
        pa, pb = (a, b) if a < b else (b, a)
        n = "CAST(_n AS DOUBLE)"
        sa, sb = f"CAST(s_{a} AS DOUBLE)", f"CAST(s_{b} AS DOUBLE)"
        ssa, ssb = f"CAST(ss_{a} AS DOUBLE)", f"CAST(ss_{b} AS DOUBLE)"
        sp = f"CAST(sp_{a}_{b} AS DOUBLE)"
        va = f"({n} * {ssa} - {sa} * {sa})"
        vb = f"({n} * {ssb} - {sb} * {sb})"
        corr = _floor_round(
            f"({n} * {sp} - {sa} * {sb}) / (sqrt({va}) * sqrt({vb}))",
            6, "duckdb")
        selects.append(
            f"SELECT '{pa}' AS col_a, '{pb}' AS col_b, _n AS n, "
            f"CASE WHEN {va} > 0 AND {vb} > 0 THEN {corr} END AS corr "
            "FROM stats")
    return (f"WITH stats AS (SELECT {', '.join(sums)} FROM {table} "
            f"WHERE {notnull}) " + " UNION ALL ".join(selects))


def profile_embeddings(df: DataFrame, vec_col: str = "embedding",
                       id_col: str = "vec_id",
                       dim: int | None = None) -> DataFrame:
    """Embedding-corpus QA profile: (metric, dim, n, mean, std, min_v,
    max_v) — per-dimension value stats (``metric='dim'``, one row per
    dimension), the L2-norm distribution (``metric='norm'``), and the
    centroid norm (``metric='centroid'``, the standard anisotropy
    signal: ≈0 for a centered corpus, large when a common bias
    direction dominates — the condition that degrades cosine ANN and
    semantic dedup, which is why this runs BEFORE the ANN tiers).

    Determinism recipe composed from pinned cores: per-dim values and
    floor-rounded norms quantize to DECIMAL(18,6), Σv / Σv²
    (DECIMAL(38,12) widened products) are exact order-independent sums
    (the feature_scale / profile_correlations recipe), the norm itself
    is the sequential left-fold sum of squares both engines execute
    identically (the similarity-tier convention) floor-rounded before
    quantization, and every final mean/std is one fixed IEEE
    expression on decimal-exact doubles. Zero-variance dims emit
    std=0; the centroid row derives from the per-dim means (already
    exact), so the whole profile is strictly oracle-checkable.

    Scale: ONE posexplode pass (n·d rows, map-side combined into d
    groups) + one narrow norm projection aggregated in the same job
    family; nothing corpus-quadratic, no Python, no driver collect.
    Vectors failing the length check raise loudly — a ragged corpus
    would silently skew per-dim stats otherwise.
    """
    if dim is None:
        probe = (df.where(F.col(vec_col).isNotNull())
                 .select(F.size(F.col(vec_col)).alias("d")).first())
        if probe is None:
            raise ValueError("profile_embeddings: empty corpus")
        dim = probe["d"]
    if dim < 1:
        raise ValueError(f"dim must be >= 1: {dim}")
    # NULL vectors must fail the guard too: size(NULL) != dim is NULL,
    # not true, so an isNull arm is load-bearing — a silent NULL row
    # would dilute the norm-metric stats (count counts it, sum skips it)
    bad = df.where(F.col(vec_col).isNull()
                   | (F.size(F.col(vec_col)) != dim)).count()
    if bad:
        raise ValueError(
            f"profile_embeddings: {bad} vectors are NULL or not "
            f"{dim}-dim")

    def stats(frame, key_col, metric):
        v = F.col("_v").cast("double").cast("decimal(18,6)")
        agg = (frame.groupBy(key_col)
               .agg(F.count("*").alias("n"),
                    F.sum(v).alias("s"),
                    F.sum((v * v).cast("decimal(38,12)")).alias("ss"),
                    F.min(v).alias("mn"), F.max(v).alias("mx")))
        n = F.col("n").cast("double")
        s = F.col("s").cast("double")
        ss = F.col("ss").cast("double")
        var = (n * ss - s * s) / (n * n)
        return agg.select(
            F.lit(metric).alias("metric"),
            F.col(key_col).cast("int").alias("dim"),
            F.col("n"),
            _floor_round_col(s / n).alias("mean"),
            _floor_round_col(F.sqrt(F.greatest(var, F.lit(0.0))))
            .alias("std"),
            F.col("mn").cast("double").alias("min_v"),
            F.col("mx").cast("double").alias("max_v"))

    dims = df.select(
        F.posexplode(F.col(vec_col)).alias("_dim", "_v"))
    per_dim = stats(dims, "_dim", "dim")
    norms = df.select(_floor_round_col(F.sqrt(F.expr(
        f"aggregate({vec_col}, 0D, (acc, x) -> "
        f"acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")))
        .alias("_v"), F.lit(0).alias("_k"))
    norm_row = stats(norms, "_k", "norm").withColumn(
        "dim", F.lit(None).cast("int"))
    # centroid norm from the (exact) per-dim means: one tiny agg over
    # the d-row frame — the means are floor-rounded doubles on both
    # engines, so the fold is identical
    centroid = (per_dim
                .agg(F.sum((F.col("mean") * F.col("mean"))
                           .cast("decimal(38,12)")).alias("_ssm"))
                .select(F.lit("centroid").alias("metric"),
                        F.lit(None).cast("int").alias("dim"),
                        F.lit(dim).cast("bigint").alias("n"),
                        _floor_round_col(F.sqrt(
                            F.col("_ssm").cast("double"))).alias("mean"),
                        F.lit(None).cast("double").alias("std"),
                        F.lit(None).cast("double").alias("min_v"),
                        F.lit(None).cast("double").alias("max_v")))
    return per_dim.unionAll(norm_row).unionAll(centroid)


def profile_embeddings_duckdb_sql(table: str = "embeddings",
                                  vec_col: str = "embedding",
                                  id_col: str = "vec_id",
                                  dim: int = 64) -> str:
    """DuckDB SQL twin of :func:`profile_embeddings` (oracle)."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1: {dim}")
    from ..functions.text import floor_round

    def tail(metric, key):
        var = "(n * ss - s * s) / (n * n)"
        return (f"SELECT '{metric}' AS metric, CAST({key} AS INTEGER) "
                f"AS dim, n, "
                + floor_round("s / n", 6, "duckdb") + " AS mean, "
                + floor_round(
                    f"sqrt(CASE WHEN {var} > 0 THEN {var} ELSE 0 END)",
                    6, "duckdb")
                + " AS std, CAST(mn AS DOUBLE) AS min_v, "
                "CAST(mx AS DOUBLE) AS max_v")

    dim_stats = (
        # zipped unnests (DuckDB has no WITH ORDINALITY): position and
        # value expand in lockstep
        f"d AS (SELECT unnest(range(len({vec_col}))) AS k, "
        f"CAST(CAST(unnest({vec_col}) AS DOUBLE) AS DECIMAL(18,6)) AS v "
        f"FROM {table}), "
        "da AS (SELECT k, CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(v) AS DOUBLE) AS s, "
        "CAST(sum(CAST(v * v AS DECIMAL(38,12))) AS DOUBLE) AS ss, "
        "min(v) AS mn, max(v) AS mx FROM d GROUP BY k)")
    norm_expr = floor_round(
        f"sqrt(list_sum(list_transform({vec_col}, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))", 6, "duckdb")
    norm_stats = (
        f"nv AS (SELECT CAST({norm_expr} AS DECIMAL(18,6)) AS v "
        f"FROM {table}), "
        "na AS (SELECT CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(v) AS DOUBLE) AS s, "
        "CAST(sum(CAST(v * v AS DECIMAL(38,12))) AS DOUBLE) AS ss, "
        "min(v) AS mn, max(v) AS mx FROM nv)")
    mean_d = floor_round("s / n", 6, "duckdb")
    centroid = (
        "SELECT 'centroid' AS metric, CAST(NULL AS INTEGER) AS dim, "
        f"CAST({dim} AS BIGINT) AS n, "
        + floor_round(
            "sqrt(CAST(sum(CAST(m * m AS DECIMAL(38,12))) AS DOUBLE))",
            6, "duckdb")
        + " AS mean, CAST(NULL AS DOUBLE) AS std, "
        "CAST(NULL AS DOUBLE) AS min_v, CAST(NULL AS DOUBLE) AS max_v "
        f"FROM (SELECT {mean_d} AS m FROM da)")
    return (f"WITH {dim_stats}, {norm_stats} "
            + tail("dim", "k") + " FROM da UNION ALL "
            + tail("norm", "NULL") + " FROM na UNION ALL " + centroid)
