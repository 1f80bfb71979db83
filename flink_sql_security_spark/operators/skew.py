"""Skew-mitigation operators: salted aggregation and salted joins.

At 100 TB a handful of hot keys (one customer with 10⁹ orders, the empty
string, NULL-ish sentinels) turn a single shuffle partition into the job's
critical path. AQE's skew-join handling (enabled in ``sources.build_session``)
covers sort-merge joins; these helpers cover the two cases AQE does not:
hot-key *aggregation* and broadcast-averse skewed joins.

Both are deterministic: the salt comes from hashing stable columns, not RNG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salted_groupby_count(df: DataFrame, key_cols: list[str],
                         salt_buckets: int = 16) -> DataFrame:
    """Two-phase count: groupBy(key, salt) → groupBy(key).

    Phase 1 spreads each hot key over ``salt_buckets`` partitions; phase 2
    combines ``salt_buckets`` tiny partials per key. Use when one key holds
    >~1/shuffle-partitions of all rows; for uniform keys plain groupBy's
    map-side combine is already optimal.
    """
    salt = (F.abs(F.hash(*[F.col(c) for c in key_cols], F.monotonically_increasing_id()))
            % salt_buckets).alias("_salt")
    partial = (
        df.select(*key_cols, salt)
        .groupBy(*key_cols, "_salt")
        .agg(F.count("*").alias("_partial"))
    )
    return partial.groupBy(*key_cols).agg(F.sum("_partial").alias("cnt"))


def salted_groupby_agg(df: DataFrame, key_cols: list[str],
                       agg_col: str, salt_buckets: int = 16) -> DataFrame:
    """Two-phase sum/count/min/max over a skewed key (decomposable aggs)."""
    salt = (F.abs(F.hash(*[F.col(c) for c in key_cols], F.monotonically_increasing_id()))
            % salt_buckets).alias("_salt")
    partial = (
        df.select(*key_cols, agg_col, salt)
        .groupBy(*key_cols, "_salt")
        .agg(
            F.sum(agg_col).alias("_sum"),
            F.count(agg_col).alias("_cnt"),
            F.min(agg_col).alias("_min"),
            F.max(agg_col).alias("_max"),
        )
    )
    return partial.groupBy(*key_cols).agg(
        F.sum("_sum").alias(f"sum_{agg_col}"),
        F.sum("_cnt").alias(f"count_{agg_col}"),
        F.min("_min").alias(f"min_{agg_col}"),
        F.max("_max").alias(f"max_{agg_col}"),
    )


def salted_join(left: DataFrame, right: DataFrame, on: str,
                salt_buckets: int = 8, how: str = "inner") -> DataFrame:
    """Skewed fact ⋈ dim without broadcast: salt the skewed (left) side,
    replicate the right side ``salt_buckets`` times, join on (key, salt).

    Replication cost is |right| × salt_buckets — use when the right side is
    too big to broadcast but small enough to replicate; otherwise prefer AQE
    skew-join or isolating the hot keys into a separate broadcast join.
    """
    salted_left = left.withColumn(
        "_salt",
        F.abs(F.hash(F.col(on), F.monotonically_increasing_id())) % salt_buckets,
    )
    exploded_right = right.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))),
    )
    return (
        salted_left.join(exploded_right, on=[on, "_salt"], how=how)
        .drop("_salt")
    )


def spread_partitions(df: DataFrame, key_col: str | None = None,
                      always: bool = False) -> DataFrame:
    """Explicit-count repartition that parallelizes expensive NARROW
    work when the input's own partitioning is too coarse — the inverse
    of the hot-key problem above: not one partition too big by bytes,
    but one partition owning all the per-row COMPUTE (a single-row-group
    parquet file can only scan as ONE task no matter the split config,
    and AQE byte-based coalescing shrinks small-but-compute-heavy
    intermediates the same way).

    The explicit count is load-bearing — AQE honors user-specified
    partition numbers but freely re-coalesces keyless/keyed repartitions
    by OUTPUT BYTES, which is exactly wrong when bytes are small and the
    downstream per-row work (regex gates, n-gram hashing, JSON decode,
    unrolled projection arithmetic) is large. Count = max(cluster
    cores, Catalyst's size estimate / maxPartitionBytes): a small input
    spreads across every core, a large one keeps its natural split
    count, and the estimate is a free plan statistic (no job).

    ``key_col``: hash-partition on that column (deterministic under
    task retries, and downstream per-key groupBys reuse the
    partitioning); None = round-robin, for inputs with no natural key.

    ``always=False`` (the default) makes the exchange CONDITIONAL on
    the input being estimated too small to carry natural parallelism
    (est / maxPartitionBytes < cores): a corpus-sized scan already
    yields one task per split, and repartitioning it would add a full
    shuffle of the heavy payload for nothing — the no-op path is what
    keeps "zero exchanges at 100 TB" claims true while the small local
    corpus still spreads. An unavailable estimate (None) is treated as
    LARGE — the scale-safe reading. ``always=True`` preserves the
    dedup-family contract where the exchange also provides per-doc
    clustering that downstream operators reuse.
    """
    from ..plan_stats import plan_size_bytes

    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    est = plan_size_bytes(df)
    raw = spark.conf.get(
        "spark.sql.files.maxPartitionBytes", "134217728b").lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    mult = 1
    if raw.endswith("b"):
        raw = raw[:-1]
    if raw and raw[-1] in units:
        mult, raw = units[raw[-1]], raw[:-1]
    try:
        split = max(int(raw) * mult, 1)
    except ValueError:
        split = 128 << 20
    # a relation Catalyst cannot estimate reports defaultSizeInBytes
    # (Long.MaxValue) — treat anything absurd as UNKNOWN, i.e. large
    if est is not None and est >= (1 << 50):
        est = None
    est_parts = None if est is None else -(-est // split)
    if not always and (est_parts is None or est_parts >= cores):
        return df
    # cap the explicit count: past ~32k partitions the input is
    # corpus-sized and its natural split count should rule anyway
    n = (cores if est_parts is None
         else min(max(cores, est_parts), 32768))
    if key_col is None:
        return df.repartition(n)
    return df.repartition(n, F.col(key_col))


def pushdown_barrier(df: DataFrame) -> DataFrame:
    """Row-preserving Generate barrier against predicate pushdown.

    Catalyst pushes any deterministic filter through projections,
    unions and exchanges, INLINING the filtered column's defining
    expression at every level it crosses — for a filter over an
    expensively-derived column (regex quality gates, from_json decode)
    that re-evaluates the heavy kernel below the exchange that was
    supposed to parallelize it, serially, once for the filter and again
    above for the projection. A filter on a generator's own output
    cannot cross the Generate, so wrapping the computed columns in a
    single-element ``explode(array(struct(*)))`` pins evaluation
    exactly where the projection sits. One-element non-null array ⇒
    identical rows; the explode itself is a per-row no-op.

    Use between an expensive projection and its filter; do NOT use
    where pushdown is wanted (a cheap filter pushing to the scan is the
    point of predicate pushdown).
    """
    return (df.select(F.explode(F.array(F.struct(
        *[F.col(c) for c in df.columns]))).alias("_pb"))
            .select("_pb.*"))
