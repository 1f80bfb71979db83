"""Distributed sketches: deterministic HyperLogLog, Bloom, Count-Min.

The 100 TB profiling path for ``n_distinct``: ``profile_numeric``'s exact
path shuffles every distinct (column, value) pair — at 10⁹+ cardinality
that exchange is the job. An HLL sketch replaces it with a constant-size
state per column: the shuffle moves at most ``m`` (column, bucket, rho)
rows per map partition (map-side ``max`` combine), the reduce side merges
registers with another ``max``, and the estimate is O(m) arithmetic.
Registers are mergeable across partitions/days/tables — the same sketch
serves incremental profiling (union = register-wise max).

Unlike Spark's built-in ``approx_count_distinct`` (HLL++, engine-private
hash — not reproducible outside the JVM), this sketch is built from md5
so the DuckDB oracle computes bit-identical registers and estimates:
- 60-bit hash: first 15 hex chars of md5(value-as-string)
- bucket = low ``p`` bits; rho = leading-zero count of the remaining
  ``60-p`` bits + 1 (via ``length(bin(w))`` — integer-exact both engines)
- harmonic sum kept EXACT in BIGINT: sum of 2^(L+1-rho) ≤ m·2^52 < 2^63
  (one final double division; no float accumulation anywhere)
- standard small-range linear counting when est ≤ 2.5m and empty
  registers remain (Flajolet et al. 2007 thresholds)

Reference scope note: the reference engine (flink-sql-security) has no
sketching — this extends the pipeline-operator surface per the driver
brief (profiling at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from flink_sql_security_spark.functions.text import (
    floor_round as _floor_round,
    floor_round_col as _floor_round_col)
from flink_sql_security_spark.operators.cache import attach

HLL_P = 9                 # 2^9 = 512 registers
HLL_M = 1 << HLL_P
_L = 60 - HLL_P           # bits in the register stream w
RHO_MAX = _L + 1          # rho when w == 0


def alpha_m(m: int) -> float:
    # bias-correction constant, Flajolet et al. 2007 §4
    if m >= 128:
        return 0.7213 / (1 + 1.079 / m)
    return {16: 0.673, 32: 0.697, 64: 0.709}[m]


def hll_registers(df: DataFrame, cols: list[str],
                  spread: bool = True) -> DataFrame:
    """(column, bucket, rho): merged HLL registers, one row per non-empty
    register. This is the mergeable sketch state — union two tables'
    registers and ``max`` again to sketch their union without rescanning
    either. The single shuffle is map-side-combined to ≤ m rows/column/task.

    ``cols`` should be integer/string-typed: values hash via their string
    rendering, and floating-point columns render differently across
    engines (Spark ``1.0E7`` vs DuckDB ``10000000.0``) — cast doubles to
    DECIMAL/STRING explicitly upstream if you must sketch them.
    """
    from .skew import spread_partitions

    stacked = ", ".join(f"'{c}', CAST({c} AS STRING)" for c in cols)
    h = f"CAST(conv(substring(md5(val), 1, 15), 16, 10) AS BIGINT)"
    # per-value md5 hashing is the heavy narrow kernel; a single-row-
    # group file scans as one task, so spread small inputs (no-op on a
    # corpus-sized scan) before the stack + map-side combine.
    # ``spread=False`` lets a caller that already spread the input
    # (approx_distinct_hll shares ONE exchange across its two branches)
    # skip a second exchange.
    if spread:
        df = spread_partitions(df)
    return (
        df.select(F.expr(f"stack({len(cols)}, {stacked})").alias("column", "val"))
        .where(F.col("val").isNotNull())
        .select(
            "column",
            F.expr(f"{h} % {HLL_M}").alias("bucket"),
            F.expr(
                f"CASE WHEN ({h} >= {HLL_M} AND shiftright({h}, {HLL_P}) > 0) "
                f"THEN {RHO_MAX} - length(bin(shiftright({h}, {HLL_P}))) "
                f"ELSE {RHO_MAX} END").alias("rho"),
        )
        .groupBy("column", "bucket").agg(F.max("rho").alias("rho"))
    )


def approx_distinct_hll(df: DataFrame, cols: list[str],
                        with_exact: bool = True) -> DataFrame:
    """(column, n_est[, n_exact, rel_err]) — HLL distinct estimate per column.

    ``with_exact`` adds the exact count and relative error for validation
    display; production profiling at >10⁹ cardinality drops it (the exact
    branch is precisely the distinct-pair shuffle the sketch avoids).
    """
    from .skew import spread_partitions

    # ONE spread shared by the sketch and the exact branch: each branch
    # re-reads the spread frame's exchange output instead of paying its
    # own serial exchange off the 1-task scan
    df = spread_partitions(df)
    # harmonic sum Z = Σ 2^(-M_j), kept exact: S = Z·2^RHO_MAX in BIGINT
    # (non-empty register: 2^(RHO_MAX-rho); empty: 2^RHO_MAX; S ≤ m·2^52 < 2^62)
    c_lit = repr(alpha_m(HLL_M) * HLL_M * HLL_M * float(1 << RHO_MAX))
    est_raw = f"{c_lit} / CAST(s AS DOUBLE)"
    est = (
        f"CASE WHEN {est_raw} <= {2.5 * HLL_M} AND ({HLL_M} - present) > 0 "
        f"THEN {float(HLL_M)} * ln({float(HLL_M)} / ({HLL_M} - present)) "
        f"ELSE {est_raw} END"
    )
    sketch = (
        hll_registers(df, cols, spread=False)
        .groupBy("column").agg(
            F.expr(
                f"sum(shiftleft(CAST(1 AS BIGINT), {RHO_MAX} - rho))").alias("s0"),
            F.count("*").alias("present"),
        )
        .select(
            "column", "present",
            F.expr(
                f"s0 + ({HLL_M} - present) * shiftleft(CAST(1 AS BIGINT), {RHO_MAX})"
            ).alias("s"))
        .select("column",
                # floor(x+0.5), not round(x): functions/text.py rule
                F.expr(f"CAST(floor(({est}) + 0.5) AS BIGINT)")
                .alias("n_est"))
    )
    if not with_exact:
        return sketch
    stacked = ", ".join(f"'{c}', CAST({c} AS STRING)" for c in cols)
    exact = (
        df.select(F.expr(f"stack({len(cols)}, {stacked})").alias("column", "val"))
        .groupBy("column")
        .agg(F.count_distinct("val").alias("n_exact"))
    )
    joined = sketch.join(exact, "column")
    rel = (F.col("n_est").cast("double") - F.col("n_exact").cast("double")) \
        / F.col("n_exact").cast("double")
    return joined.select("column", "n_est", "n_exact",
                         _floor_round_col(rel, 4).alias("rel_err"))


# ---------------------------------------------------------------------------
# Bloom filter (deterministic double-hashing; md5-portable)
# ---------------------------------------------------------------------------
# The 100 TB membership path: decontaminating a corpus against a held-out
# benchmark set with a join shuffles every probe key; a Bloom filter reduces
# the held-out side to a bit set of fixed size that rides a broadcast join.
# No false negatives (every true member probes positive), bounded false
# positives (~(1-e^{-kn/m})^k). Bits are mergeable across shards/days by
# union+distinct. Double hashing (Kirsch-Mitzenmacher 2006): position_i =
# (h1 + i*h2) mod m over the two 60-bit halves of md5 — both engines
# compute identical positions (integer arithmetic only).

BLOOM_BITS = 1 << 16      # m: default filter size
BLOOM_K = 7               # k: hash count (optimal for n ≈ m ln2 / k)


def _dh_cols(col_expr: str, mod: int):
    """Spark SQL for the two md5-half double-hash values, already reduced
    mod ``mod`` (so the i-th position (h1 + i*h2) % mod stays in BIGINT)."""
    h1 = (f"CAST(conv(substring(md5(CAST({col_expr} AS STRING)), 1, 15), "
          f"16, 10) AS BIGINT) % {mod}")
    h2 = (f"CAST(conv(substring(md5(CAST({col_expr} AS STRING)), 16, 15), "
          f"16, 10) AS BIGINT) % {mod}")
    return h1, h2


def bloom_bits(df: DataFrame, col: str,
               n_bits: int = BLOOM_BITS, k: int = BLOOM_K) -> DataFrame:
    """(bit): the distinct set bit positions for ``df[col]`` — the whole
    filter state. Hashing is bound to columns ONCE per row (md5 evaluated
    outside the position lambda), then k narrow positions explode into one
    distinct. Merge two filters: ``union`` then ``distinct`` again.
    """
    h1, h2 = _dh_cols(col, n_bits)
    return (
        df.where(F.col(col).isNotNull())
        .select(F.expr(h1).alias("_h1"), F.expr(h2).alias("_h2"))
        .select(F.explode(F.expr(
            f"transform(sequence(0, {k - 1}), "
            f"i -> (_h1 + i * _h2) % {n_bits})")).alias("bit"))
        .distinct()
    )


def bloom_probe(bits: DataFrame, df: DataFrame, id_col: str, col: str,
                n_bits: int = BLOOM_BITS, k: int = BLOOM_K) -> DataFrame:
    """(id, bloom_maybe): probe every row of ``df`` against the filter.

    Scale shape: the k positions explode narrowly, the bit set rides a
    broadcast hash join (no shuffle of the 100 TB probe side's keys —
    only the k·rows position stream reduces back on ``id_col``), and an
    id is a member iff EVERY position row it produced matched
    (``min`` over the hit flags — NOT ``count == k``, which would turn a
    duplicated id into a false negative: 2k matched rows ≠ k). Duplicate
    ids therefore AND their verdicts; coinciding positions (i*h2
    collisions) stay correct, each exploded row matches independently.
    """
    h1, h2 = _dh_cols(col, n_bits)
    pos = (
        df.where(F.col(col).isNotNull())
        .select(F.col(id_col), F.expr(h1).alias("_h1"), F.expr(h2).alias("_h2"))
        .select(id_col, F.explode(F.expr(
            f"transform(sequence(0, {k - 1}), "
            f"i -> (_h1 + i * _h2) % {n_bits})")).alias("bit"))
    )
    hit = F.broadcast(bits.select("bit", F.lit(1).alias("_hit")))
    return (
        pos.join(hit, "bit", "left")
        .groupBy(id_col)
        .agg(F.min(F.col("_hit").isNotNull()).alias("bloom_maybe"))
    )


def bloom_decontaminate(corpus: DataFrame, held_out: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        n_bits: int = BLOOM_BITS, k: int = BLOOM_K
                        ) -> DataFrame:
    """(id, bloom_maybe, exact_member, false_positive) for every corpus row:
    Bloom verdict vs exact membership of the whitespace/case-normalized
    text in the held-out set. ``false_positive`` isolates the (bounded)
    Bloom error; ``bloom_maybe AND NOT false_positive`` is exact. At scale
    the exact column is dropped and ``bloom_maybe`` alone gates ingest
    (no-false-negative guarantee: nothing contaminated slips through).
    NULL-text corpus rows are kept (not a member of anything): every
    corpus row gets a verdict, per the contract.
    """
    norm = "lower(regexp_replace(trim({c}), '\\\\s+', ' '))"
    c = corpus.select(
        F.col(id_col), F.expr(norm.format(c=text_col)).alias("_norm"))
    h = held_out.select(
        F.expr(norm.format(c=text_col)).alias("_norm")).distinct()
    bits = bloom_bits(h, "_norm", n_bits, k)
    probed = bloom_probe(bits, c.where(F.col("_norm").isNotNull()),
                         id_col, "_norm", n_bits, k)
    exact = (
        c.join(h.withColumn("_ex", F.lit(1)), "_norm", "left")
        .select(id_col, (F.col("_ex") == 1).alias("_exact"))
    )
    return (
        exact.join(probed, id_col, "left")
        .select(
            id_col,
            F.coalesce("bloom_maybe", F.lit(False)).alias("bloom_maybe"),
            F.coalesce("_exact", F.lit(False)).alias("exact_member"),
            (F.coalesce("bloom_maybe", F.lit(False))
             & ~F.coalesce("_exact", F.lit(False))).alias("false_positive"))
    )


# ---------------------------------------------------------------------------
# Count-Min sketch (deterministic; md5-portable)
# ---------------------------------------------------------------------------
# The 100 TB frequency path: exact token counts shuffle every distinct
# token; a Count-Min sketch caps the shuffle at depth×width counters per
# map task (map-side combine), mergeable by cellwise addition across
# shards/days. One-sided error: estimates never undercount, overcount
# ≤ 2N/width with probability 1 - 2^-depth (Cormode & Muthukrishnan 2005).

CMS_WIDTH = 1 << 12
CMS_DEPTH = 4


def cms_counters(df: DataFrame, col: str,
                 width: int = CMS_WIDTH, depth: int = CMS_DEPTH) -> DataFrame:
    """(row_j, pos, cnt): the sketch counters, one row per non-zero cell.
    Each input row increments one cell per depth row j, at position
    (h1 + j*h2) mod width. Merge two sketches: union + groupBy sum.
    """
    h1, h2 = _dh_cols(col, width)
    return (
        df.where(F.col(col).isNotNull())
        .select(F.expr(h1).alias("_h1"), F.expr(h2).alias("_h2"))
        .select(F.explode(F.expr(
            f"transform(sequence(0, {depth - 1}), "
            f"j -> named_struct('row_j', j, 'pos', (_h1 + j * _h2) % {width}))"
        )).alias("c"))
        .select(F.col("c.row_j").alias("row_j"), F.col("c.pos").alias("pos"))
        .groupBy("row_j", "pos").agg(F.count("*").alias("cnt"))
    )


def cms_estimate(counters: DataFrame, probe: DataFrame, col: str,
                 width: int = CMS_WIDTH, depth: int = CMS_DEPTH) -> DataFrame:
    """(col, n_est): point-query the sketch for each probe value —
    min over depth rows of the addressed cell. Counters (≤ depth·width
    rows) ride a broadcast join; an unseen (row_j,pos) cell reads 0.
    """
    h1, h2 = _dh_cols(col, width)
    pos = (
        probe.where(F.col(col).isNotNull())
        .select(F.col(col), F.expr(h1).alias("_h1"), F.expr(h2).alias("_h2"))
        .select(col, F.explode(F.expr(
            f"transform(sequence(0, {depth - 1}), "
            f"j -> named_struct('row_j', j, 'pos', (_h1 + j * _h2) % {width}))"
        )).alias("c"))
        .select(col, F.col("c.row_j").alias("row_j"), F.col("c.pos").alias("pos"))
    )
    return (
        pos.join(F.broadcast(counters), ["row_j", "pos"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("n_est"))
    )


def cms_token_counts(df: DataFrame, text_col: str = "text",
                     min_count: int = 100,
                     width: int = CMS_WIDTH, depth: int = CMS_DEPTH
                     ) -> DataFrame:
    """(token, n_exact, n_est): CMS estimates for every token whose EXACT
    corpus frequency ≥ ``min_count``, next to the exact count — the
    validation form (mirrors ``approx_distinct_hll``'s ``with_exact``).
    Production at >10⁹ tokens drops the exact branch and probes a fixed
    candidate list (the exact branch IS the shuffle the sketch avoids).
    Guarantee surfaced: n_est ≥ n_exact always.
    """
    from flink_sql_security_spark.operators.skew import spread_partitions

    # both the counters and the exact branch read the token stream —
    # lazy persist() runs the tokenize/explode once (the super-stage
    # rule). Spread a too-coarse input FIRST: a single-row-group scan
    # caches as ONE partition, serializing the tokenize (measured:
    # three concurrent 1-task first-reader stages at ~1.7 s each racing
    # to fill the cache at sf0.1); token counts are partitioning-
    # invariant, and the spread is a no-op on corpus-sized scans.
    words = spread_partitions(df.select(text_col)) \
        .select(F.explode(F.expr(
            f"split(lower(trim({text_col})), '\\\\s+')")).alias("token")) \
        .persist()
    counters = cms_counters(words, "token", width, depth)
    exact = (
        words.groupBy("token").agg(F.count("*").alias("n_exact"))
        .where(F.col("n_exact") >= min_count)
    )
    est = cms_estimate(counters, exact.select("token"), "token", width, depth)
    return attach(
        exact.join(est, "token").select("token", "n_exact", "n_est"), words)


# ---------------------------------------------------------------------------
# Histogram quantile sketch (deterministic, mergeable)
# ---------------------------------------------------------------------------
# The quantile path at >10⁹ distinct values: exact percentile holds the
# per-column value histogram in memory (profile_quantiles), and Spark's
# approx_percentile (t-digest) is engine-private — not oracle-checkable.
# A fixed-grid histogram is both: bounds come from one min/max agg
# (broadcast — the zorder pattern), counts are ONE map-combined exchange
# of ≤ n_bins rows per column, merge is binwise sum, and the quantile
# estimate interpolates inside the covering bin. Deterministic integer
# arithmetic + one final division → bit-identical in DuckDB. Error is
# bounded by the bin width (range/n_bins), the classic equi-width
# histogram trade-off; n_bins is the state/accuracy knob.

HIST_BINS = 256


def histogram_counts(df: DataFrame, col: str,
                     n_bins: int = HIST_BINS) -> DataFrame:
    """(bin, cnt, lo, hi): equi-width histogram of ``col`` over its own
    min/max range. The sketch state — merge shards with binwise sum
    (same grid ⇔ same lo/hi; pin bounds upstream for cross-shard merges).
    Values are DECIMAL(18,2)-normalized first (the profile_quantiles
    rule) so the grid arithmetic is identical in every engine."""
    v = f"CAST(CAST({col} AS DECIMAL(18,2)) AS DOUBLE)"
    bounds = df.agg(
        F.expr(f"min({v})").alias("lo"), F.expr(f"max({v})").alias("hi"))
    binned = (
        df.where(F.col(col).isNotNull())
        .crossJoin(F.broadcast(bounds))
        .select(F.expr(
            f"CASE WHEN hi = lo THEN 0 ELSE least(CAST(floor("
            f"({v} - lo) * {n_bins} / (hi - lo)) AS BIGINT), {n_bins - 1}) "
            f"END").alias("bin"), "lo", "hi")
    )
    return (binned.groupBy("bin", "lo", "hi")
            .agg(F.count("*").alias("cnt")))


def histogram_quantiles(df: DataFrame, col: str, ps: tuple = (0.25, 0.5, 0.75, 0.95),
                        n_bins: int = HIST_BINS,
                        with_exact: bool = False) -> DataFrame:
    """(p, q_est[, q_exact]): quantile estimates from the histogram sketch.

    For target rank r = p·N, find the first bin whose cumulative count
    reaches r and interpolate inside it by rank fraction:
    q = lo + (bin + (r - cum_before)/cnt) · width. The cumulative walk
    runs over ≤ n_bins rows (driver-scale window input), never the data.
    """
    hist = histogram_counts(df, col, n_bins).persist()
    from pyspark.sql import Window
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    tot = Window.rowsBetween(Window.unboundedPreceding,
                             Window.unboundedFollowing)
    cum = (hist
           .withColumn("cum_before", F.coalesce(F.sum("cnt").over(w), F.lit(0)))
           .withColumn("n", F.sum("cnt").over(tot)))
    ests = None
    for p in ps:
        # covering bin: first with cum_before + cnt >= ceil(p*n), min() picks it
        e = (cum
             .withColumn("r", F.expr(f"CAST(ceil({p} * n) AS BIGINT)"))
             .where(F.expr("cum_before + cnt >= r"))
             .groupBy()
             .agg(F.min(F.struct("bin", "cum_before", "cnt", "lo", "hi", "r",
                                 "n")).alias("s"))
             .select(
                 F.lit(p).alias("p"),
                 F.expr(_floor_round(
                     f"s.lo + (CAST(s.bin AS DOUBLE) + "
                     f"CAST(s.r - s.cum_before AS DOUBLE) / CAST(s.cnt AS DOUBLE))"
                     f" * (s.hi - s.lo) / {n_bins}", 6))
                 .alias("q_est")))
        ests = e if ests is None else ests.unionByName(e)
    if not with_exact:
        return attach(ests, hist)
    v = f"CAST(CAST({col} AS DECIMAL(18,2)) AS DOUBLE)"
    plist = ", ".join(str(p) for p in ps)
    exact = df.agg(F.expr(f"percentile({v}, array({plist}))").alias("_qs"))
    ex = None
    for i, p in enumerate(ps):
        e = exact.select(F.lit(p).alias("p"),
                         _floor_round_col(F.col("_qs").getItem(i), 6)
                         .alias("q_exact"))
        ex = e if ex is None else ex.unionByName(e)
    return attach(ests.join(ex, "p"), hist)


def grouped_hll_registers(df: DataFrame, key_col: str,
                          val_col: str) -> DataFrame:
    """(key, bucket, rho): per-key mergeable HLL registers — the sketch
    state of :func:`grouped_distinct_hll`, exposed separately because
    the groupBy(key, bucket).max is ALSO a valid streaming stateful
    aggregation (update mode, state ≤ m rows per key)."""
    h = "CAST(conv(substring(md5(val), 1, 15), 16, 10) AS BIGINT)"
    return (
        df.select(F.col(key_col).alias("key"),
                  F.expr(f"CAST({val_col} AS STRING)").alias("val"))
        .where(F.col("val").isNotNull() & F.col("key").isNotNull())
        .select(
            "key",
            F.expr(f"{h} % {HLL_M}").alias("bucket"),
            F.expr(
                f"CASE WHEN ({h} >= {HLL_M} AND shiftright({h}, {HLL_P}) > 0) "
                f"THEN {RHO_MAX} - length(bin(shiftright({h}, {HLL_P}))) "
                f"ELSE {RHO_MAX} END").alias("rho"),
        )
        .groupBy("key", "bucket").agg(F.max("rho").alias("rho"))
    )


def grouped_distinct_hll(df: DataFrame, key_col: str, val_col: str,
                         with_exact: bool = True) -> DataFrame:
    """(key, n_est[, n_exact, rel_err]) — HLL distinct-``val_col``
    estimate PER KEY (distinct users per domain, distinct docs per
    source — the grouped cardinality profile).

    Same mergeable-register machinery as :func:`approx_distinct_hll`
    keyed by ``key_col``: registers shuffle once on (key, bucket) with
    map-side max-combine (≤ m rows per key per task), so a skewed key
    costs m register rows, never its raw distinct set — the property
    that makes per-key cardinality computable at 100 TB where
    count(DISTINCT) per key shuffles the raw pairs.
    """
    c_lit = repr(alpha_m(HLL_M) * HLL_M * HLL_M * float(1 << RHO_MAX))
    est_raw = f"{c_lit} / CAST(s AS DOUBLE)"
    est = (
        f"CASE WHEN {est_raw} <= {2.5 * HLL_M} AND ({HLL_M} - present) > 0 "
        f"THEN {float(HLL_M)} * ln({float(HLL_M)} / ({HLL_M} - present)) "
        f"ELSE {est_raw} END"
    )
    regs = grouped_hll_registers(df, key_col, val_col)
    sketch = (
        regs.groupBy("key").agg(
            F.expr(f"sum(shiftleft(CAST(1 AS BIGINT), {RHO_MAX} - rho))")
            .alias("s0"),
            F.count("*").alias("present"))
        .select(
            "key", "present",
            F.expr(
                f"s0 + ({HLL_M} - present) * "
                f"shiftleft(CAST(1 AS BIGINT), {RHO_MAX})").alias("s"))
        .select("key",
                # floor(x+0.5), not round(x): functions/text.py rule
                F.expr(f"CAST(floor(({est}) + 0.5) AS BIGINT)")
                .alias("n_est"))
    )
    if not with_exact:
        return sketch
    exact = (
        df.select(F.col(key_col).alias("key"),
                  F.expr(f"CAST({val_col} AS STRING)").alias("val"))
        .where(F.col("val").isNotNull() & F.col("key").isNotNull())
        .groupBy("key").agg(F.count_distinct("val").alias("n_exact"))
    )
    joined = sketch.join(exact, "key")
    rel = (F.col("n_est").cast("double") - F.col("n_exact").cast("double")) \
        / F.col("n_exact").cast("double")
    from flink_sql_security_spark.functions.text import floor_round_col
    return joined.select("key", "n_est", "n_exact",
                         floor_round_col(rel, 4).alias("rel_err"))
