"""Privacy guards beyond the reference's row-filter/mask pair:
k-anonymity suppression and the anonymity audit report.

The reference's surface controls WHO sees WHICH rows/columns
(row-level security, column masking). Release-time privacy needs the
third classic primitive: a released dataset is k-ANONYMOUS over its
quasi-identifier columns (Sweeney 2002) when every combination of
quasi-identifier values — every *equivalence class* — contains at
least k rows, so no released row narrows an individual below a crowd
of k. l-DIVERSITY (Machanavelli et al. 2007) additionally requires
each class to carry ≥ l distinct sensitive values, closing the
homogeneity attack k-anonymity alone allows (a class of k rows that
all share one diagnosis still leaks it).

Spark-first shape: ONE groupBy over the quasi-identifier columns
computes class sizes (and distinct-sensitive counts); suppression is
a broadcast-friendly join back on the class key (AQE picks broadcast
for the class table — |classes| ≤ |rows| and usually ≪). Nothing
Python, nothing quadratic; integer counts end to end → strict oracle.
At 100 TB the class table is the only reused artifact — compute it
once per release, audit and suppress from the same frame.

Composes with the reference surface: run `k_anonymize` AFTER the
row-filter/mask rewrite (the entry corpus does) so the released set
is simultaneously policy-filtered, masked, and k-anonymous.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: portable type names for ("suppress", <type>): spark_sql, duckdb
SUPPRESS_TYPES = {
    "string": ("STRING", "VARCHAR"),
    "int": ("INT", "INTEGER"),
    "bigint": ("BIGINT", "BIGINT"),
    "double": ("DOUBLE", "DOUBLE"),
    "date": ("DATE", "DATE"),
    "timestamp": ("TIMESTAMP", "TIMESTAMP"),
}


def check_cols(quasi_cols) -> list[str]:
    quasi_cols = list(quasi_cols)
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    if len(set(quasi_cols)) != len(quasi_cols):
        raise ValueError(f"duplicate quasi_cols: {quasi_cols!r}")
    return quasi_cols


def k_anonymize(df: DataFrame, quasi_cols, k: int,
                sensitive_col: str | None = None,
                l: int | None = None) -> DataFrame:
    """Rows whose quasi-identifier equivalence class has ≥ k members
    (and, when ``sensitive_col``/``l`` are given, ≥ l distinct
    sensitive values) — the standard suppression release: classes too
    small (or too homogeneous) to hide in are dropped entirely.

    NULL quasi-identifier values form their own class per column (the
    groupBy convention on both engines), so "unknown" is a crowd too.
    Output keeps the input schema and row content untouched — this is
    a row gate, not a transform; pair with the mask library when the
    release also needs generalization.
    """
    quasi_cols = check_cols(quasi_cols)
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    if (sensitive_col is None) != (l is None):
        raise ValueError("sensitive_col and l must be given together")
    aggs = [F.count("*").alias("_class_n")]
    if sensitive_col is not None:
        if l < 1:
            raise ValueError(f"l must be >= 1: {l}")
        aggs.append(F.countDistinct(sensitive_col).alias("_class_l"))
    classes = df.groupBy(*quasi_cols).agg(*aggs)
    keep = classes.where(F.col("_class_n") >= k)
    if sensitive_col is not None:
        keep = keep.where(F.col("_class_l") >= l)
    cols = df.columns
    # null-safe join on every quasi column: NULL classes must match
    # themselves (a plain equi-join would drop them unseen)
    out = df.alias("r").join(
        keep.alias("c"),
        [F.col(f"r.{q}").eqNullSafe(F.col(f"c.{q}"))
         for q in quasi_cols])
    return out.select(*[F.col(f"r.{c}") for c in cols])


def check_gen_spec(spec: dict) -> dict:
    for col, g in spec.items():
        if not isinstance(g, tuple) or not g:
            raise ValueError(f"generalizer for {col!r} must be a "
                             f"non-empty tuple: {g!r}")
        kind = g[0]
        if kind == "bucket":
            if len(g) != 2 or not float(g[1]) > 0:
                raise ValueError(f"('bucket', width>0) expected: {g!r}")
        elif kind in ("prefix", "mask_show_first"):
            if len(g) != 2 or int(g[1]) < 1:
                raise ValueError(f"('{kind}', n>=1) expected: {g!r}")
        elif kind == "year":
            if len(g) != 1:
                raise ValueError(f"('year',) expected: {g!r}")
        elif kind == "suppress":
            if len(g) != 2 or g[1] not in SUPPRESS_TYPES:
                raise ValueError(
                    f"('suppress', one of {tuple(SUPPRESS_TYPES)}) "
                    f"expected: {g!r}")
        else:
            raise ValueError(f"unknown generalizer kind: {g!r}")
    return spec


def _gen_column(col: str, g: tuple) -> Column:
    """Spark Column for one generalizer rung step. Shared-SQL kinds go
    through F.expr with the EXACT string :func:`generalizer_sql` emits (the
    two dialects agree on floor/substring/year), so parity is by
    construction; the mask kind reuses the mask library's proven
    Spark/DuckDB pair (SURVEY §2.9 — generalization via masking)."""
    kind = g[0]
    if kind == "mask_show_first":
        from ..functions.masks import instantiate_transformer
        return F.expr(instantiate_transformer(
            f"mask_show_first_n({{col}}, {int(g[1])}, 'x', 'x', 'x')",
            col).sql())
    if kind == "suppress":
        return F.expr(f"CAST(NULL AS {SUPPRESS_TYPES[g[1]][0]})")
    return F.expr(generalizer_sql(col, g))


def generalizer_sql(col: str, g: tuple) -> str:
    """SQL for one bucket/prefix/year rung step, valid on both engines
    (the Spark column and the DuckDB oracle share this text)."""
    kind = g[0]
    if kind == "bucket":
        w = float(g[1])
        w_lit = int(g[1]) if float(g[1]).is_integer() else w
        return (f"CAST(floor(CAST({col} AS DOUBLE) / {w_lit}) "
                f"* {w_lit} AS DOUBLE)")
    if kind == "prefix":
        return f"substring({col}, 1, {int(g[1])})"
    if kind == "year":
        return f"CAST(year({col}) AS INTEGER)"
    raise ValueError(f"unknown generalizer kind: {g!r}")


def generalize(df: DataFrame, spec: dict) -> DataFrame:
    """Global recoding: replace each column in ``spec`` with a coarser
    value IN PLACE (same name, same column order) — the k-anonymity
    move suppression alone can't make (Sweeney 2002 §3; Samarati
    2001's generalization lattice). A rung spec maps column →
    generalizer tuple:

    - ``("bucket", width)`` — numeric → ``floor(x/width)·width``
      (age → decade, balance → band), as DOUBLE on both engines;
    - ``("prefix", n)`` — string → first n chars (zip → region);
    - ``("year",)`` — date/timestamp → calendar year as INT;
    - ``("mask_show_first", n)`` — the mask library's
      MASK_SHOW_FIRST_N (SURVEY §2.9) as a generalizer: keep n chars,
      x-out the rest — same value-coarsening as prefix but
      length-preserving, and the release stays mask-composable;
    - ``("suppress", type)`` — the lattice top: typed NULL.

    Pure projection — no shuffle, no UDF; Catalyst folds it into the
    scan. Compose as ``k_anonymize(generalize(df, spec), quasi, k)``:
    generalize first, then gate classes (the entry corpus does)."""
    spec = check_gen_spec(dict(spec))
    missing = [c for c in spec if c not in df.columns]
    if missing:
        raise ValueError(f"spec columns not in DataFrame: {missing}")
    return df.select(*[
        _gen_column(c, spec[c]).alias(c) if c in spec else F.col(c)
        for c in df.columns])


def generalization_report(df: DataFrame, quasi_cols, ladder, k: int,
                          sensitive_col: str | None = None,
                          l: int | None = None) -> DataFrame:
    """The suppression/utility tradeoff table for a generalization
    ladder: one row per rung — (level, rung, n_classes, k_effective,
    l_effective, rows_kept, kept_pct) where ``rows_kept`` counts the
    rows a k-anonymity (and optional l-diversity) suppression release
    WOULD keep after applying that rung's generalization. The data-
    release review readout: walk the ladder until kept_pct clears the
    utility bar, instead of discovering post-hoc that suppression
    alone dropped the dataset.

    Scale: the quasi(+sensitive) projection is persisted ONCE (the
    funnel_summary lesson — without it every rung replays the scan);
    each rung is one groupBy over that cache reduced to a single row,
    so the whole report is |ladder| class-aggregates over |quasi|-wide
    rows, never a second pass over the full table. Integer counts +
    one guarded floor-rounded percentage per rung → strict oracle.
    """
    from .cache import attach
    from ..functions.text import floor_round_col

    quasi_cols = check_cols(quasi_cols)
    ladder = list(ladder)
    if not ladder:
        raise ValueError("ladder must be non-empty")
    if len({name for name, _ in ladder}) != len(ladder):
        raise ValueError(f"duplicate rung names: {[n for n, _ in ladder]}")
    for name, _ in ladder:
        # rung names embed as SQL string literals in the oracle emitter
        if (not isinstance(name, str) or "'" in name or "\\" in name
                or ";" in name):
            raise ValueError(f"invalid rung name: {name!r}")
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    if (sensitive_col is None) != (l is None):
        raise ValueError("sensitive_col and l must be given together")
    for name, spec in ladder:
        extra = [c for c in spec if c not in quasi_cols]
        if extra:
            raise ValueError(
                f"rung {name!r} generalizes non-quasi columns: {extra}")
    keep_cols = quasi_cols + ([sensitive_col] if sensitive_col else [])
    base = df.select(*keep_cols).persist()
    out = None
    for level, (name, spec) in enumerate(ladder):
        g = generalize(base, spec)
        aggs = [F.count("*").alias("_n")]
        if sensitive_col is not None:
            aggs.append(F.countDistinct(sensitive_col).alias("_l"))
        classes = g.groupBy(*quasi_cols).agg(*aggs)
        kept_gate = F.col("_n") >= k
        if sensitive_col is not None:
            kept_gate = kept_gate & (F.col("_l") >= l)
        l_eff = (F.min("_l").cast("bigint") if sensitive_col is not None
                 else F.lit(None).cast("bigint"))
        rows_kept = F.coalesce(
            F.sum(F.when(kept_gate, F.col("_n")).otherwise(F.lit(0))),
            F.lit(0)).cast("bigint")
        total = F.sum("_n").cast("bigint")
        row = classes.agg(
            F.lit(level).alias("level"),
            F.lit(name).alias("rung"),
            F.count("*").alias("n_classes"),
            F.min("_n").cast("bigint").alias("k_effective"),
            l_eff.alias("l_effective"),
            rows_kept.alias("rows_kept"),
            F.when(total > 0, floor_round_col(
                rows_kept.cast("double") * F.lit(100.0)
                / total.cast("double"))).alias("kept_pct"))
        out = row if out is None else out.unionAll(row)
    return attach(out, base)


def t_closeness_report(df: DataFrame, quasi_cols,
                       sensitive_col: str) -> DataFrame:
    """Per-class t-closeness audit (Li/Li/Venkatasubramanian 2007):
    one row per quasi-identifier equivalence class with its size and
    the TOTAL VARIATION DISTANCE between the class's sensitive-value
    distribution and the table-wide one — the third rung of the
    classic privacy ladder after k-anonymity (class size) and
    l-diversity (class variety): a class can be large AND diverse yet
    still leak when its sensitive mix differs sharply from the
    population's (the skewness attack). A release satisfies
    t-closeness for every t ≥ max(tvd).

    Determinism (the decimal-exact Pearson recipe): TVD over a
    categorical sensitive attribute is

        tvd_c = 1/2 · [ Σ_{v∈class} |n_cv/n_c − n_v/N|  +  Σ_{v∉class} n_v/N ]
              = ( Σ_{v∈class} |n_cv·N − n_v·n_c|  +  n_c·N − n_c·Σ_{v∈class} n_v )
                / (2·n_c·N)

    — the absent-value mass folded in via 1 − Σ p_v, so the plan only
    touches (class, value) pairs that EXIST (never a class × value
    cross join). Numerator and denominator are exact integers
    (DECIMAL(38,0) products — BIGINT would overflow past ~10^9-row
    classes at 100 TB); one guarded double division per class, floor-
    rounded → strict oracle. Shape: one groupBy(quasi+sensitive), two
    broadcastable side aggregates (global value counts, 1-row total),
    one groupBy(quasi) — no shuffle wider than the class-value table.
    """
    from pyspark.sql.window import Window

    from ..functions.text import floor_round_col

    quasi_cols = check_cols(quasi_cols)
    if sensitive_col in quasi_cols:
        raise ValueError(
            f"sensitive_col {sensitive_col!r} overlaps quasi_cols")
    dec = "decimal(19,0)"
    cv = (df.groupBy(*quasi_cols, sensitive_col)
          .agg(F.count("*").cast(dec).alias("_n_cv")))
    # global per-value counts and the 1-row table total: both tiny
    # (|distinct sensitive| rows / 1 row) → broadcast joins, and both
    # are second aggregations over frames no wider than cv
    v = (df.groupBy(sensitive_col)
         .agg(F.count("*").cast(dec).alias("_n_v")))
    total = df.agg(F.count("*").cast(dec).alias("_N"))
    w = Window.partitionBy(*quasi_cols)
    # null-safe on the sensitive value: NULL is its own category (the
    # k_anonymize convention) — an equi-join would silently drop the
    # NULL-sensitive mass from every class while N still counts it
    joined = (cv.alias("cv")
              .join(F.broadcast(v).alias("v"),
                    F.col(f"cv.{sensitive_col}")
                    .eqNullSafe(F.col(f"v.{sensitive_col}")))
              .select("cv.*", "v._n_v")
              .crossJoin(F.broadcast(total))
              .withColumn("_n_c", F.sum("_n_cv").over(w)))
    # the window exchange hash-partitions by quasi, so the groupBy
    # below reuses it — one wide exchange total beyond the cv agg
    per_class = (
        joined.groupBy(*quasi_cols)
        .agg(F.min("_n_c").alias("_n_c"),
             F.min("_N").alias("_N"),
             F.sum(F.abs(F.col("_n_cv") * F.col("_N")
                         - F.col("_n_v") * F.col("_n_c"))).alias("_s1"),
             F.sum("_n_v").alias("_s2")))
    num = (F.col("_s1") + F.col("_n_c") * F.col("_N")
           - F.col("_n_c") * F.col("_s2"))
    den = F.lit(2).cast("decimal(19,0)") * F.col("_n_c") * F.col("_N")
    return per_class.select(
        *quasi_cols,
        F.col("_n_c").cast("bigint").alias("class_n"),
        floor_round_col(num.cast("double") / den.cast("double"))
        .alias("tvd"))


def t_close_release(df: DataFrame, quasi_cols, sensitive_col: str,
                    t: float) -> DataFrame:
    """Suppression release under t-closeness: rows whose class TVD
    (see :func:`t_closeness_report`) is ≤ t. Same null-safe
    broadcastable join-back shape as :func:`k_anonymize`; compose the
    three gates as k_anonymize(...) ∘ t_close_release(...) when a
    release needs all of them (each is a row gate, so order is free).
    """
    if not 0.0 <= float(t) <= 1.0:
        raise ValueError(f"t must be in [0, 1]: {t}")
    quasi_cols = check_cols(quasi_cols)
    keep = (t_closeness_report(df, quasi_cols, sensitive_col)
            .where(F.col("tvd") <= float(t)))
    cols = df.columns
    out = df.alias("r").join(
        keep.alias("c"),
        [F.col(f"r.{q}").eqNullSafe(F.col(f"c.{q}"))
         for q in quasi_cols])
    return out.select(*[F.col(f"r.{c}") for c in cols])


def anonymity_report(df: DataFrame, quasi_cols,
                     sensitive_col: str | None = None) -> DataFrame:
    """One-row release audit: (n_rows, n_classes, k_effective,
    l_effective, singleton_classes, singleton_rows_pct) — the numbers
    a data-release review actually asks for. ``k_effective`` = the
    SMALLEST equivalence class (the dataset is k-anonymous for every
    k ≤ k_effective); ``l_effective`` = the smallest per-class
    distinct-sensitive count (NULL when no ``sensitive_col``);
    singleton classes are the immediately re-identifiable rows.
    Integer counts + one floor-rounded percentage → strict oracle.
    Two aggregations total (per-class, then global) on one exchange
    chain."""
    from ..functions.text import floor_round_col

    quasi_cols = check_cols(quasi_cols)
    aggs = [F.count("*").alias("_n")]
    if sensitive_col is not None:
        aggs.append(F.countDistinct(sensitive_col).alias("_l"))
    classes = df.groupBy(*quasi_cols).agg(*aggs)
    l_eff = (F.min("_l").cast("bigint") if sensitive_col is not None
             else F.lit(None).cast("bigint"))
    return classes.agg(
        F.sum("_n").cast("bigint").alias("n_rows"),
        F.count("*").alias("n_classes"),
        F.min("_n").cast("bigint").alias("k_effective"),
        l_eff.alias("l_effective"),
        F.sum((F.col("_n") == 1).cast("bigint"))
        .alias("singleton_classes"),
        floor_round_col(
            F.sum(F.when(F.col("_n") == 1, F.col("_n"))
                  .otherwise(F.lit(0))).cast("double") * 100.0
            / F.sum("_n").cast("double")).alias("singleton_rows_pct"))


# -- differential privacy (seeded release) ----------------------------------
#
# The fourth rung of the release ladder: k-anonymity / l-diversity /
# t-closeness constrain WHAT leaves; the Laplace mechanism (Dwork,
# McSherry, Nissim, Smith 2006) perturbs the AGGREGATES so that no
# single row's presence is inferable — count queries with sensitivity
# 1 get Laplace(1/ε) noise, clipped sums get Laplace(clip/ε).
#
# REPRODUCIBLE noise: the uniform draw per group is the md5 bucket of
# (group key, seed) folded into [0, 10000) — the sampling family's
# deterministic-bucket recipe (sampling.py:_bucket_expr) — pushed
# through the Laplace inverse CDF. Given the seed, the release is
# bit-reproducible (re-runs, audits, engine twins — and the strict
# DuckDB oracle). The trade-off is explicit: an adversary who KNOWS
# the seed can subtract the noise, so treat the seed like a key —
# generate it per release from a CSPRNG, store it with the release
# audit record, and never reuse it across releases (reuse correlates
# noise, degrading the ε accounting). The mechanism's ε-DP analysis
# is standard once the draw is uniform; the 1/10000 quantization of u
# is the same resolution the package's hash-split machinery releases
# training data at.
#
# Float parity: ln() on identical doubles is the lm_score/tf·idf
# precedent (functions/text.py) — both engines evaluate the same IEEE
# input, outputs floor-rounded to 6 decimals. Sums are quantized to
# integer micro-units before summing (the PageRank recipe) so the
# noiseless part is partition-order-exact.
#
# Noise-key typing: the uniform draw hashes CAST(group col AS STRING),
# so group key columns should be types whose string casts are
# canonical on every engine — strings, ints, bigints, dates. Raw
# DOUBLE group keys risk repr drift between engines (bucket them
# first, e.g. with generalize()'s ('bucket', w)); the released
# AGGREGATE may of course be any numeric.

DP_BUCKETS = 10_000
#: NULL group values hash as this sentinel (concat_ws drops NULLs,
#: which would collide ('a', NULL) with (NULL, 'a'))
DP_NULL = "<NULL>"


def laplace_noise_sql(bucket: str, scale: float) -> str:
    """The Laplace draw by inverse CDF from a [0, DP_BUCKETS) bucket
    expression. The (group key, seed) string goes through the sampling
    family's shared deterministic bucket (sampling.py::bucket_of_key_sql
    — the single definition of the md5→hex8→BIGINT→%N fold); every
    double literal and IEEE op here is shared with the DuckDB oracle,
    so parity is by construction."""
    u = f"((CAST({bucket} AS DOUBLE) + 0.5) / {float(DP_BUCKETS)!r})"
    b = repr(float(scale))
    return (f"(CASE WHEN {u} < 0.5 THEN {b} * ln(2.0 * {u}) "
            f"ELSE -{b} * ln(2.0 * (1.0 - {u})) END)")


def _dp_noise_spark(group_cols, seed: str, scale: float) -> Column:
    from .sampling import bucket_of_key_sql

    cols = ", ".join(
        f"coalesce(CAST({c} AS STRING), '{DP_NULL}')" for c in group_cols)
    key = f"concat_ws('|', {cols}, ':{seed}')"
    return F.expr(laplace_noise_sql(bucket_of_key_sql(key, DP_BUCKETS),
                                    scale))


def dp_check(group_cols, epsilon: float, seed: str):
    group_cols = check_cols(group_cols)
    if not float(epsilon) > 0:
        raise ValueError(f"epsilon must be > 0: {epsilon}")
    if (not isinstance(seed, str) or not seed
            or any(ch in seed for ch in ("'", "\\", ";", "|"))):
        raise ValueError(f"seed must be a non-empty string without "
                         f"quotes/backslashes/semicolons/pipes: {seed!r}")
    return group_cols


def dp_count(df: DataFrame, group_cols, *, epsilon: float, seed: str,
             threshold: float | None = None) -> DataFrame:
    """Per-group ε-DP noisy counts: (group…, n_noisy) with
    Laplace(1/ε) noise (count sensitivity 1), floor-rounded at 6
    decimals. ``threshold`` optionally suppresses groups whose NOISY
    count falls below it — the standard thresholding companion that
    keeps tiny (possibly singleton-revealing) groups out of the
    release without consulting the true count.

    ONE groupBy then per-row noise arithmetic — no second exchange;
    at 100 TB the released table is |groups| rows.
    """
    group_cols = dp_check(group_cols, epsilon, seed)
    from ..functions.text import floor_round_col

    noise = _dp_noise_spark(group_cols, seed, 1.0 / float(epsilon))
    out = (df.groupBy(*group_cols)
           .agg(F.count("*").alias("_n"))
           .select(*group_cols,
                   floor_round_col(F.col("_n").cast("double") + noise)
                   .alias("n_noisy")))
    if threshold is not None:
        out = out.where(F.col("n_noisy") >= float(threshold))
    return out


def dp_sum(df: DataFrame, group_cols, value_col: str, *, clip: float,
           epsilon: float, seed: str) -> DataFrame:
    """Per-group ε-DP noisy sums: each value is clipped to [0, clip]
    (bounding one row's influence, so sensitivity = clip), summed in
    integer micro-units (exact on any partitioning — the PageRank
    quantization), then Laplace(clip/ε) noise lands on the total.
    Output (group…, sum_noisy) floor-rounded at 6 decimals. NULL
    values clip to 0 (they contribute nothing, matching SQL sum)."""
    group_cols = dp_check(group_cols, epsilon, seed)
    if not float(clip) > 0:
        raise ValueError(f"clip must be > 0: {clip}")
    from ..functions.text import floor_round_col

    clipped = F.least(F.greatest(F.coalesce(
        F.col(value_col).cast("double"), F.lit(0.0)), F.lit(0.0)),
        F.lit(float(clip)))
    q = F.floor(clipped * F.lit(1.0e6) + F.lit(0.5)).cast("bigint")
    noise = _dp_noise_spark(group_cols, seed,
                            float(clip) / float(epsilon))
    return (df.groupBy(*group_cols)
            .agg(F.sum(q).alias("_qs"))
            .select(*group_cols,
                    floor_round_col(
                        F.col("_qs").cast("double") / F.lit(1.0e6)
                        + noise).alias("sum_noisy")))
