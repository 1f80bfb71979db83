"""Deterministic sampling / splitting operators for training-data pipelines.

Beyond-reference scope (driver brief: "operations a large-scale
training-data pipeline would need").  Everything here is *content-hash
deterministic*: the assignment of a row depends only on its id, never on
partitioning, task order, or cluster size — so a 100 TB re-run on a
different cluster layout reproduces the same split bit-for-bit, and an
oracle engine (DuckDB) can recompute it exactly.

Scale notes
-----------
- ``hash_split`` / ``stratified_hash_sample`` are narrow maps: no
  shuffle, no state, trivially parallel at any scale.
- ``per_key_quota`` is the one-shuffle ``row_number`` idiom; Spark's
  WindowGroupLimit pushes the top-n map-side, so the exchange carries at
  most ``n`` rows per key per input partition.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_sql_security_spark.operators.cache import attach

__all__ = ["hash_split", "stratified_hash_sample", "per_key_quota",
           "cross_split_contamination", "shard_shuffle",
           "token_budget_sample", "weighted_sample", "epoch_upsample",
           "rank_buckets", "temperature_mix"]

# 32-bit hash prefix folded into 10k buckets: plenty of resolution for
# split fractions expressed in 0.01% steps, and exact integer arithmetic
# in every engine (no float thresholds to drift).
BUCKETS = 10_000


def bucket_of_key_sql(key_sql: str, buckets: int = BUCKETS) -> str:
    """THE deterministic-bucket recipe, parameterized on an arbitrary
    key expression: md5 → first 8 hex digits → BIGINT → % buckets.
    One definition so a change to the fold (hex width, bucket count,
    hash) lands in one place — the sampling family's id+salt forms
    below and the privacy tier's DP noise draw (privacy.py) all
    delegate here; ``oracles.sampling.bucket_of_key_sql`` is its DuckDB
    twin. ``key_sql`` must already be a string-typed SQL expression."""
    return (f"CAST(conv(substring(md5({key_sql}), 1, 8), 16, 10) "
            f"AS BIGINT) % {buckets}")


def _bucket_expr(id_col: str, salt: str) -> str:
    """Spark SQL for the deterministic [0, 10000) bucket of a row id."""
    return bucket_of_key_sql(
        f"concat(CAST({id_col} AS STRING), ':{salt}')")


def hash_split(df: DataFrame, id_col: str = "doc_id",
               weights: tuple[float, ...] = (0.8, 0.1, 0.1),
               names: tuple[str, ...] = ("train", "val", "test"),
               salt: str = "split") -> DataFrame:
    """Assign each row to a named split, deterministically by id hash.

    Returns the input columns plus ``bucket`` (0..9999) and ``split``.
    The reference has no sampling surface (its corpus is 18 fixture rows,
    ``data/database/mysql_init.sql:1-29``); this is the standard
    train/val/test split of a data pipeline, keyed on content id so the
    assignment survives re-partitioning and incremental re-runs.
    """
    if len(weights) != len(names):
        raise ValueError("weights and names must align")
    total = sum(weights)
    cuts, acc = [], 0.0
    for w in weights[:-1]:
        acc += w
        # native-round-ok: driver-side Python, same integer literal
        # embedded into BOTH engines' plans
        cuts.append(int(round(BUCKETS * acc / total)))  # native-round-ok
    bucket = F.expr(_bucket_expr(id_col, salt))
    case = F.when(bucket < cuts[0], F.lit(names[0]))
    for i in range(1, len(cuts)):
        case = case.when(bucket < cuts[i], F.lit(names[i]))
    case = case.otherwise(F.lit(names[-1]))
    return df.withColumn("bucket", bucket).withColumn("split", case)


def stratified_hash_sample(df: DataFrame, fraction: float,
                           id_col: str = "doc_id",
                           salt: str = "sample") -> DataFrame:
    """Keep a deterministic ``fraction`` of rows: bucket < fraction*10000.

    Unlike ``df.sample`` this is reproducible across runs, partitionings
    and engines — the property a training-data pipeline needs so that a
    resumed 100 TB job keeps exactly the rows the first attempt kept.
    """
    # native-round-ok: driver-side Python, same literal both engines
    cut = int(round(BUCKETS * fraction))  # native-round-ok
    return df.where(F.expr(_bucket_expr(id_col, salt)) < cut)


def per_key_quota(df: DataFrame, key_col: str, id_col: str = "doc_id",
                  n: int = 10, salt: str = "quota") -> DataFrame:
    """Cap rows per key at ``n``, picking a deterministic pseudo-random
    subset (ordered by md5(id) so the quota is unbiased w.r.t. insertion
    order, with id as total-order tiebreak).

    The per-domain / per-source quota of corpus curation.  Physical
    shape: ONE hash exchange on ``key_col``; WindowGroupLimit keeps only
    the running top-n on the map side before the shuffle.
    """
    pref = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))
    w = Window.partitionBy(key_col).orderBy(pref.asc(), F.col(id_col).asc())
    return (df.withColumn("rn", F.row_number().over(w))
              .where(F.col("rn") <= n)
              .drop("rn"))


def shard_shuffle(df: DataFrame, n_shards: int = 8,
                  id_col: str = "doc_id",
                  salt: str = "shuffle") -> DataFrame:
    """(id, shard, pos): deterministic global shuffle of the corpus into
    ``n_shards`` ordered shards — the "shuffle your training data" step,
    reproducible across clusters and re-runs.

    shard = 60-bit md5(id:salt) mod n_shards, pos = rank of that hash
    within the shard (id as total-order tiebreak against the
    astronomically-rare prefix collision). Reading shards in pos order
    visits the corpus in content-hash order — uniform pseudo-random,
    independent of ingestion order, partitioning, and cluster size, so a
    resumed or re-provisioned run trains on the identical sequence.

    Physical shape: ONE hash exchange on ``shard``. Each shard's
    row_number runs in a single task, so size shards to what one task
    holds — which is exactly how training shards are sized anyway (one
    output file each, a few GB; 100 TB → tens of thousands of shards,
    far beyond any executor count). Writing is then
    ``partitionBy(shard)`` + ``sortWithinPartitions(pos)``; for
    pathological giant shards the two-phase prefix-sum of
    ``operators/packing.pack_sequences`` is the escape hatch.
    """
    rk = (f"CAST(conv(substring(md5(concat(CAST({id_col} AS STRING), "
          f"':{salt}')), 1, 15), 16, 10) AS BIGINT)")
    w = (Window.partitionBy("shard")
         .orderBy(F.col("_rk").asc(), F.col(id_col).asc()))
    return (
        df.select(F.col(id_col), F.expr(rk).alias("_rk"))
        .withColumn("shard", (F.col("_rk") % n_shards).cast("int"))
        .withColumn("pos", F.row_number().over(w))
        .select(id_col, "shard", "pos")
    )


def cross_split_contamination(df: DataFrame, text_col: str = "text",
                              id_col: str = "doc_id",
                              threshold: float = 0.2,
                              weights: tuple[float, ...] = (0.8, 0.1, 0.1),
                              names: tuple[str, ...] = ("train", "val", "test"),
                              salt: str = "split") -> DataFrame:
    """(id_a, split_a, id_b, split_b, jaccard): near-dup pairs that straddle
    split boundaries — the benchmark-contamination check of a training
    pipeline (an eval doc lexically near a train doc invalidates the eval).

    Composition of :func:`hash_split` (zero-shuffle assignment) with
    n-gram Jaccard near-dup pairs; the split map joins onto the (small)
    pair set, never the other way round, so the corpus itself is only
    read by the pair generator.
    """
    from flink_sql_security_spark.operators.dedup import ngram_jaccard_pairs

    assign = hash_split(df.select(F.col(id_col)), id_col=id_col,
                        weights=weights, names=names, salt=salt)
    pairs = ngram_jaccard_pairs(df, text_col, id_col, threshold=threshold)
    a = assign.select(F.col(id_col).alias("id_a"),
                      F.col("split").alias("split_a"))
    b = assign.select(F.col(id_col).alias("id_b"),
                      F.col("split").alias("split_b"))
    from flink_sql_security_spark.operators.cache import cached_deps

    return attach(
        pairs.join(a, "id_a").join(b, "id_b")
        .where(F.col("split_a") != F.col("split_b"))
        .select("id_a", "split_a", "id_b", "split_b", "jaccard"),
        *cached_deps(pairs))


def budget_case(budget, key_col: str, quote=lambda v: f"'{v}'") -> str:
    """SQL scalar for the per-key budget: a literal, or a CASE over keys."""
    if isinstance(budget, dict):
        whens = " ".join(f"WHEN {quote(k)} THEN {int(v)}"
                         for k, v in sorted(budget.items()))
        return f"CASE {key_col} {whens} ELSE 0 END"
    return str(int(budget))


def token_budget_sample(df: DataFrame, budget,
                        key_col: str = "source", id_col: str = "doc_id",
                        text_col: str = "text",
                        salt: str = "budget") -> DataFrame:
    """Data mixing: per ``key_col`` group (source/domain/language), keep
    documents in deterministic md5(id) order until the group's token
    budget is filled — (id, key, n_tokens, cum_tokens), where every kept
    row satisfies ``cum_tokens <= budget``.

    ``budget`` is an int (same budget per key) or a dict key->budget (the
    mixture weights of a training recipe, expressed in tokens). Ordering
    by content hash makes the kept subset a uniform sample of the group,
    independent of partitioning and cluster layout, and recomputable by
    the oracle engine.

    Scale shape: ONE exchange on ``key_col`` + per-key sort for the
    running ``sum`` window (state = one counter per key, no buffering).
    Keys are sources/domains — coarse and few — so per-key skew is
    handled by AQE; for a single giant key, pre-aggregate candidates
    with ``stratified_hash_sample`` to an over-sample (say 2x budget)
    first, then run the window on the survivors.
    """
    from flink_sql_security_spark.functions.text import word_count

    pref = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))
    w = (Window.partitionBy(key_col)
         .orderBy(pref.asc(), F.col(id_col).asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    if isinstance(budget, dict):
        budget_col = F.expr(budget_case(budget, key_col))
    else:
        budget_col = F.lit(int(budget))
    return (
        df.withColumn("n_tokens", word_count(F.col(text_col)))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .where(F.col("cum_tokens") <= budget_col)
        .select(F.col(id_col), F.col(key_col), "n_tokens", "cum_tokens")
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis–Spirakis A-ES)
# ---------------------------------------------------------------------------

def weighted_sample(df: DataFrame, n: int, weight_col: str,
                    id_col: str = "doc_id",
                    salt: str = "wsample",
                    keep_key: bool = False) -> DataFrame:
    """Deterministic weighted sample of ``n`` rows without replacement:
    P(row in sample) increases with ``weight_col`` (quality score, token
    count, source boost...). The A-ES scheme (Efraimidis & Spirakis 2006):
    key_i = u_i^(1/w_i) with u_i uniform, keep the n largest keys —
    equivalently rank by ln(u_i)/w_i, which avoids the pow() range issues.

    Determinism: u_i = (60-bit md5(id:salt) + 1) / 2^60 — content-derived,
    partitioning-independent, reproducible in any engine (the division by
    a power of two is one correctly-rounded float op). ``ln`` is the one
    libm call; engines agree to the last ulp on these magnitudes, and a
    rank flip would need two keys within one ulp (P ≈ n·2⁻⁵²).

    Scale shape: the key is a narrow per-row projection; top-n is Spark's
    sort-free TakeOrdered (map-side heap per partition, n rows to the
    driver-side merge) — no full sort, no wide shuffle. Rows with
    non-positive weight are excluded (their key is undefined).
    """
    h = (f"CAST(conv(substring(md5(concat(CAST({id_col} AS STRING), "
         f"':{salt}')), 1, 15), 16, 10) AS BIGINT)")
    key = (f"ln((CAST({h} AS DOUBLE) + 1.0D) / {float(1 << 60)!r}D) "
           f"/ CAST({weight_col} AS DOUBLE)")
    out = (
        df.where(F.col(weight_col) > 0)
        .withColumn("_aes_key", F.expr(key))
        .orderBy(F.col("_aes_key").desc(), F.col(id_col))
        .limit(n)
    )
    if keep_key:
        return out
    return out.drop("_aes_key")


# ---------------------------------------------------------------------------
# Fractional up-sampling (mixture repeat factors / "epochs")
# ---------------------------------------------------------------------------

def epoch_upsample(df: DataFrame, factor_col: str,
                   id_col: str = "doc_id",
                   salt: str = "epoch") -> DataFrame:
    """Repeat each row ``factor`` times where ``factor`` is fractional:
    floor(factor) guaranteed copies plus one more with probability
    frac(factor) — decided by a content-hash draw, so exactly the same
    rows gain the extra copy on every run/cluster (training-mixture
    recipes like "2.45 epochs of source X" reproduce bit-for-bit).

    Output adds ``copy_i`` (0-based) so downstream shuffles/splits can
    still distinguish copies. Narrow per-row work: one ``sequence`` +
    ``explode``, no shuffle, no RNG state. Rows with factor ≤ 0 drop.
    """
    h = (f"CAST(conv(substring(md5(concat(CAST({id_col} AS STRING), "
         f"':{salt}')), 1, 8), 16, 10) AS BIGINT) % {BUCKETS}")
    # floor(x+0.5), not round(x): the fractional-part threshold is an
    # in-engine double, and native round() is the one op where the
    # engines disagree (shortest-repr HALF_UP vs exact binary) — the
    # floor form is bit-identical on both (functions/text.py rule)
    n_copies = (
        f"CAST(floor({factor_col}) AS BIGINT) + "
        f"CASE WHEN {h} < CAST(floor(({factor_col} - floor({factor_col}))"
        f" * {BUCKETS} + 0.5) AS BIGINT) THEN 1 ELSE 0 END")
    return (
        df.withColumn("_n", F.expr(n_copies))
        .where(F.col("_n") > 0)
        .withColumn("copy_i", F.explode(F.expr("sequence(0, _n - 1)")))
        .drop("_n")
    )


# ---------------------------------------------------------------------------
# Rank buckets (exact ntile-like assignment without a global row sort)
# ---------------------------------------------------------------------------

def rank_buckets(df: DataFrame, score_col: str, n_buckets: int = 10,
                 bucket_col: str = "bucket") -> DataFrame:
    """Assign each row to a score-rank bucket (0 = lowest scores):
    bucket = floor(rows_with_strictly_lower_score · K / N).

    The curriculum/quality-tier primitive: deciles of an lm/quality score
    without ever sorting the row set globally. The prefix sum runs over
    the DISTINCT-score histogram (one map-combined exchange; the window
    orders |distinct scores| rows, not |rows|), and the assignment joins
    the cumulated histogram back on the score. Two deliberate semantics
    vs SQL ntile: ties always share a bucket (no nondeterministic tie
    splitting — equal scores are equal quality), so bucket populations
    can deviate from N/K exactly where ties straddle a boundary. Rows
    with a NULL score are excluded (unrankable — filter upstream if they
    should count). Exact integer arithmetic throughout (``div``, not
    float division) → identical on any partitioning and in the DuckDB
    oracle. Scale note: if distinct scores themselves exceed one task's
    window, range-repartition the histogram and apply the
    pack_sequences two-phase prefix treatment — same integers.
    """
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    # the input subtree feeds BOTH the histogram and the assignment join;
    # lazy persist() evaluates it once (the repo's super-stage rule —
    # without it a scored input like lm_score runs twice: measured 3.1s
    # → 2.2s for the curriculum query at sf0.1)
    df = df.where(F.col(score_col).isNotNull()).persist()
    hist = (df.groupBy(score_col).agg(F.count("*").alias("_cnt")))
    w = (Window.orderBy(score_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    total = Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)
    cum = (hist
           .withColumn("_before", F.coalesce(F.sum("_cnt").over(w), F.lit(0)))
           .withColumn("_n", F.sum("_cnt").over(total))
           .select(score_col,
                   F.expr(f"(_before * {n_buckets}) div _n")
                   .alias(bucket_col)))
    return attach(df.join(F.broadcast(cum), score_col), df)


def temperature_take_buckets(counts: dict, alpha: float,
                              target_rows: int) -> dict:
    """Per-group integer bucket threshold for temperature sampling.

    Shared by the Spark operator (driver-side, from a bounded
    ``groupBy(group).count()``) and the DuckDB oracle emitter
    (build-time, from the parquet) — the SAME Python floats produce the
    SAME integer thresholds, so the two engines compare identical exact
    integers and no cross-engine float boundary exists. Groups iterate
    in sorted-name order so the normalizer's float sum is
    order-deterministic.
    """
    import math

    names = sorted(counts)
    w = {g: float(counts[g]) ** alpha for g in names}
    total = 0.0
    for g in names:          # fixed fold order
        total += w[g]
    out = {}
    for g in names:
        rate = min(1.0, target_rows * (w[g] / total) / counts[g])
        out[g] = min(BUCKETS, int(math.floor(rate * BUCKETS + 0.5)))
    return out


def take_case_sql(take: dict, group_col: str) -> str:
    """The per-group threshold CASE shared by the Spark operator and the
    DuckDB oracle emitter. An EMPTY take map (empty input, or every
    group NULL) must emit the literal ``0`` — ``CASE ELSE 0 END`` with
    no WHEN arm is a parse error on both engines."""
    if not take:
        return "0"
    return "CASE " + " ".join(
        "WHEN {c} = '{g}' THEN {n}".format(
            c=group_col, g=str(g).replace("'", "''"), n=n)
        for g, n in take.items()) + " ELSE 0 END"


def temperature_mix(df: DataFrame, group_col: str = "source",
                    alpha: float = 0.5, target_rows: int = 200,
                    id_col: str = "doc_id",
                    salt: str = "tmix") -> DataFrame:
    """Temperature-scaled multinomial domain mixing (the mT5/XLM-R
    alpha-sampling recipe): sample group ``g`` at a rate proportional to
    ``count_g**alpha`` — ``alpha=1`` keeps the natural distribution,
    ``alpha=0`` equalizes groups, values between up-weight low-resource
    sources relative to their raw share (Conneau et al. 2020 §3.1;
    Raffel et al. 2020 §2.4 examples-proportional mixing).

    Mechanics: per-group acceptance rate
    ``min(1, target_rows · w_g / count_g)`` with
    ``w_g = count_g^alpha / Σ count_g^alpha``, applied as an exact
    integer threshold on the deterministic md5 bucket of the row id
    (same 10k-bucket core as :func:`hash_split`) — content-hash
    reproducible on any cluster layout and oracle-checkable.

    Scale shape: one bounded ``groupBy(group).count()`` (distinct
    sources ≲10⁴ by the layout contract — the same cardinality bound the
    partitioned-table writer documents), then a narrow codegen'd CASE
    filter; no shuffle of the data rows themselves, no join. The
    expected output size is ``min(target_rows, Σ min(count_g, ...))`` —
    rates are exact, realized counts are binomial around them.
    """
    # NULL groups are excluded by construction: they take the CASE's
    # ELSE 0 branch (no bucket is < 0), and a NULL key would also make
    # the sorted() weight pass non-deterministic across Python versions
    counts = {r[0]: r[1]
              for r in df.groupBy(group_col).count().collect()
              if r[0] is not None}
    take = temperature_take_buckets(counts, alpha, target_rows)
    case = take_case_sql(take, group_col)
    bucket = _bucket_expr(id_col, salt)
    return (df.where(F.expr(f"({bucket}) < ({case})"))
            .select(id_col, group_col,
                    F.expr(case).cast("int").alias("take_buckets")))


def component_safe_split(df: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id",
                         weights: tuple[float, ...] = (0.8, 0.1, 0.1),
                         names: tuple[str, ...] = ("train", "val", "test"),
                         salt: str = "split", id_a: str = "id_a",
                         id_b: str = "id_b") -> DataFrame:
    """Leakage-safe split: assign by NEAR-DUP COMPONENT, not by row.

    The classic eval-contamination failure: two near-duplicate
    documents land in train and test, and the model is graded on
    memorized text. Plain ``hash_split`` keys on the row id, so a dup
    cluster straddles splits with probability ≈ 1-Σw². This operator
    hashes the CLUSTER instead — every member of a near-dup component
    (min-id label from :func:`dedup.connected_components` over the
    ``pairs`` edge list) inherits one split assignment; singletons key
    on their own id, identically to ``hash_split``.

    Scale shape: the pair graph is the already-reduced LSH/jaccard
    output (orders of magnitude smaller than the corpus); components
    cost its size, the join back is one broadcast-or-shuffle on id,
    and the split itself is the same exact-integer md5 bucket as
    ``hash_split`` — deterministic under any partitioning and stable
    across incremental re-runs.

    Returns (id, group_key, bucket, split).
    """
    from .dedup import connected_components

    comp = connected_components(pairs, id_a, id_b)
    if "doc_id" != id_col:
        comp = comp.withColumnRenamed("doc_id", id_col)
    keyed = (
        df.select(id_col)
        .join(comp, id_col, "left")
        .select(F.col(id_col),
                F.expr(f"coalesce(component_id, {id_col})")
                .alias("group_key"))
    )
    return hash_split(keyed, id_col="group_key", weights=weights,
                      names=names, salt=salt)
