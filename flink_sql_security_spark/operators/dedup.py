"""Deduplication operators for large-scale training-data pipelines.

Beyond-reference scope (driver brief): exact dedup, MinHash+LSH, SimHash and
n-gram Jaccard near-dup detection, all as composable DataFrame transforms.

Design for 100 TB:
- every hash is ``md5`` of deterministic strings → engine-portable (the DuckDB
  oracle reproduces results exactly) and cluster-stable (no JVM hash seeds)
- shingling/minhashing stays in built-in higher-order functions (transform /
  explode / aggregate) → whole-stage codegen, no Python on the data path
- each stage is one shuffle: explode→groupBy(doc) for signatures,
  band-bucket self-join for candidates (the classic LSH join); AQE handles
  skewed buckets
- candidate verification (exact Jaccard) runs only on LSH survivors at scale;
  the brute-force pairwise forms here are for oracle-checkable correctness at
  test SFs
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, functions as F

from flink_sql_security_spark.functions.text import (
    floor_round as _floor_round,
    floor_round6 as _floor_round6,
    floor_round_col as _floor_round_col)
from flink_sql_security_spark.operators.cache import attach, cached_deps

_log = logging.getLogger(__name__)

# prefix_jaccard_pairs(mode='auto') routes to LSH once one prefix token
# is shared by more than this many documents: ≥10⁸ candidate rows from
# that token alone re-create the quadratic stage prefix filtering exists
# to avoid.
HOT_POSTING_LIMIT = 10_000

# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------

def exact_dedup_groups(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       normalize: bool = True) -> DataFrame:
    """Group identical documents by content hash.

    Returns (dup_key, keep_id, n_dups): the kept representative is min(id) —
    deterministic under any partitioning. One shuffle, map-side partial agg.
    """
    text = F.col(text_col)
    if normalize:
        text = F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))
    return (
        df.select(F.md5(text).alias("dup_key"), F.col(id_col))
        .groupBy("dup_key")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min-id) row per identical (normalized) text.

    Window idiom — row_number over (dup_key, id) — instead of
    groupBy+self-join: ONE shuffle on dup_key and the input subtree is
    evaluated once (the join form re-computes the upstream plan for both
    branches, which matters when df is itself an expensive pipeline
    stage).
    """
    from pyspark.sql.window import Window

    text = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    w = Window.partitionBy("_dup_key").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("_dup_key", F.md5(text))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_dup_key", "_rn")
    )


# ---------------------------------------------------------------------------
# Shingling
# ---------------------------------------------------------------------------

def _with_words(df: DataFrame, text_col: str) -> DataFrame:
    """Materialize the whitespace token array as ``_ws`` ONCE per row.

    Load-bearing for performance: expressions inside a higher-order
    function lambda are re-evaluated per array element, so inlining
    ``split(...)`` into the shingle lambda re-runs the regex split once
    PER SHINGLE (~n_words× per document — measured 7.6s vs 1.1s for the
    sf0.1 shingle build). Binding the split to a column first makes it a
    once-per-row projection; the lambda then references the bound array.

    ``_ws`` is a reserved working name: refuse inputs that already carry
    it rather than silently overwriting the caller's column.
    """
    if "_ws" in df.columns:
        raise ValueError(
            "_with_words: input already has a column named '_ws' "
            "(reserved working column; rename it before shingling)")
    return df.withColumn(
        "_ws", F.expr(f"split(lower(trim({text_col})), '\\\\s+')"))


def _spread(df: DataFrame, id_col: str) -> DataFrame:
    """Hash-repartition on id with an EXPLICIT partition count — the
    parallelize-the-text-kernel exchange of the dedup/text family.

    The explicit count is load-bearing: AQE honors user-specified
    partition numbers but freely coalesces ``repartition(col)`` by
    OUTPUT BYTES, and a per-doc shingle/token table is tiny in bytes
    while every consumer explodes it ~100× in rows — byte-based
    coalescing serialized exactly the expensive hashing work this
    exchange exists to spread (measured: the 2 MB cached shingle-set
    table collapsed to 1 partition and dedup_containment went 1.0 →
    3.1 s once cached-plan coalescing was enabled). Count =
    max(cluster cores, input size / maxPartitionBytes): a small corpus
    spreads across every core; a large input keeps its natural split
    count. The byte estimate is Catalyst's free plan statistic — no
    job (deliberately NOT ``df.rdd.getNumPartitions()``, which under
    AQE eagerly materializes upstream query stages); None ⇒ treat as
    small and use the core count, the safe floor. Hash-by-id is
    preserved, so downstream per-doc groupBys still reuse the
    partitioning (ClusteredDistribution satisfied)."""
    from .skew import spread_partitions

    return spread_partitions(df, key_col=id_col, always=True)


def _grams_expr(n: int, words_col: str = "_ws"):
    """Array-of-shingles Column over a PRE-MATERIALIZED token-array column
    (see :func:`_with_words`): space-joined n-grams. The array form is the
    load-bearing choice: shingle SETS are a per-document property, so
    set-building (array_distinct), set size, and per-doc minima over the
    set are all narrow per-row operations — no explode→distinct→groupBy
    shuffle chain anywhere in the dedup family."""
    return F.expr(
        f"CASE WHEN size({words_col}) >= {n} THEN "
        f"transform(sequence(0, size({words_col}) - {n}), "
        f"i -> concat_ws(' ', slice({words_col}, i + 1, {n}))) "
        "ELSE array() END"
    )


def word_shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  n: int = 3, distinct: bool = True) -> DataFrame:
    """Word n-gram shingles per document: (id, shingle).

    Tokenization is lower + whitespace split, shingle = space-joined n-gram —
    byte-identical to the DuckDB oracle's string_split_regex formulation.
    ``distinct=True`` gives set semantics; because a shingle set is local to
    its document, it is array_distinct BEFORE exploding — per-row, zero
    shuffle (a global ``.distinct()`` over (id, shingle) computes the same
    rows through a full exchange of the shingle strings).
    """
    grams = _grams_expr(n)
    if distinct:
        grams = F.array_distinct(grams)
    # Hash-repartition on id BEFORE exploding: (a) parallelizes shingle
    # construction even when the scan yields few partitions (one small file
    # → one task otherwise), (b) moves ~doc-sized rows through the exchange
    # instead of ~n_grams× that after explode, and (c) every downstream
    # per-doc operation (overlap-count groupBy) reuses the partitioning —
    # HashPartitioning(id) satisfies ClusteredDistribution(id, …), so no
    # further exchange.
    return (
        _with_words(_spread(df, id_col), text_col)
        .select(F.col(id_col), F.explode(grams).alias("shingle"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------

MERSENNE_31 = (1 << 31) - 1


def uhash_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_k, b_k) for the universal-hash family
    h_k(x) = (a_k·(x mod p) + b_k) mod p, p = 2^31 − 1, derived from
    md5(k) so both engines embed identical literals.

    p must be small enough that a_k·x wraps p many times (a_k, x < p →
    product < 2^62: int64-safe in Spark and DuckDB, yet ~2^31 wraps).
    A wider modulus (e.g. 2^61−1) with int64-safe multipliers would wrap
    at most a few times, leaving h_k monotone in x — every minhash then
    collapses onto the same min-x shingle and LSH degenerates.
    """
    import hashlib

    out = []
    for k in range(num_hashes):
        a = int(hashlib.md5(f"a|{k}".encode()).hexdigest()[:8], 16) % MERSENNE_31 or 1
        b = int(hashlib.md5(f"b|{k}".encode()).hexdigest()[:8], 16) % MERSENNE_31
        out.append((a, b))
    return out


def minhash_signatures(shingle_df: DataFrame, id_col: str = "doc_id",
                       num_hashes: int = 16) -> DataFrame:
    """Wide signatures (id, mh_0 … mh_{n-1}): min over shingles of each
    universal hash of the shingle's 32-bit md5 prefix.

    One md5 per shingle (not per shingle×seed) + num_hashes codegen'd
    integer multiply-adds, then a single shuffle: groupBy(id) with
    map-side partial min on num_hashes LONG columns. At 100 TB this moves
    8·num_hashes bytes per doc through the exchange — the 16×-row explode
    formulation this replaces moved every md5 string 16 times.
    """
    x = (f"(CAST(conv(substring(md5(shingle), 1, 8), 16, 10) AS BIGINT)"
         f" % {MERSENNE_31})")
    mins = [
        F.min(F.expr(f"({a} * {x} + {b}) % {MERSENNE_31}")).alias(f"mh_{k}")
        for k, (a, b) in enumerate(uhash_constants(num_hashes))
    ]
    return shingle_df.groupBy(id_col).agg(*mins)


def minhash_signatures_narrow(df: DataFrame, text_col: str = "text",
                              id_col: str = "doc_id", n: int = 3,
                              num_hashes: int = 16) -> DataFrame:
    """Wide signatures computed per-row with ZERO shuffle.

    A document's minhash is a function of its own shingle set, so the
    min runs over an in-row array: one md5 per shingle into ``_xs``, then
    ``array_min`` per hash function. Identical values to
    :func:`minhash_signatures` (min over a bag = min over its set), but
    the explode + groupBy(id) exchange disappears — at 100 TB the whole
    signature stage becomes a narrow map over the corpus scan. Documents
    with fewer than ``n`` words yield no shingles and are dropped
    (matching the exploded form, where they produce zero rows).

    The short-document gate is a filter on the RAW text (one extra split
    per row in the scan stage), not on ``_grams``: predicate pushdown
    substitutes the filtered column's defining expression into the
    predicate, so ``size(_grams) > 0`` below the exchange re-built the
    whole shingle array per row just to measure it — measured 12× slower
    (3.2s vs 0.27s for the sf0.1 signature build).
    """
    xs = F.expr(
        f"transform(_grams, s -> CAST(conv(substring(md5(s), 1, 8), 16, 10)"
        f" AS BIGINT) % {MERSENNE_31})")
    mins = [
        F.expr(f"array_min(transform(_xs, x -> ({a} * x + {b}) % {MERSENNE_31}))")
        .alias(f"mh_{k}")
        for k, (a, b) in enumerate(uhash_constants(num_hashes))
    ]
    pre = df.where(
        F.size(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")) >= n)
    return (
        _with_words(_spread(pre, id_col), text_col)
        # parallelize hashing on few-partition scans ^ (_spread)
        .select(F.col(id_col), _grams_expr(n).alias("_grams"))
        .select(F.col(id_col), xs.alias("_xs"))
        .select(F.col(id_col), *mins)
    )


def lsh_band_signatures(sig_df: DataFrame, id_col: str = "doc_id",
                        num_hashes: int = 16, bands: int = 4) -> DataFrame:
    """(id, band, band_sig): md5 over the band's minhash slice, all bands
    emitted in ONE stack() projection — no per-band shuffle at all."""
    rows_per_band = num_hashes // bands
    sigs = []
    for band in range(bands):
        cols = ", ".join(
            f"CAST(mh_{band * rows_per_band + i} AS STRING)"
            for i in range(rows_per_band))
        sigs.append(f"{band}, md5(concat_ws(':', {cols}))")
    return sig_df.select(
        F.col(id_col),
        F.expr(f"stack({bands}, {', '.join(sigs)})").alias("band", "band_sig"),
    )


def minhash_lsh_candidate_pairs(df: DataFrame, text_col: str = "text",
                                id_col: str = "doc_id", n: int = 3,
                                num_hashes: int = 16,
                                bands: int = 4) -> DataFrame:
    """Candidate near-dup pairs: documents sharing any LSH band signature.

    Narrow per-row signatures (zero-shuffle) → stack to bands →
    self-join on (band, band_sig). The band join is the ONLY shuffle in
    the whole candidate generation — keyed on bucket signatures, never
    all-pairs. Returns distinct (id_a, id_b), id_a < id_b.
    """
    sig = minhash_signatures_narrow(df, text_col, id_col, n, num_hashes)
    # both self-join sides read the banded signatures — persist() computes
    # the shingle→signature pipeline (the expensive part) once, not twice
    band = lsh_band_signatures(sig, id_col, num_hashes, bands).persist()
    a = band.select(F.col(id_col).alias("id_a"), "band", "band_sig")
    b = band.select(F.col(id_col).alias("id_b"), "band", "band_sig")
    return attach(
        a.join(b, on=["band", "band_sig"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct(),
        band)


def _minhash_ctes(shingles_cte: str, num_hashes: int, bands: int,
                  id_col: str) -> str:
    """Shared CTE prefix (sh → sig → bnd → cand) for the MinHash oracles.

    ``shingles_cte`` must define a CTE named ``sh`` with (id, shingle).
    The 32-bit md5 prefix parses via DuckDB's ('0x'||hex)::BIGINT (Spark
    side uses conv(,16,10) — same uint32 value), then the same (a,b)
    literals; BIGINT arithmetic matches exactly.
    """
    x = (f"(CAST(concat('0x', substring(md5(shingle), 1, 8)) AS BIGINT)"
         f" % {MERSENNE_31})")
    mins = ", ".join(
        f"min(({a} * {x} + {b}) % {MERSENNE_31}) AS mh_{k}"
        for k, (a, b) in enumerate(uhash_constants(num_hashes)))
    rows_per_band = num_hashes // bands
    band_rows = " UNION ALL ".join(
        "SELECT {id}, {band} AS band, md5(concat_ws(':', {cols})) AS band_sig FROM sig"
        .format(
            id=id_col, band=band,
            cols=", ".join(
                f"CAST(mh_{band * rows_per_band + i} AS VARCHAR)"
                for i in range(rows_per_band)))
        for band in range(bands))
    return (
        f"{shingles_cte}, "
        f"sig AS (SELECT {id_col}, {mins} FROM sh GROUP BY {id_col}), "
        f"bnd AS ({band_rows}), "
        f"cand AS (SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b "
        f"FROM bnd a JOIN bnd b ON a.band = b.band AND a.band_sig = b.band_sig "
        f"WHERE a.{id_col} < b.{id_col})"
    )


def minhash_lsh_duckdb_sql(shingles_cte: str, num_hashes: int = 16,
                           bands: int = 4, id_col: str = "doc_id") -> str:
    """DuckDB SQL computing identical candidate pairs (oracle emitter)."""
    return ("WITH " + _minhash_ctes(shingles_cte, num_hashes, bands, id_col)
            + " SELECT id_a, id_b FROM cand")


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------

SHINGLE_HASH_HEX = 15  # 60-bit md5 prefix: positive BIGINT in both engines


def hashed_shingle_sets(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """(id, hs array<bigint>, n_sh): each document's DISTINCT shingle-hash
    set as an in-row array, plus its size — all narrow per-row work.

    This is the zero-shuffle form of the shingle set: array_distinct
    replaces a global distinct exchange, size() replaces a groupBy(id)
    count, and carrying n_sh through the downstream join replaces two
    joins against a separate sizes table. Documents with no shingles
    (< n words) are dropped, matching the exploded formulations.

    The short-document gate filters the RAW text (see
    :func:`minhash_signatures_narrow`): a filter on ``_grams`` pushes
    below the exchange and re-builds the shingle array inside the
    predicate.
    """
    hs = F.expr(
        f"array_distinct(transform(_grams, s -> "
        f"CAST(conv(substring(md5(s), 1, {SHINGLE_HASH_HEX}), 16, 10)"
        f" AS BIGINT)))")
    pre = df.where(
        F.size(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")) >= n)
    return (
        _with_words(_spread(pre, id_col), text_col)
        # parallelize hashing on few-partition scans ^ (_spread)
        .select(F.col(id_col), _grams_expr(n).alias("_grams"))
        .select(F.col(id_col), hs.alias("hs"))
        .select(F.col(id_col), "hs", F.size("hs").alias("n_sh"))
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.2) -> DataFrame:
    """Exact Jaccard similarity over word n-gram sets for co-shingled pairs.

    |I| via hashed-shingle self-join (only pairs sharing ≥1 shingle are ever
    materialized), |U| = |A|+|B|-|I|. At scale, run on LSH candidates instead
    of all co-shingled pairs (compose with minhash_lsh_candidate_pairs).

    Shuffle census: ONE repartition of the docs (parallelism), the
    self-join exchange on h, and the pair groupBy — set sizes ride along
    as columns (grouping on (id, n) adds nothing: n is functionally
    dependent on id), so the sizes-table joins of the classic
    formulation don't exist. persist() computes the per-doc set build
    once for both join sides.
    """
    sh = hashed_shingle_sets(df, text_col, id_col, n).persist()
    a = sh.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"),
                  F.explode("hs").alias("h"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"),
                  F.explode("hs").alias("h"))
    # size-ratio prefilter, output-preserving: J = |I|/(n_a+n_b-|I|) with
    # |I| <= min(n_a,n_b), so J <= min/max — a pair whose set sizes are
    # more lopsided than the threshold can never pass the exact gate
    # below. Runs inside the join stage, so the pair-count exchange only
    # carries plausible pairs (at loose thresholds this cuts the hottest
    # shingles' long×short cross products). The slack is RELATIVE
    # ((threshold − 1e-6)·max, not threshold·max − 1e-6): the exact gate
    # rounds J to 6 decimals, which can lift a true J by up to 5e-7, and
    # an absolute slack stops covering that once sets reach ~10⁵+
    # shingles — relative slack dominates both the rounding margin and
    # float error at any size (the exact round(jac, 6) filter still
    # decides).
    ratio_ok = (
        (F.least("n_a", "n_b").cast("double")
         >= (threshold - 1e-6) * F.greatest("n_a", "n_b")))
    inter = (
        a.join(b, on="h")
        .where((F.col("id_a") < F.col("id_b")) & ratio_ok)
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count("*").alias("n_inter"))
    )
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return attach(
        inter.withColumn("jaccard", _floor_round_col(jac, 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard"),
        sh)


def shingle_profile(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", n: int = 3,
                    num_hashes: int = 16) -> DataFrame:
    """One text pass feeding BOTH the MinHash and the exact-Jaccard stages:
    (id, hs array<bigint>, n_sh, mh_0 … mh_{k-1}).

    The md5 per shingle is computed ONCE and sliced twice — the 8-hex
    (32-bit) prefix drives the minhash family, the 15-hex (60-bit) prefix
    becomes the distinct shingle-hash set. Values are bit-identical to
    :func:`minhash_signatures_narrow` + :func:`hashed_shingle_sets` run
    separately (same md5, same slices); what disappears is the second
    scan→split→shingle→md5 pass over the corpus, which at 100 TB is the
    dominant cost of the prune-then-verify pipeline. All work is narrow
    per-row; the short-document gate filters raw text (see
    :func:`minhash_signatures_narrow` for why not on ``_grams``).
    """
    md5s = F.expr("transform(_grams, s -> md5(s))")
    xs = F.expr(
        f"transform(_m, m -> CAST(conv(substring(m, 1, 8), 16, 10)"
        f" AS BIGINT) % {MERSENNE_31})")
    hs = F.expr(
        f"array_distinct(transform(_m, m -> "
        f"CAST(conv(substring(m, 1, {SHINGLE_HASH_HEX}), 16, 10)"
        f" AS BIGINT)))")
    mins = [
        F.expr(f"array_min(transform(_xs, x -> ({a} * x + {b}) % {MERSENNE_31}))")
        .alias(f"mh_{k}")
        for k, (a, b) in enumerate(uhash_constants(num_hashes))
    ]
    pre = df.where(
        F.size(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")) >= n)
    return (
        _with_words(_spread(pre, id_col), text_col)
        .select(F.col(id_col), _grams_expr(n).alias("_grams"))
        .select(F.col(id_col), md5s.alias("_m"))
        .select(F.col(id_col), hs.alias("hs"), xs.alias("_xs"))
        .select(F.col(id_col), "hs", F.size("hs").alias("n_sh"), *mins)
    )


def lsh_verified_jaccard_pairs(df: DataFrame, text_col: str = "text",
                               id_col: str = "doc_id", n: int = 3,
                               num_hashes: int = 16, bands: int = 4,
                               threshold: float = 0.2) -> DataFrame:
    """The 100 TB near-dup path: MinHash-LSH candidate pruning, then exact
    Jaccard verification on candidates only.

    ``ngram_jaccard_pairs`` alone materializes every co-shingled pair —
    quadratic in the hottest shingle's doc-frequency. Here the only
    all-pairs-shaped join is the banded LSH join (bounded by band-bucket
    collisions), and verification never explodes a shingle: the per-doc
    shingle-hash ARRAYS join onto the candidate pairs (two id-keyed hash
    joins moving ~|cand| arrays) and |I| is a per-pair
    ``size(array_intersect(...))`` — no shingle-level shuffle, no pair
    groupBy. (The exploded count-matches formulation this replaces
    re-shuffled every candidate doc's shingles and aggregated the
    multiplicity rows — measured 3.3s vs 2.1s at sf0.1, and at 100 TB it
    moved the verify-side shingle stream through two exchanges.) Output ⊆
    ngram_jaccard_pairs output by construction (LSH can only lose pairs,
    never invent them; intersect-of-distinct-sets equals the match count)
    — the band count tunes the recall/cost trade.

    Candidate generation and verification share ONE persisted
    :func:`shingle_profile`: the corpus text is scanned, shingled, and
    md5'd exactly once for the whole prune-then-verify pipeline
    (measured 9.5s → ~6s at sf0.1 vs the two-pass form).
    """
    prof = shingle_profile(df, text_col, id_col, n, num_hashes).persist()
    band = lsh_band_signatures(prof, id_col, num_hashes, bands)
    ca = band.select(F.col(id_col).alias("id_a"), "band", "band_sig")
    cb = band.select(F.col(id_col).alias("id_b"), "band", "band_sig")
    cand = (
        ca.join(cb, on=["band", "band_sig"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sh = prof
    a = sh.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"),
                  F.col("hs").alias("hs_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"),
                  F.col("hs").alias("hs_b"))
    inter = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("hs_a", "hs_b")))
    )
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return attach(
        inter.withColumn("jaccard", _floor_round_col(jac, 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard"),
        prof)


def lsh_verified_jaccard_duckdb_sql(shingles_cte: str, num_hashes: int = 16,
                                    bands: int = 4, threshold: float = 0.2,
                                    id_col: str = "doc_id") -> str:
    """DuckDB oracle for ``lsh_verified_jaccard_pairs``: the same MinHash
    CTE chain, then exact Jaccard restricted to the candidate set."""
    return (
        "WITH " + _minhash_ctes(shingles_cte, num_hashes, bands, id_col) + ", "
        "hs AS (SELECT DISTINCT doc_id, CAST(concat('0x', substring(md5(shingle), 1, "
        f"{SHINGLE_HASH_HEX})) AS BIGINT) AS h FROM sh), "
        "sizes AS (SELECT doc_id, count(*) AS n_sh FROM hs GROUP BY doc_id), "
        "inter AS (SELECT c.id_a, c.id_b, count(*) AS n_inter "
        "          FROM cand c JOIN hs a ON a.doc_id = c.id_a "
        "          JOIN hs b ON b.doc_id = c.id_b AND b.h = a.h "
        "          GROUP BY 1, 2) "
        "SELECT id_a, id_b, "
        + _floor_round("n_inter / (sa.n_sh + sb.n_sh - n_inter)",
                       6, "duckdb") + " AS jaccard "
        "FROM inter JOIN sizes sa ON sa.doc_id = id_a "
        "JOIN sizes sb ON sb.doc_id = id_b "
        "WHERE "
        + _floor_round("n_inter / (sa.n_sh + sb.n_sh - n_inter)",
                       6, "duckdb") + f" >= {threshold}"
    )


def incremental_dedup(new_df: DataFrame, corpus_df: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      n: int = 3, num_hashes: int = 16, bands: int = 4,
                      threshold: float = 0.2) -> DataFrame:
    """Ingest-time dedup of a NEW batch against an EXISTING corpus:
    (doc_id, status) with status ∈ {'kept','exact_dup','near_dup'}.

    The production shape for continuous crawling: the 100 TB corpus is
    never re-paired against itself — only the (small) incoming batch
    probes it. Exact stage: content-hash semi-join (batch hashes vs the
    corpus hash set — at scale the corpus side is a pre-built hash
    table/bloom layer, here a plain distinct). Near stage: asymmetric
    LSH — batch band signatures equi-join corpus band signatures, then
    exact Jaccard verification on the candidates only. Within-batch
    duplicates are deliberately out of scope (run ``clean_corpus`` /
    ``exact_dedup`` on the batch first); statuses are therefore purely
    batch-vs-corpus and order-independent.
    """
    norm = F.md5(F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")))
    new_keys = new_df.select(F.col(id_col), norm.alias("_k"))
    corpus_keys = corpus_df.select(norm.alias("_k")).distinct()
    exact = (
        new_keys.join(corpus_keys, "_k", "left_semi")
        .select(F.col(id_col).alias("_ex_id"))
        .distinct()
    )

    # one shared text pass per side (shingle_profile): band signatures AND
    # verification arrays come off the same persisted frame. The new batch
    # is small by definition; for the 100 TB corpus the profile is the
    # artifact you materialize ONCE next to the corpus and reuse across
    # every ingest batch — persist() stands in for that here.
    prof_new = shingle_profile(new_df, text_col, id_col, n,
                               num_hashes).persist()
    prof_old = shingle_profile(corpus_df, text_col, id_col, n,
                               num_hashes).persist()
    cand = (
        lsh_band_signatures(prof_new, id_col, num_hashes, bands)
        .select(F.col(id_col).alias("id_new"), "band", "band_sig")
        .join(lsh_band_signatures(prof_old, id_col, num_hashes, bands)
              .select(F.col(id_col).alias("id_old"), "band", "band_sig"),
              ["band", "band_sig"])
        .select("id_new", "id_old")
        .distinct()
    )
    # array-valued verification (see lsh_verified_jaccard_pairs): the
    # candidate pairs pull each side's shingle-hash ARRAY through an
    # id-keyed join and |I| is a per-pair array_intersect — no shingle
    # explode, no pair groupBy; the 100 TB corpus side streams through
    # the hash join pruned to candidate ids only
    sh_new = prof_new.select(
        F.col(id_col).alias("id_new"), F.col("n_sh").alias("n_new"),
        F.col("hs").alias("hs_new"))
    sh_old = prof_old.select(
        F.col(id_col).alias("id_old"), F.col("n_sh").alias("n_old"),
        F.col("hs").alias("hs_old"))
    inter = (
        cand.join(sh_new, "id_new")
        .join(sh_old, "id_old")
        .withColumn("n_inter",
                    F.size(F.array_intersect("hs_new", "hs_old")))
    )
    jac = F.col("n_inter") / (F.col("n_new") + F.col("n_old") - F.col("n_inter"))
    near = (
        inter
        .where(_floor_round_col(jac, 6) >= threshold)
        .select(F.col("id_new").alias("_nr_id"))
        .distinct()
    )
    return attach(
        new_df.select(F.col(id_col))
        .join(exact, new_df[id_col] == exact["_ex_id"], "left")
        .join(near, new_df[id_col] == near["_nr_id"], "left")
        .select(
            F.col(id_col),
            F.when(F.col("_ex_id").isNotNull(), "exact_dup")
            .when(F.col("_nr_id").isNotNull(), "near_dup")
            .otherwise("kept").alias("status"),
        ),
        prof_new, prof_old)


def incremental_dedup_duckdb_sql(split_id: int, table: str = "documents",
                                 text_col: str = "text",
                                 id_col: str = "doc_id", num_hashes: int = 16,
                                 bands: int = 4,
                                 threshold: float = 0.2) -> str:
    """DuckDB oracle for ``incremental_dedup`` where corpus = rows with
    ``id < split_id`` and the new batch = rows with ``id >= split_id``
    of the same table (how the driver query carves the fixture)."""
    shingles = (
        f"w AS (SELECT {id_col}, string_split_regex(lower(trim({text_col})), '\\s+') AS ws FROM {table}), "
        f"sh AS (SELECT DISTINCT {id_col}, array_to_string(ws[i+1:i+3], ' ') AS shingle "
        f"       FROM w, UNNEST(range(greatest(len(ws)-2, 0))) AS t(i))"
    )
    ctes = _minhash_ctes(shingles, num_hashes, bands, id_col)
    # _minhash_ctes' cand is the symmetric self-join; restrict it to
    # (new ≥ split) × (old < split) pairs in either orientation
    return (
        "WITH " + ctes + ", "
        f"keys AS (SELECT {id_col}, md5(lower(regexp_replace(trim({text_col}), "
        f"'\\s+', ' ', 'g'))) AS k FROM {table}), "
        f"exact_ids AS (SELECT DISTINCT b.{id_col} FROM keys b "
        f" WHERE b.{id_col} >= {split_id} AND EXISTS "
        f" (SELECT 1 FROM keys c WHERE c.{id_col} < {split_id} AND c.k = b.k)), "
        f"across AS (SELECT greatest(id_a, id_b) AS id_new, "
        f"least(id_a, id_b) AS id_old FROM cand "
        f" WHERE greatest(id_a, id_b) >= {split_id} "
        f" AND least(id_a, id_b) < {split_id}), "
        "hs AS (SELECT DISTINCT doc_id, CAST(concat('0x', substring(md5(shingle), 1, "
        f"{SHINGLE_HASH_HEX})) AS BIGINT) AS h FROM sh), "
        "sizes AS (SELECT doc_id, count(*) AS n_sh FROM hs GROUP BY doc_id), "
        "inter AS (SELECT a.id_new, a.id_old, count(*) AS n_inter "
        "          FROM across a JOIN hs x ON x.doc_id = a.id_new "
        "          JOIN hs y ON y.doc_id = a.id_old AND y.h = x.h "
        "          GROUP BY 1, 2), "
        "near_ids AS (SELECT DISTINCT id_new FROM inter "
        " JOIN sizes sn ON sn.doc_id = id_new JOIN sizes so ON so.doc_id = id_old "
        " WHERE "
        + _floor_round("n_inter / (sn.n_sh + so.n_sh - n_inter)",
                       6, "duckdb") + f" >= {threshold}) "
        f"SELECT d.{id_col}, CASE "
        f"WHEN d.{id_col} IN (SELECT {id_col} FROM exact_ids) THEN 'exact_dup' "
        f"WHEN d.{id_col} IN (SELECT id_new FROM near_ids) THEN 'near_dup' "
        f"ELSE 'kept' END AS status "
        f"FROM {table} d WHERE d.{id_col} >= {split_id}"
    )


# ---------------------------------------------------------------------------
# SimHash (48-bit, engine-portable)
# ---------------------------------------------------------------------------

SIMHASH_HEX_CHARS = 12  # 48 bits: stays clear of BIGINT sign even when summed


def simhash(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """48-bit SimHash over whitespace tokens, weighted by occurrence count.

    Token hash = integer value of the first 12 md5 hex chars; bit i of the
    signature sign-sums bit i of the token hashes, set where the sum is
    positive. The 48 per-bit tests are single shift-and-mask ops on one
    ``conv``-parsed BIGINT per token (the per-hex-char locate/floor/mod
    chain this replaces was ~25% slower at sf0.1). Pure integer arithmetic
    on md5 → identical in any engine; single explode + single groupBy
    shuffle, map-side partial aggregation collapses the per-token rows.
    """
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    tok = (
        _spread(df, id_col)  # parallelize + pre-cluster for groupBy
        .select(F.col(id_col), F.explode(words).alias("token"))
        .where(F.col("token") != "")
        .select(F.col(id_col), F.expr(
            f"CAST(conv(substring(md5(token), 1, {SIMHASH_HEX_CHARS}),"
            " 16, 10) AS BIGINT)").alias("x"))
    )
    # Packed bit-counters: the per-bit sign sums s_i = 2·c_i − n (c_i =
    # tokens with bit i set) need only the 48 set-bit counts c_i and one
    # n. Three 21-bit fields per BIGINT pack them into 16 sum columns
    # instead of 48 — identical signatures (pinned by the oracle), ~3×
    # faster (1.46s → 0.54s at sf0.1), and the groupBy's partial-agg
    # state shrinks from 48 longs to 17 per doc — at 100 TB that is the
    # exchange. Field capacity bounds documents at 2^21−1 (~2M) tokens;
    # field g·3+b max contribution (2^21−1)·2^42 keeps the packed sum
    # < 2^63 (no BIGINT overflow). Chunk pathological >2M-token inputs
    # upstream (chunk_tokens) before signing.
    n_groups = (4 * SIMHASH_HEX_CHARS + 2) // 3  # 16 groups of 3 bits
    spreads = [
        F.expr(" + ".join(
            f"shiftleft(shiftright(x, {3 * g + b}) & 1, {21 * b})"
            for b in range(3) if 3 * g + b < 4 * SIMHASH_HEX_CHARS))
        .alias(f"y_{g}")
        for g in range(n_groups)
    ]
    sums = (
        tok.select(F.col(id_col), *spreads)
        .groupBy(id_col)
        .agg(*[F.sum(f"y_{g}").alias(f"c_{g}") for g in range(n_groups)],
             F.count("*").alias("n"))
    )
    terms = " + ".join(
        f"CASE WHEN 2 * (shiftright(c_{i // 3}, {21 * (i % 3)}) & {2 ** 21 - 1})"
        f" > n THEN CAST({2 ** i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for i in range(4 * SIMHASH_HEX_CHARS))
    return sums.select(F.col(id_col), F.expr(terms).alias("simhash"))


def simhash_duckdb_sql(table: str = "documents", text_col: str = "text",
                       id_col: str = "doc_id") -> str:
    """DuckDB SQL computing the identical 48-bit SimHash (oracle emitter)."""
    bit_sums = [
        f"sum(CASE WHEN (x >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{i}"
        for i in range(4 * SIMHASH_HEX_CHARS)
    ]
    terms = " + ".join(
        f"(CASE WHEN s_{i} > 0 THEN CAST({2 ** i} AS BIGINT) ELSE 0 END)"
        for i in range(4 * SIMHASH_HEX_CHARS)
    )
    return (
        f"WITH tok AS ("
        f" SELECT {id_col}, CAST(concat('0x', substring(md5(t.token), 1,"
        f" {SIMHASH_HEX_CHARS})) AS BIGINT) AS x"
        f" FROM {table}, UNNEST(string_split_regex(lower(trim({text_col})), '\\s+')) AS t(token)"
        f" WHERE t.token <> ''"
        f"), sums AS ("
        f" SELECT {id_col}, {', '.join(bit_sums)} FROM tok GROUP BY {id_col}"
        f") SELECT {id_col}, {terms} AS simhash FROM sums"
    )


# ---------------------------------------------------------------------------
# Connected components over near-dup pairs (cluster assignment)
# ---------------------------------------------------------------------------

def _star_contraction(pairs: DataFrame, a, b,
                      max_iter: int) -> tuple[DataFrame, int]:
    """Alternating large-star / small-star min-id components (Kiveris
    et al. 2014, "Connected Components in MapReduce and Beyond") —
    the hub-and-chain-proof distributed path.

    Why not min-label propagation: propagation moves labels ONE hop
    per round, so rounds = graph diameter — a 200k-edge chain needs
    200k rounds and re-shuffles every label each round. Star
    contraction rewires edges toward each neighborhood's minimum
    (large-star: every bigger neighbor of u hooks to min(Γ(u)∪u);
    small-star: every smaller neighbor and u itself hook there), which
    HALVES-or-better tree heights every alternation → O(log² n) rounds
    worst case, ~log n in practice, INDEPENDENT of chain length
    (measured: tools/starcc_probe.py, retired, see git history — 4× the
    chain, +≤2 rounds).

    Determinism: each op is a per-neighborhood min (windowed, order-
    free) + distinct — partitioning-invariant by construction, same
    invariance contract as the quantized graph tier. Convergence test:
    (edge count, Σ xxhash64(u, v)) — a type-agnostic set digest, so
    string node ids converge exactly like ints (an arithmetic endpoint
    sum would NULL-out or throw on strings); equal digest ⇒ the star
    op was the identity ⇒ fixpoint.

    Returns (labels, rounds); labels = (doc_id, component_id = min id
    reachable). Isolated nodes (self-pairs only) label themselves via
    the final left join.
    """
    from pyspark.sql.window import Window

    nodes = (pairs.select(a.alias("doc_id"))
             .union(pairs.select(b.alias("doc_id")))
             .distinct().localCheckpoint())
    # orient big → small; the invariant u > v survives both star ops
    # (every rewired endpoint moves to a neighborhood MINIMUM)
    edges = (pairs.select(a.alias("x"), b.alias("y"))
             .where(F.col("x") != F.col("y"))
             .select(F.greatest("x", "y").alias("u"),
                     F.least("x", "y").alias("v"))
             .distinct().localCheckpoint())
    wu = Window.partitionBy("u")

    def stats(e):
        # type-agnostic fixpoint digest: (row count, Σ xxhash64(u, v))
        # — equality means the edge SET is unchanged (order-free sum;
        # collision odds are the repo's accepted md5/xxhash class). An
        # arithmetic u+v sum would NULL-out (ANSI off) or throw (ANSI
        # on) for string node ids, silently breaking convergence on
        # the id types the rest of the family supports. DECIMAL(38,0)
        # keeps the sum exact/overflow-free under either ANSI mode.
        r = e.agg(F.count("*"),
                  F.sum(F.xxhash64("u", "v").cast("decimal(38,0)"))
                  ).collect()
        return (r[0][0], r[0][1])

    prev = stats(edges)
    rounds = 0
    for _ in range(max_iter):
        if prev[0] == 0:
            break
        # large-star over the symmetrized adjacency: for each u, every
        # neighbor v > u re-hooks to m = min(Γ(u) ∪ {u})
        sym = edges.select("u", "v").union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        ls = (sym.withColumn(
                  "m", F.least(F.min("v").over(wu), F.col("u")))
              .where(F.col("v") > F.col("u"))
              .select(F.col("v").alias("u"), F.col("m").alias("v"))
              .where(F.col("u") != F.col("v"))
              .distinct())
        # small-star on the (already big→small) edges: every neighbor
        # AND u itself hook to m = min(Γ(u)); m < u always holds.
        # Both output rows come from ONE explode over ss, not a
        # 2-branch union — ss is lazy (large-star window + distinct +
        # the small-star window), so a union re-executed that whole
        # per-round subtree twice per round before the checkpoint.
        ss = ls.withColumn("m", F.min("v").over(wu))
        edges = (ss.select(F.explode(F.array(
                     F.struct(F.col("v").alias("u"),
                              F.col("m").alias("v")),
                     F.struct(F.col("u"),
                              F.col("m").alias("v")))).alias("r"))
                 .select("r.u", "r.v")
                 .where(F.col("u") != F.col("v"))
                 .distinct().localCheckpoint())
        rounds += 1
        cur = stats(edges)
        if cur == prev:
            break
        prev = cur
    # fixpoint = disjoint stars centered at component minima. The
    # groupBy(min) is shape insurance for a hypothetical max_iter
    # cutoff (a not-yet-contracted node would otherwise emit one row
    # per remaining edge); it rides the join's doc_id partitioning, so
    # it adds no exchange.
    labels = (nodes.join(edges, nodes["doc_id"] == edges["u"], "left")
              .select(nodes["doc_id"],
                      F.coalesce(edges["v"],
                                 nodes["doc_id"]).alias("component_id"))
              .groupBy("doc_id")
              .agg(F.min("component_id").alias("component_id")))
    return labels, rounds


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iter: int = 50,
                         driver_threshold: int = 200_000) -> DataFrame:
    """(doc_id, component_id): min-id components over pair edges.

    The dedup clustering step: near-dup PAIRS (from jaccard / minhash /
    cosine) become CLUSTERS, so one canonical doc per cluster survives.
    component_id = min doc id reachable through the pair graph —
    deterministic under any partitioning.

    Hybrid execution — the pair set is already the REDUCED output of the
    LSH/cosine stages (a 100 TB corpus yields pair lists orders of
    magnitude smaller than itself), so size the algorithm to the edges,
    not the corpus:

    - ≤ ``driver_threshold`` edges: collect and union-find on the driver
      (exact, one pass), then ship the (tiny) label map back as a
      broadcast-able DataFrame. Iterating a 32-partition distributed job
      per round over a few thousand edges is pure scheduler overhead —
      measured 7s → <1s at sf0.1.
    - larger graphs: alternating large-star/small-star contraction
      (:func:`_star_contraction`) — O(log² n) rounds worst case
      regardless of diameter, so hub graphs AND long chains both
      converge. Convergence: the (edge count, edge-set digest) pair
      stops changing, no row-level diff join.
      `localCheckpoint` truncates lineage each round — without it the
      plan doubles per iteration and planning cost explodes at scale.
    """
    a, b = F.col(id_a), F.col(id_b)
    # the pair generator may carry its own attached super-stage caches
    # (e.g. ngram_jaccard_pairs' shingle sets) — capture them BEFORE the
    # select strips the attachment, and release them at the same points
    # this op releases its own edge cache (the pair pipeline is fully
    # consumed inside this function on both paths)
    upstream = cached_deps(pairs)
    # materialize the (possibly expensive) pair-generation pipeline ONCE —
    # the size probe and every consumer below re-read these edges.
    # persist(), not localCheckpoint(): the checkpoint form launched a
    # blocking materialization job BEFORE the size probe (two full passes
    # over the pair pipeline); persist computes-and-caches inside the
    # count() job itself — one pass, same reuse.
    pairs = pairs.select(a, b).persist()
    n_edges = pairs.count()
    if n_edges <= driver_threshold:
        # driver union-find needs only the RAW pair list — none of the
        # symmetrized/self-loop ceremony the distributed rounds require
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:          # path compression
                parent[x], x = root, parent[x]
            return root

        for row in pairs.collect():
            s, d = row[0], row[1]
            parent.setdefault(s, s)
            parent.setdefault(d, d)
            rs, rd = find(s), find(d)
            if rs != rd:
                # union by MIN root: the canonical label IS the min id
                lo, hi = (rs, rd) if rs < rd else (rd, rs)
                parent[hi] = lo
        spark = pairs.sparkSession
        out_schema = pairs.select(
            a.alias("doc_id"), a.alias("component_id")).schema
        pairs.unpersist()  # edges consumed by the collect above — release
        for d in upstream:
            d.unpersist()
        # broadcast hint: this label map is driver-resident and bounded
        # (≤ 2·driver_threshold rows), but createDataFrame yields an
        # ExistingRDD with UNKNOWN stats — Spark's default reading is
        # "huge", so joins against it broadcast the OTHER side instead
        # (measured: keep_best broadcast the full scored-corpus
        # projection, serializing the quality-score regex pass on one
        # task — and at scale that side is the corpus). The star path
        # below returns checkpointed frames with real stats and keeps
        # the planner's choice.
        return F.broadcast(spark.createDataFrame(
            sorted((x, find(x)) for x in parent), out_schema))

    labels, _ = _star_contraction(pairs, a, b, max_iter)
    # nodes+edges are checkpointed inside — the pair pipeline and its
    # attached super-stage caches have served their purpose
    pairs.unpersist()
    for d in upstream:
        d.unpersist()
    return labels


def connected_components_duckdb_sql(pairs_sql: str) -> str:
    """DuckDB SQL for identical components via recursive transitive
    closure (oracle emitter). ``pairs_sql`` must yield (id_a, id_b).
    Closure size is Σ|component|² — fine for near-dup-sized clusters."""
    return (
        f"WITH RECURSIVE pairs AS ({pairs_sql}), "
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs "
        "          UNION SELECT id_b, id_a FROM pairs), "
        "reach(id, r) AS ("
        "  SELECT src, src FROM edges "
        "  UNION SELECT e.src, re.r FROM edges e JOIN reach re ON re.id = e.dst"
        ") "
        "SELECT id AS doc_id, min(r) AS component_id FROM reach GROUP BY id"
    )


# ---------------------------------------------------------------------------
# SimHash hamming-distance pairs via banded LSH (pigeonhole)
# ---------------------------------------------------------------------------

def simhash_hamming_pairs(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          max_hamming: int = 3) -> DataFrame:
    """(id_a, id_b, hamming) for document pairs whose 48-bit SimHash
    signatures differ in at most ``max_hamming`` bits.

    Scale path: NO cartesian product.  Signatures are banded into
    ``max_hamming + 1`` bit-ranges; candidates come from equi-joins on
    band values (shuffle keyed on 12-bit-ish band content), then the
    exact ``bit_count(xor)`` filter runs on candidates only.  The plan
    is exact (pigeonhole guarantee), unlike probabilistic MinHash
    banding.  Candidate volume is governed by band-value collisions;
    AQE's skew-join split handles a hot band value (e.g. the
    all-zeros signature of trivial documents).

    The signature table feeds both self-join sides — persist() computes
    the (explode + per-doc agg) signature pipeline once, not twice."""
    sig = simhash(df, text_col=text_col, id_col=id_col).persist()
    return attach(
        hamming_pairs(sig, "simhash", id_col,
                      nbits=4 * SIMHASH_HEX_CHARS, max_hamming=max_hamming),
        sig)


def hamming_pairs(sig_df: DataFrame, sig_col: str, id_col: str,
                  nbits: int, max_hamming: int) -> DataFrame:
    """(id_a, id_b, hamming) over ANY integer bit-signature column —
    the banded pigeonhole join shared by SimHash (48-bit text) and
    pHash (63-bit image) near-dup.

    Signatures band into ``max_hamming + 1`` contiguous bit-ranges; the
    unpivot is one stack() generator (zero-shuffle) so ONE equi-join on
    (band_i, band_v) covers every band; the exact ``bit_count(xor)``
    filter runs on candidates only. Exact by pigeonhole — never loses a
    pair within the hamming budget.
    """
    b = max_hamming + 1
    base, extra = divmod(nbits, b)
    bands, start = [], 0
    for i in range(b):
        width = base + (1 if i < extra else 0)
        bands.append((start, width))
        start += width
    stack_args = ", ".join(
        f"{i}, shiftright({sig_col}, {start}) & {2 ** width - 1}"
        for i, (start, width) in enumerate(bands)
    )
    banded = sig_df.select(
        F.col(id_col), F.col(sig_col),
        F.expr(f"stack({len(bands)}, {stack_args}) AS (band_i, band_v)"))
    a = banded.select(F.col(id_col).alias("id_a"),
                      F.col(sig_col).alias("sig_a"), "band_i", "band_v")
    bb = banded.select(F.col(id_col).alias("id_b"),
                       F.col(sig_col).alias("sig_b"), "band_i", "band_v")
    return (
        a.join(bb, ["band_i", "band_v"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.expr("bit_count(sig_a ^ sig_b)") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b",
                F.expr("bit_count(sig_a ^ sig_b)").cast("int")
                .alias("hamming"))
    )


def simhash_hamming_pairs_duckdb_sql(table: str = "documents",
                                     text_col: str = "text",
                                     id_col: str = "doc_id",
                                     max_hamming: int = 3) -> str:
    """DuckDB oracle: brute-force O(n²) self-join over the identical
    SimHash signatures (fine at test SFs; the Spark side is the banded
    scale path)."""
    sigs = simhash_duckdb_sql(table=table, text_col=text_col, id_col=id_col)
    return (
        f"WITH sigs AS ({sigs}) "
        f"SELECT a.{id_col} AS id_a, b.{id_col} AS id_b, "
        f"CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming "
        f"FROM sigs a JOIN sigs b ON a.{id_col} < b.{id_col} "
        f"WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}"
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (exact n-gram overlap against a held-out set)
# ---------------------------------------------------------------------------

def decontaminate(train_df: DataFrame, bench_df: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  n: int = 4) -> DataFrame:
    """Training docs sharing ≥1 word n-gram with the benchmark set:
    (doc_id, n_overlap) — the GPT-3/PaLM-style eval-decontamination gate.

    Scale shape: benchmarks are tiny next to the corpus, so the distinct
    benchmark shingle set BROADCASTS — the 100 TB training side is never
    shuffled for the probe (its shingles stream map-side through the hash
    join); the only exchange is the per-doc overlap count, which reuses
    the id-hash partitioning ``word_shingles`` already installed. Raising
    ``n`` tightens the match (classic choice: 8-13 on real prose; the
    short synthetic fixtures use 4).
    """
    t = word_shingles(train_df, text_col, id_col, n=n, distinct=True)
    b = (word_shingles(bench_df, text_col, id_col, n=n, distinct=False)
         .select("shingle").distinct())
    return (
        t.join(F.broadcast(b), "shingle")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_overlap"))
    )


def decontaminate_duckdb_sql(bench_pred: str, table: str = "documents",
                             text_col: str = "text", id_col: str = "doc_id",
                             n: int = 4) -> str:
    """DuckDB oracle: benchmark = rows satisfying ``bench_pred``, training
    = the rest of the same table (how the driver query carves the fixture)."""
    return (
        f"WITH w AS (SELECT {id_col}, "
        f"string_split_regex(lower(trim({text_col})), '\\s+') AS ws FROM {table}), "
        f"sh AS (SELECT DISTINCT {id_col}, array_to_string(ws[i+1:i+{n}], ' ') AS shingle "
        f"       FROM w, UNNEST(range(greatest(len(ws)-{n - 1}, 0))) AS t(i)), "
        f"bench AS (SELECT DISTINCT shingle FROM sh WHERE {bench_pred}) "
        f"SELECT s.{id_col}, count(*) AS n_overlap FROM sh s "
        f"JOIN bench b ON s.shingle = b.shingle "
        f"WHERE NOT ({bench_pred.replace(id_col, 's.' + id_col)}) "
        f"GROUP BY s.{id_col}"
    )


# ---------------------------------------------------------------------------
# Corpus-duplicated span statistics (substring-dedup signal)
# ---------------------------------------------------------------------------

def duplicate_span_stats(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", n: int = 6,
                         min_df: int = 2) -> DataFrame:
    """Per-document statistics of word n-gram spans that recur across the
    corpus: (id, n_spans, n_dup_spans, dup_fraction).

    The signal behind exact-substring deduplication (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a span
    appearing in >= ``min_df`` documents is boilerplate/duplicated text,
    and a document's duplicated-span fraction drives keep/trim/drop
    decisions. Spans are the per-document DISTINCT hashed shingle sets of
    :func:`hashed_shingle_sets`, so ``min_df`` counts *documents*
    containing the span, not occurrences.

    Scale shape: the span build is narrow per-row work; then exactly
    three exchanges — the document-frequency groupBy on the 8-byte span
    hash, the hit-count join+groupBy back to documents (only spans with
    df >= min_df survive into it, typically a small fraction of the span
    universe), and the final left join onto the per-doc sizes, which
    reuses the id partitioning ``hashed_shingle_sets`` installed. No
    pairwise join ever happens: cost is linear in corpus spans, which is
    what makes the signal computable at 100 TB where the O(n^2) pair
    formulations are not.
    """
    sh = hashed_shingle_sets(df, text_col, id_col, n).persist()
    spans = sh.select(F.col(id_col), F.explode("hs").alias("h"))
    dup = (spans.groupBy("h").agg(F.count("*").alias("df_h"))
           .where(F.col("df_h") >= min_df).select("h"))
    hit = (spans.join(dup, "h")
           .groupBy(id_col).agg(F.count("*").alias("_dup")))
    dup_n = F.coalesce(F.col("_dup"), F.lit(0))
    return attach(
        sh.join(hit, id_col, "left")
        .select(F.col(id_col), F.col("n_sh").alias("n_spans"),
                dup_n.alias("n_dup_spans"),
                _floor_round_col(dup_n / F.col("n_sh"), 6)
                .alias("dup_fraction")),
        sh)


def duplicate_span_stats_duckdb_sql(table: str = "documents",
                                    text_col: str = "text",
                                    id_col: str = "doc_id", n: int = 6,
                                    min_df: int = 2) -> str:
    """DuckDB oracle: identical md5-span hashing, df filter, and ratios."""
    return (
        f"WITH w AS (SELECT {id_col}, "
        f"string_split_regex(lower(trim({text_col})), '\\s+') AS ws FROM {table}), "
        f"sh AS (SELECT DISTINCT {id_col}, array_to_string(ws[i+1:i+{n}], ' ') AS shingle "
        f"       FROM w, UNNEST(range(greatest(len(ws)-{n - 1}, 0))) AS t(i)), "
        f"hs AS (SELECT DISTINCT {id_col}, CAST(concat('0x', "
        f"substring(md5(shingle), 1, {SHINGLE_HASH_HEX})) AS BIGINT) AS h FROM sh), "
        f"sizes AS (SELECT {id_col}, count(*) AS n_spans FROM hs GROUP BY 1), "
        f"dup AS (SELECT h FROM hs GROUP BY h HAVING count(*) >= {min_df}), "
        f"hit AS (SELECT {id_col}, count(*) AS dup FROM hs JOIN dup USING (h) "
        f"        GROUP BY 1) "
        f"SELECT s.{id_col}, n_spans, coalesce(dup, 0) AS n_dup_spans, "
        + _floor_round("coalesce(dup, 0) / n_spans", 6, "duckdb")
        + " AS dup_fraction "
        f"FROM sizes s LEFT JOIN hit USING ({id_col})"
    )


def trim_duplicate_spans(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", n: int = 6,
                         min_df: int = 2) -> DataFrame:
    """Exact-substring deduplication (Lee et al. 2022) as a transform:
    remove every token covered by a word n-gram span that occurs in >=
    ``min_df`` documents — (id, clean_text, n_tokens, n_removed).

    ``clean_text`` is rebuilt from the whitespace/case-normalized tokens
    (the same normalization the span hashes use), preserving original
    token order. Documents shorter than ``n`` words pass through
    untouched.

    Scale shape — no token-level join anywhere: span df-counts as in
    :func:`duplicate_span_stats` (groupBy on 8-byte hashes), covered
    START positions ride one (id, start, h)-explode joined against the
    (small) dup-span set and collapse to one array per doc, and the
    token-drop itself is a narrow higher-order ``exists`` over that
    array back on the document row. Exchanges: span-df groupBy, the
    hit join + per-doc collect, and the id-keyed join back — all linear
    in corpus size.
    """
    base = (
        _with_words(df.where(F.size(F.split(
            F.lower(F.trim(F.col(text_col))), r"\s+")) >= 1), text_col)
        .select(F.col(id_col), F.col("_ws"))
        .transform(lambda d: _spread(d, id_col))
        .persist()
    )
    span_h = (
        f"CAST(conv(substring(md5(concat_ws(' ', slice(_ws, s + 1, {n}))),"
        f" 1, {SHINGLE_HASH_HEX}), 16, 10) AS BIGINT)"
    )
    # (id, start, h) for every span occurrence; df-counts use per-doc
    # DISTINCT hashes so min_df counts documents, not occurrences
    pos = (
        base.where(F.size("_ws") >= n)
        .select(F.col(id_col), F.explode(F.expr(
            f"transform(sequence(0, size(_ws) - {n}), "
            f"s -> struct(s AS s, {span_h} AS h))")).alias("sp"))
        .select(F.col(id_col), F.col("sp.s").alias("s"),
                F.col("sp.h").alias("h"))
    )
    dup = (pos.select(id_col, "h").distinct()
           .groupBy("h").agg(F.count("*").alias("df_h"))
           .where(F.col("df_h") >= min_df).select("h"))
    covered = (pos.join(dup, "h")
               .groupBy(id_col).agg(F.collect_set("s").alias("_starts")))
    drop = (
        f"exists(_starts, st -> p >= st AND p < st + {n})"
    )
    kept = (
        f"filter(transform(_ws, (w, p) -> struct(w AS w, p AS p)), "
        f"x -> NOT exists(_starts, st -> x.p >= st AND x.p < st + {n}))"
    )
    return attach(
        base.join(covered, id_col, "left")
        .withColumn("_starts", F.coalesce(
            F.col("_starts"), F.expr("array()")))
        .select(
            F.col(id_col),
            F.expr(f"concat_ws(' ', transform({kept}, x -> x.w))")
            .alias("clean_text"),
            F.size("_ws").alias("n_tokens"),
            (F.size("_ws") - F.expr(f"size({kept})")).alias("n_removed")),
        base)


def trim_duplicate_spans_duckdb_sql(table: str = "documents",
                                    text_col: str = "text",
                                    id_col: str = "doc_id", n: int = 6,
                                    min_df: int = 2) -> str:
    """DuckDB oracle: identical span hashing, coverage, reconstruction."""
    return (
        f"WITH w AS (SELECT {id_col}, "
        f"string_split_regex(lower(trim({text_col})), '\\s+') AS ws "
        f"FROM {table} WHERE len(string_split_regex(lower(trim({text_col})),"
        f" '\\s+')) >= 1), "
        f"pos AS (SELECT {id_col}, CAST(s.s AS INTEGER) AS s, "
        f"CAST(concat('0x', substring(md5(array_to_string("
        f"ws[s.s + 1:s.s + {n}], ' ')), 1, {SHINGLE_HASH_HEX})) AS BIGINT)"
        f" AS h FROM w, UNNEST(range(greatest(len(ws) - {n - 1}, 0))) AS"
        f" s(s)), "
        f"dup AS (SELECT h FROM (SELECT DISTINCT {id_col}, h FROM pos) "
        f"GROUP BY h HAVING count(*) >= {min_df}), "
        f"cov AS (SELECT {id_col}, list(DISTINCT s) AS starts FROM pos "
        f"JOIN dup USING (h) GROUP BY 1) "
        # kept tokens: positions not covered by any dup-span start
        # (nested lambda — DuckDB forbids subqueries inside lambdas)
        f"SELECT w.{id_col}, "
        # coalesce: DuckDB's array_to_string of an empty list is NULL,
        # Spark's concat_ws is ''
        f"coalesce(array_to_string(list_transform(list_filter("
        f"list_zip(ws, range(len(ws))), "
        f"x -> len(list_filter(coalesce(starts, []), "
        f"st -> x[2] >= st AND x[2] < st + {n})) = 0), "
        f"x -> x[1]), ' '), '') AS clean_text, "
        f"len(ws) AS n_tokens, "
        f"len(ws) - len(list_filter(list_zip(ws, range(len(ws))), "
        f"x -> len(list_filter(coalesce(starts, []), "
        f"st -> x[2] >= st AND x[2] < st + {n})) = 0)) AS n_removed "
        f"FROM w LEFT JOIN cov USING ({id_col})"
    )


def source_overlap_matrix(pairs: DataFrame, docs: DataFrame,
                          key_col: str = "source",
                          id_col: str = "doc_id") -> DataFrame:
    """Curation diagnostic: which sources duplicate each other.

    Near-dup pairs (id_a, id_b, jaccard) × the per-doc ``key_col`` →
    (source_a, source_b, n_pairs, avg_jaccard), with the pair's sources
    ordered so (A,B) and (B,A) fold into one undirected cell. Reads the
    pair table (already LSH-pruned at scale) and joins the two doc-side
    key lookups. The (doc_id, key) map is CORPUS-sized (one row per
    document), so the join strategy is left to AQE — at 100 TB a forced
    broadcast would blow Spark's 8 GB broadcast limit; AQE still picks
    broadcast whenever the map measures small, and otherwise both joins
    are id-keyed hash joins pruned to ids appearing in the (small) pair
    table. One groupBy over the |sources|² cells ends the plan.
    avg_jaccard is floor((Σ DECIMAL / n)·1e6 + 0.5)/1e6 — the
    engine-exact rounding form (see functions/text.py
    ``floor_round6``): order-independent,
    oracle-exact.
    """
    keys = docs.select(F.col(id_col), F.col(key_col))
    ka = keys.select(F.col(id_col).alias("id_a"),
                     F.col(key_col).alias("_ka"))
    kb = keys.select(F.col(id_col).alias("id_b"),
                     F.col(key_col).alias("_kb"))
    return (
        pairs.join(ka, "id_a").join(kb, "id_b")
        .select(F.least("_ka", "_kb").alias("source_a"),
                F.greatest("_ka", "_kb").alias("source_b"),
                # native-round-ok: input is ALREADY 6-decimal-quantized
                # (pairs emit floor_round-ed jaccard), so this is an
                # idempotent re-quantization — the nearest 6-dec DECIMAL
                # is >1e-7 from any other and both engines convert the
                # same double to it exactly
                F.expr("CAST(round(jaccard, 6) "  # native-round-ok
                       "AS DECIMAL(18,6))")
                .alias("_j"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_pairs"),
             F.expr(_floor_round6("CAST(sum(_j) AS DOUBLE) / count(*)",
                                  "spark"))
             .alias("avg_jaccard"))
    )


def source_overlap_matrix_duckdb_sql(pairs_sql: str,
                                     docs_sql: str = "SELECT * FROM documents",
                                     key_col: str = "source",
                                     id_col: str = "doc_id") -> str:
    """DuckDB SQL computing the identical overlap cells (oracle)."""
    # native-round-ok: idempotent re-quantization of the already
    # floor_round-ed pair jaccard (see source_overlap_matrix)
    avg_j = _floor_round6(
        "CAST(sum(CAST(round(p.jaccard, 6) "  # native-round-ok
        "AS DECIMAL(18,6))) "
        "AS DOUBLE) / count(*)", "duckdb")
    return f"""
WITH pairs AS ({pairs_sql}),
keys AS (SELECT {id_col}, {key_col} FROM ({docs_sql}))
SELECT least(a.{key_col}, b.{key_col}) AS source_a,
       greatest(a.{key_col}, b.{key_col}) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       {avg_j} AS avg_jaccard
FROM pairs p
JOIN keys a ON p.id_a = a.{id_col}
JOIN keys b ON p.id_b = b.{id_col}
GROUP BY 1, 2
"""


def keep_best_per_component(df: DataFrame, pairs: DataFrame, score,
                            id_col: str = "doc_id",
                            round_to: int = 6) -> DataFrame:
    """(component_id, keep_id, quality, n_members): canonical-document
    selection — the step after clustering that near-dup dedup actually
    ships. Near-dup PAIRS become components
    (:func:`connected_components`), then ONE document per cluster
    survives: the highest ``score`` (a Column over ``df``, e.g.
    ``functions.text.quality_score``), ties broken by lowest id — so
    dedup keeps the best-written copy instead of an arbitrary one.

    Output covers only documents that appear in a near-dup cluster;
    singletons keep themselves by definition and would blow the result
    up to |corpus| rows for no information.

    Scale shape: the component table is sized by the PAIR graph (orders
    of magnitude smaller than the corpus — it is the reduced output of
    the LSH tier), the score join touches only those rows, and the
    top-1 + member-count both ride ONE hash partitioning by
    component_id (row_number and count over the same window key — no
    second exchange; WindowGroupLimit pushes the top-1 map-side).
    """
    from pyspark.sql import Window

    from .skew import spread_partitions

    comp = connected_components(pairs, max_iter=50)
    # the quality-score Column is the heavy narrow kernel (regex
    # passes over full text) and a single-row-group scan feeds it one
    # task — spread small inputs first (column pruning still pushes the
    # needed-columns projection below the exchange; no-op at scale)
    scored = spread_partitions(df, key_col=id_col).select(
        F.col(id_col).alias("_kid"), score.alias("_score"))
    j = comp.join(scored, comp["doc_id"] == scored["_kid"])
    w_rank = (Window.partitionBy("component_id")
              .orderBy(F.desc("_score"), F.asc("doc_id")))
    w_all = Window.partitionBy("component_id")
    return (j.withColumn("_rn", F.row_number().over(w_rank))
            .withColumn("n_members", F.count("*").over(w_all))
            .where(F.col("_rn") == 1)
            .select("component_id",
                    F.col("doc_id").alias("keep_id"),
                    _floor_round_col(F.col("_score"), round_to)
                    .alias("quality"),
                    "n_members"))


def keep_best_duckdb_sql(pairs_sql: str, score_sql: str,
                         docs_table: str = "documents",
                         id_col: str = "doc_id",
                         round_to: int = 6) -> str:
    """Oracle for :func:`keep_best_per_component` — components via the
    recursive-closure oracle, identical score expression, identical
    rank/tie order."""
    comp = connected_components_duckdb_sql(pairs_sql)
    return (
        f"WITH comp AS ({comp}), "
        f"scored AS (SELECT {id_col} AS _kid, {score_sql} AS _score "
        f"FROM {docs_table}), "
        "j AS (SELECT c.component_id, c.doc_id, s._score "
        "FROM comp c JOIN scored s ON c.doc_id = s._kid), "
        "r AS (SELECT component_id, doc_id, _score, "
        "row_number() OVER (PARTITION BY component_id "
        "ORDER BY _score DESC, doc_id) AS _rn, "
        "count(*) OVER (PARTITION BY component_id) AS n_members FROM j) "
        "SELECT component_id, doc_id AS keep_id, "
        + _floor_round("_score", round_to, "duckdb")
        + " AS quality, n_members "
        "FROM r WHERE _rn = 1"
    )


def containment_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      threshold: float = 0.5) -> DataFrame:
    """(id_sub, id_super, containment): ordered near-dup pairs by
    shingle-set CONTAINMENT ``C(A→B) = |A∩B| / |A|`` — the asymmetric
    companion to :func:`ngram_jaccard_pairs` for SUB-document
    duplication: a quote, a syndicated excerpt, or a doc embedded in a
    larger page has high containment in its superset but low Jaccard
    (the union is dominated by the big doc), so a Jaccard threshold
    misses exactly the pairs a decontamination/canonicalization pass
    wants (Broder 1997 distinguishes resemblance vs containment for
    this reason).

    Same machinery and shuffle census as the Jaccard op: one persisted
    per-doc set build, one self-join exchange on the shingle hash, one
    pair aggregation; |I| is computed once per unordered pair and both
    directions are derived from it as per-row arithmetic (no second
    join). NOTE the size-ratio prefilter is deliberately ABSENT: a
    small set fully contained in a huge one is the target signal here,
    not prunable noise — at scale, bound the join by composing with
    LSH candidates instead (the MinHash row-sampling bound applies to
    resemblance, not containment, so prune with the SUPERSET side's
    bands only — or run on a decontamination-style probe set).
    """
    sh = hashed_shingle_sets(df, text_col, id_col, n).persist()
    a = sh.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"),
                  F.explode("hs").alias("h"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"),
                  F.explode("hs").alias("h"))
    inter = (
        a.join(b, on="h")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count("*").alias("n_inter"))
    )
    c_ab = _floor_round_col(
        F.col("n_inter").cast("double") / F.col("n_a").cast("double"), 6)
    c_ba = _floor_round_col(
        F.col("n_inter").cast("double") / F.col("n_b").cast("double"), 6)
    # both directions from ONE computation of `inter` (explode, not a
    # 2-branch union): `inter` is the expensive shingle-hash self-join +
    # aggregation and nothing below it is persisted, so a union would
    # re-execute that subtree once per branch. Per-row map, same rows.
    both = inter.select(F.explode(F.array(
        F.struct(F.col("id_a").alias("id_sub"),
                 F.col("id_b").alias("id_super"),
                 c_ab.alias("containment")),
        F.struct(F.col("id_b").alias("id_sub"),
                 F.col("id_a").alias("id_super"),
                 c_ba.alias("containment")))).alias("r")
    ).select("r.id_sub", "r.id_super", "r.containment")
    return attach(
        both.where(F.col("containment") >= threshold), sh)


def containment_pairs_duckdb_sql(shingles_cte: str, n: int = 3,
                                 threshold: float = 0.5,
                                 id_col: str = "doc_id") -> str:
    """DuckDB SQL twin of :func:`containment_pairs` (oracle): identical
    hashed-set intersection counts and per-direction floor-rounded
    divides."""
    from ..functions.text import floor_round

    c_ab = floor_round("n_inter / CAST(sa.n_sh AS DOUBLE)", 6, "duckdb")
    c_ba = floor_round("n_inter / CAST(sb.n_sh AS DOUBLE)", 6, "duckdb")
    return (
        "WITH " + shingles_cte + ", "
        "hs AS (SELECT DISTINCT doc_id, CAST(concat('0x', "
        f"substring(md5(shingle), 1, {SHINGLE_HASH_HEX})) AS BIGINT) AS h "
        "FROM sh), "
        "sizes AS (SELECT doc_id, count(*) AS n_sh FROM hs GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "count(*) AS n_inter FROM hs a JOIN hs b ON a.h = b.h "
        "WHERE a.doc_id < b.doc_id GROUP BY 1, 2), "
        "both_dirs AS ("
        f"SELECT id_a AS id_sub, id_b AS id_super, {c_ab} AS containment "
        "FROM inter JOIN sizes sa ON sa.doc_id = id_a "
        "JOIN sizes sb ON sb.doc_id = id_b "
        "UNION ALL "
        f"SELECT id_b AS id_sub, id_a AS id_super, {c_ba} AS containment "
        "FROM inter JOIN sizes sa ON sa.doc_id = id_a "
        "JOIN sizes sb ON sb.doc_id = id_b) "
        f"SELECT id_sub, id_super, containment FROM both_dirs "
        f"WHERE containment >= {threshold}"
    )


def prefix_jaccard_pairs(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", n: int = 3,
                         threshold: float = 0.2, *,
                         mode: str = "auto",
                         num_hashes: int = 16,
                         bands: int = 4) -> DataFrame:
    """Exact Jaccard pairs via PREFIX FILTERING (SSJoin/PPJoin family —
    Chaudhuri et al. 2006, Bayardo et al. 2007, Xiao et al. 2008):
    bit-identical output to :func:`ngram_jaccard_pairs` at the same
    ``(n, threshold)``, with candidate generation pruned by a global
    token order instead of the full co-shingle self-join.

    The third candidate-generation strategy in the dedup family, and
    the only PRUNED one with **zero recall loss**: MinHash-LSH prunes
    probabilistically (a qualifying pair can miss every band), the
    co-shingle join is exact but materializes every co-occurrence of
    every shingle. Prefix filtering is exact-by-theorem: order each
    document's shingle set by ascending document frequency (rarest
    first, ties by hash — one global total order), keep only the first
    ``|x| − ⌈t·|x|⌉ + 1`` tokens as the PREFIX, and join prefixes. If
    J(x,y) ≥ t then |I| ≥ t·|U| ≥ t·max(|x|,|y|); if the smallest
    common token (in the global order) sat beyond x's prefix, every
    common token would lie in x's last ``⌈t·|x|⌉ − 1`` positions,
    forcing |I| < t·|x| — contradiction; symmetrically for y. So every
    qualifying pair shares a PREFIX token and the join loses nothing.
    The ceil is computed with a 1e-9 downward nudge so IEEE noise in
    ``t·|x|`` can only LENGTHEN a prefix (over-generate candidates),
    never shorten one (lose a pair).

    Scale: rare-first ordering makes prefix posting lists short —
    candidate volume is Σ_token df(token)² over PREFIX occurrences
    only, typically orders of magnitude under the co-shingle join's
    same sum over ALL occurrences; the size-ratio prune (shared slack
    rule with :func:`ngram_jaccard_pairs`) runs inside the join. Costs
    one extra exchange pair vs the plain join (token df count + the
    per-doc rank window); verification is per-candidate
    ``array_intersect`` on the in-row sets — JVM built-ins, rows =
    candidates, never corpus-shaped. Hot-token caveat: a token in P
    documents' prefixes contributes P² candidate rows, so a hot
    PREFIX token (loose thresholds put common tokens in prefixes; an
    exact-duplicate cluster puts ITS tokens in every member's prefix)
    re-creates the quadratic stage this operator exists to avoid.

    ``mode='auto'`` (default) therefore probes the longest prefix
    posting list (one count-agg over the persisted prefix table —
    paid once, and the persist also spares the candidate self-join a
    recompute) and, past ``HOT_POSTING_LIMIT``, routes to
    :func:`lsh_verified_jaccard_pairs` at the same ``(n, threshold,
    num_hashes, bands)`` with a warning. The routed path bounds
    candidates by band-bucket collisions but prunes
    PROBABILISTICALLY — a qualifying pair can miss every band — so
    callers needing the zero-recall-loss guarantee pin
    ``mode='prefix'`` (the driver entry does; on an exact-duplicate
    hot cluster the routed output is identical anyway — identical
    docs collide in every band).

    **Laziness note (ADVICE r11):** BOTH modes materialize the shared
    shingle/prefix pipeline at DataFrame-*construction* time — in
    ``auto`` the hot-token probe is an aggregate over it, and in
    ``prefix`` an explicit cache fill runs so the candidate
    self-join's two sides (and the broadcast-build thread) read a warm
    cache instead of re-executing the tokenize/df-count/rank chain
    once per consumer. Composing callers that only want the plan
    without executing it should build the un-pruned
    :func:`ngram_jaccard_pairs` instead.
    """
    from pyspark.sql.window import Window

    if not (0.0 < threshold <= 1.0):
        raise ValueError(
            f"threshold must be in (0, 1]: {threshold}")
    if mode not in ("auto", "prefix"):
        raise ValueError(f"mode must be 'auto' or 'prefix': {mode!r}")
    sh = hashed_shingle_sets(df, text_col, id_col, n).persist()
    tok = sh.select(F.col(id_col).alias("id"), "n_sh",
                    F.explode("hs").alias("h"))
    df_h = tok.groupBy("h").agg(F.count("*").alias("df_h"))
    w = Window.partitionBy("id").orderBy("df_h", "h")
    plen = (F.col("n_sh")
            - F.ceil(F.col("n_sh") * F.lit(float(threshold))
                     - F.lit(1e-9)) + 1)
    # The explicit keyed spread BELOW the window replaces the exchange
    # ENSURE_REQUIREMENTS would insert for partitionBy(id) anyway (same
    # key, so no extra shuffle) — but with an explicit count AQE cannot
    # byte-coalesce the persisted fill to one task
    # (canChangeCachedPlanOutputPartitioning is on session-wide).
    prefix = (_spread(tok.join(df_h, "h"), "id")
              .withColumn("_rnk", F.row_number().over(w))
              .where(F.col("_rnk") <= plen)
              .select("id", "n_sh", "h"))
    # The candidate self-join references `prefix` TWICE (sides a and b):
    # left un-persisted (the pre-r11 mode='prefix' shape), the whole
    # chain above — the df_h aggregation, its broadcast, and the
    # per-doc rank window — executes once PER SIDE (the replayed-
    # subtree pattern of OPTIMIZATION_r11 Change 12). Persist in BOTH
    # modes and materialize with exactly one job before the join forks;
    # in auto mode the hot-token probe is that materializing job.
    prefix = prefix.persist()
    extra_deps: tuple = (prefix,)
    if mode == "auto":
        hot = prefix.groupBy("h").agg(
            F.count("*").alias("p")).agg(F.max("p")).collect()[0][0]
        if hot is not None and hot > HOT_POSTING_LIMIT:
            _log.warning(
                "prefix_jaccard_pairs: hottest prefix token appears in "
                "%d documents (> HOT_POSTING_LIMIT=%d, ~%.0e candidate "
                "rows from that token alone) — routing to "
                "lsh_verified_jaccard_pairs(num_hashes=%d, bands=%d); "
                "LSH prunes probabilistically, pass mode='prefix' to "
                "force the exact path", hot, HOT_POSTING_LIMIT,
                float(hot) ** 2, num_hashes, bands)
            prefix.unpersist()
            sh.unpersist()
            return lsh_verified_jaccard_pairs(
                df, text_col, id_col, n=n, num_hashes=num_hashes,
                bands=bands, threshold=threshold)
    else:
        prefix.count()  # fill the shared cache once (count unused)
    a = prefix.select(F.col("id").alias("id_a"),
                      F.col("n_sh").alias("n_a"), "h")
    b = prefix.select(F.col("id").alias("id_b"),
                      F.col("n_sh").alias("n_b"), "h")
    # same output-preserving relative-slack size prune as
    # ngram_jaccard_pairs (rationale there)
    ratio_ok = (F.least("n_a", "n_b").cast("double")
                >= (threshold - 1e-6) * F.greatest("n_a", "n_b"))
    cand = (a.join(b, on="h")
            .where((F.col("id_a") < F.col("id_b")) & ratio_ok)
            .select("id_a", "id_b")
            .distinct())
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("hs").alias("_ha"),
                   F.col("n_sh").alias("n_a"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("hs").alias("_hb"),
                   F.col("n_sh").alias("n_b"))
    jac = (F.col("n_inter").cast("double")
           / (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
    out = (cand.join(sa, "id_a").join(sb, "id_b")
           .withColumn("n_inter",
                       F.size(F.array_intersect("_ha", "_hb")))
           .withColumn("jaccard", _floor_round_col(jac, 6))
           .where(F.col("jaccard") >= threshold)
           .select("id_a", "id_b", "jaccard"))
    return attach(out, sh, *extra_deps)
