"""Similarity search over embedding columns (array<float>).

Brute-force cosine (oracle-checkable baseline) + LSH-bucketed ANN (the scale
path). All arithmetic stays in built-in higher-order functions — zip_with /
aggregate run inside codegen; float→double widening is exact so the DuckDB
oracle (list_cosine_similarity) matches bit-for-bit.

Scale notes:
- brute force is O(n²·d): correct tool below ~10⁵ vectors per bucket, after
  that use lsh_buckets to cut candidates, or broadcast one small side
- random-hyperplane LSH derives hyperplane components from md5 (deterministic,
  no driver-side RNG state to ship); b buckets ≈ n/2^bits vectors each
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from flink_sql_security_spark.functions.text import floor_round, floor_round_py
from flink_sql_security_spark.operators.cache import attach
from flink_sql_security_spark.plan_stats import plan_size_bytes

# Broadcast gates: a side is collected and broadcast only when the
# optimizer PROVES its plan under the limit. An unknown size takes the
# scale-safe (non-broadcast) path: at 100 TB a driver collect must never
# be the failure mode of a missing statistic. Corpus-, LUT- and
# probe-sized sides (the corpus unit matrix, the ADC LUTs, the IVF probe
# tables) get the wide limit. The exact top-k query matrix gets the
# narrow one: every corpus task holds all of it plus a |Q|×chunk score
# matrix.
BROADCAST_LIMIT_BYTES = 256 << 20
QUERY_BROADCAST_LIMIT_BYTES = 64 << 20

_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"
_NORM = "sqrt(aggregate({a}, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"


def unit_vectors(df: DataFrame, vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """(id, unit): L2-normalized double vectors, computed once per vector.

    Pre-normalizing turns every pairwise cosine into a single dot product —
    at n vectors and p candidate pairs this is O(n·d) normalization instead
    of O(p·d) norm recomputation (p ≈ n²/2 for brute force: ~3× less work
    per pair, and the win grows with candidate multiplicity in LSH).
    """
    norm = F.expr(_NORM.format(a=vec_col))
    return (
        df.select(F.col(id_col), F.col(vec_col), norm.alias("_n"))
        .select(
            F.col(id_col),
            F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE) / _n)")
            .alias("unit"),
        )
    )


_UNIT_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"


# -- exact JVM-arithmetic reproduction (Python side) ------------------------
#
# The blocked-BLAS stages below emit FINAL cosine values from Python instead
# of re-scoring candidates with the interpreted `aggregate` expression (two
# broadcast joins + one interpreted fold per pair — measured ~1s/query at
# sf0.1). That is only sound because these helpers reproduce the JVM
# arithmetic bit-for-bit:
# - norms and dots are SEQUENTIAL left folds (same IEEE add/mul order as
#   `aggregate(..., 0D, (acc, v) -> acc + v)`); numpy's pairwise sums would
#   drift by ~1 ulp
# - rounding is the shared floor rule (functions.text.floor_round_py ==
#   the Spark floor_round expression == the DuckDB floor form): Spark's
#   round() quantizes the shortest decimal repr (BigDecimal HALF_UP)
#   while DuckDB's rounds the exact binary value, and the two disagree
#   when a double sits within an ulp of a decimal midpoint — so NO
#   cross-engine final may use either engine's native round(). The
#   legacy _round_half_up below reproduces Spark round(); no production
#   site uses it anymore (round-8 sweep) — it stays as the reference
#   implementation the floor_round divergence tests compare against.

def _seq_sq_norms(M):
    """Per-row sqrt of the sequential-fold sum of squares."""
    import math

    out = []
    for row in M:
        acc = 0.0
        for x in row:
            acc += x * x
        out.append(math.sqrt(acc))
    import numpy as np

    return np.asarray(out, dtype=np.float64)


def _exact_unit_matrix(vec_lists):
    """float vectors → exact unit float64 matrix (JVM-identical values:
    float→double widening is exact, IEEE division is correctly rounded)."""
    import numpy as np

    M = np.asarray([np.asarray(v, dtype=np.float64) for v in vec_lists])
    return M / _seq_sq_norms(M)[:, None]


def _seq_dot(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _round_half_up(x: float, nd: int = 6) -> float:
    import decimal

    q = decimal.Decimal(1).scaleb(-nd)
    return float(decimal.Decimal(repr(x)).quantize(
        q, rounding=decimal.ROUND_HALF_UP))


def _corpus_rows(df: DataFrame) -> int:
    """EXACT corpus cardinality for plan-time sizing rules: always ONE
    count job (metadata-only on unfiltered parquet scans — footer row
    counts answer it without reading data pages). Deliberately NOT the
    optimizer's rowCount statistic: with CBO/plan-stats enabled that
    value can be a stale ANALYZE snapshot or a selectivity-derived
    ESTIMATE on filtered plans, and a sizing rule that also embeds in
    a DuckDB oracle as ``count(*)`` must agree with the oracle
    exactly — an estimate would silently change shortlist membership
    (the pq_topk flat→IVF gate was re-keyed onto exact counts for the
    same reason, BASELINE round-9)."""
    return df.count()


def _auto_broadcast(df: DataFrame, limit_bytes: int) -> bool:
    """True when the optimizer PROVES ``df`` at most ``limit_bytes``;
    an unknown size reads as large."""
    size = plan_size_bytes(df)
    return size is not None and size <= limit_bytes


# -- exact prune-and-rescore kernels ----------------------------------------
#
# Every exact path below (broadcast, blocked, fused IVF, joined IVF, LSH
# candidates, the ingest stream) scores the same way: a vectorized BLAS /
# einsum pass prunes, and each survivor is re-scored with the sequential
# fold and the shared floor rule, so a pair's cosine is the same double
# whichever path, group or chunk scored it.

_PAIRS_SCHEMA = "id_a long, id_b long, cosine double"
_TOPK_SCHEMA = "q_id long, n_id long, cosine double"


def _scored(id_names, out_a, out_b, out_c):
    """The (id, id, cosine) frame a scoring kernel emits."""
    import pandas as pd

    return pd.DataFrame({
        id_names[0]: pd.array(out_a, dtype="int64"),
        id_names[1]: pd.array(out_b, dtype="int64"),
        "cosine": pd.array(out_c, dtype="float64"),
    })


def _threshold_pairs(ids_a, A, ids_b, B, threshold: float, round_to: int,
                     margin: float, ordered: bool):
    """(min id, max id, cosine) for every row pair of ``A`` × ``B`` whose
    exact cosine reaches ``threshold``. The BLAS product keeps pairs
    within ``margin`` of it; ``ordered`` drops pairs with id_a ≥ id_b
    (sides that share rows see each pair twice, and itself once)."""
    import numpy as np

    S = A @ B.T
    ia, ib = np.nonzero(S >= threshold - margin)
    if ordered:
        keep = ids_a[ia] < ids_b[ib]
        ia, ib = ia[keep], ib[keep]
    out_a, out_b, out_c = [], [], []
    for i, j in zip(ia, ib):
        c = floor_round_py(_seq_dot(A[i], B[j]), round_to)
        if c >= threshold:
            x, y = sorted((int(ids_a[i]), int(ids_b[j])))
            out_a.append(x); out_b.append(y); out_c.append(c)
    return _scored(("id_a", "id_b"), out_a, out_b, out_c)


def _rescore_rows(chunk, a: str, b: str, Ua, Ub, threshold: float):
    """Row-paired exact rescore: (chunk[a], chunk[b], cosine) for the
    rows t whose cosine of ``Ua[t]``·``Ub[t]`` reaches ``threshold``.
    One row-wise einsum prunes (LSH candidates run ~10² per true pair);
    survivors get the exact fold, rounded to 6 places."""
    import numpy as np

    s = np.einsum("ij,ij->i", Ua, Ub)
    ids_a, ids_b = chunk[a].to_numpy(), chunk[b].to_numpy()
    out_a, out_b, out_c = [], [], []
    for t in np.nonzero(s >= threshold - (0.5e-6 + 1e-9))[0]:
        cv = floor_round_py(_seq_dot(Ua[t], Ub[t]), 6)
        if cv >= threshold:
            out_a.append(ids_a[t]); out_b.append(ids_b[t]); out_c.append(cv)
    return _scored((a, b), out_a, out_b, out_c)


def _rescore_joined(cand: DataFrame, left: DataFrame, right: DataFrame,
                    a: str, b: str, vec_col: str, id_col: str,
                    threshold: float) -> DataFrame:
    """Exact-rescore the (a, b) candidate pairs of ``cand`` with the
    vectors of ``left`` (ids in ``a``) and ``right`` (ids in ``b``)
    joined onto each pair: nothing collects to the driver. Unit
    normalization is per row and batch-independent, so the doubles
    match the broadcast path bit for bit."""
    va = left.select(F.col(id_col).alias(a), F.col(vec_col).alias("_va"))
    vb = right.select(F.col(id_col).alias(b), F.col(vec_col).alias("_vb"))

    def score(batches):
        for chunk in batches:
            if len(chunk):
                yield _rescore_rows(
                    chunk, a, b, _exact_unit_matrix(chunk["_va"].tolist()),
                    _exact_unit_matrix(chunk["_vb"].tolist()), threshold)

    return cand.join(va, a).join(vb, b).mapInPandas(
        score, f"{a} long, {b} long, cosine double")


def _prune_topk(s, idx, k: int):
    """``idx`` cut to the k highest ``s[idx]``, keeping every score within
    a float-drift margin of the k-th: the exact rescore decides those."""
    import numpy as np

    if len(idx) > k:
        kth = np.partition(s[idx], len(idx) - k)[len(idx) - k]
        idx = idx[s[idx] >= kth - 1e-8]
    return idx


def _topk_candidates(ids_q, Q, ids_n, A, k: int, round_to: int,
                     probed=None):
    """Each query's chunk-local top-k (± margin) among the rows of ``A``
    other than itself, exactly rescored; ``probed`` (a |Q|×rows bool
    matrix) narrows each query to the rows it marks. A global top-k
    neighbour is a fortiori in its chunk's top-k, so the union over
    chunks is a superset that :func:`_rank_top_k` cuts."""
    import numpy as np

    S = Q @ A.T                                # |Q| × chunk
    out_q, out_n, out_c = [], [], []
    for qi in range(len(ids_q)):
        eligible = ids_n != ids_q[qi]          # exclude self before the cut
        if probed is not None:
            eligible &= probed[qi]
        for j in _prune_topk(S[qi], np.nonzero(eligible)[0], k):
            out_q.append(ids_q[qi]); out_n.append(ids_n[j])
            out_c.append(floor_round_py(_seq_dot(Q[qi], A[j]), round_to))
    return _scored(("q_id", "n_id"), out_q, out_n, out_c)


def _no_topk(spark, k: int) -> DataFrame:
    """The empty answer of an empty query set, in the top-k schema."""
    return _rank_top_k(spark.createDataFrame([], _TOPK_SCHEMA), k)


def _rank_top_k(cand: DataFrame, k: int, score: str = "cosine",
                ascending: bool = False) -> DataFrame:
    """The final window: per query the k best ``score`` rows, ties broken
    by the lower n_id, numbered from 1 in ``rank``."""
    from pyspark.sql.window import Window

    order = F.asc(score) if ascending else F.desc(score)
    w = Window.partitionBy("q_id").orderBy(order, F.asc("n_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "n_id", score, "rank")
    )


def cosine_pairs(df: DataFrame, vec_col: str = "embedding",
                 id_col: str = "vec_id", threshold: float = 0.4,
                 round_to: int = 6, prefilter: bool = True,
                 n_blocks: int = 32) -> DataFrame:
    """All pairs with cosine ≥ threshold (brute force, id_a < id_b).

    Three physical strategies for the same logical result (per-pair
    arithmetic — exact sequential-fold dot + shared floor-rule rounding — is
    identical in all of them, pinned by the parity tests):

    - ``prefilter=True``, corpus proven under ``BROADCAST_LIMIT_BYTES``:
      blocked-BLAS candidate generation against a DRIVER-COLLECTED corpus
      matrix. ``mapInPandas`` tasks each take a chunk of rows and do a
      chunk×n matmul (vectorized, ~GFLOP/s) keeping only pairs within
      ``margin`` of the threshold; survivors are re-scored in-task with the
      exact sequential fold. The fastest shape when the n×d matrix fits the
      driver/executors.
    - ``prefilter=True``, corpus large or of unknown size: distributed
      block-pair BLAS — no driver collect anywhere. Rows are hashed into
      ``n_blocks`` blocks, each row is replicated to the ``n_blocks``
      unordered block pairs containing its block, and one ``applyInPandas``
      per block pair does the same matmul + exact rescore on its two sub-
      matrices. Every pair of rows meets in exactly one group, so output is
      identical. Shuffle volume is n·n_blocks vector copies (tunable); group
      memory is ~2(n/n_blocks)·d doubles. This is the 100 TB-safe brute-
      force shape — though past ~10⁶ vectors `ann_candidate_pairs` (sub-
      quadratic) is the better tool.
    - ``prefilter=False``: pure crossJoin + interpreted higher-order
      functions. Spark's HOFs are not codegen'd, so this is ~100× slower
      per pair; kept as the reference semantics / fallback.
    """
    if not prefilter:
        u = unit_vectors(df, vec_col, id_col)
        a = u.select(F.col(id_col).alias("id_a"), F.col("unit").alias("ua"))
        b = u.select(F.col(id_col).alias("id_b"), F.col("unit").alias("ub"))
        cos = F.expr(floor_round(_UNIT_DOT.format(a="ua", b="ub"), round_to))
        return (
            a.crossJoin(b)
            .where(F.col("id_a") < F.col("id_b"))
            .withColumn("cosine", cos)
            .where(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine")
        )
    # the margin covers BLAS pairwise-sum drift vs the exact sequential
    # fold (~1e-15) plus the round step (a raw value 0.5·10^-r below the
    # threshold still rounds up to it); exact re-score decides the rest
    margin = 0.5 * 10.0 ** (-round_to) + 1e-9
    raw = df.select(id_col, vec_col)
    if not _auto_broadcast(raw, BROADCAST_LIMIT_BYTES):
        return _blocked_cosine_pairs(raw, vec_col, id_col, threshold,
                                     round_to, margin, n_blocks)
    pdf = raw.toPandas()
    ids_all = pdf[id_col].to_numpy()
    U = _exact_unit_matrix(pdf[vec_col].tolist())
    bc = df.sparkSession.sparkContext.broadcast((ids_all, U))

    def gen(batches):
        ids_b, B = bc.value
        for chunk in batches:
            if len(chunk):
                yield _threshold_pairs(
                    chunk[id_col].to_numpy(),
                    _exact_unit_matrix(chunk[vec_col].tolist()), ids_b, B,
                    threshold, round_to, margin, ordered=True)

    return raw.mapInPandas(gen, _PAIRS_SCHEMA)


def _blocked_cosine_pairs(raw: DataFrame, vec_col: str, id_col: str,
                          threshold: float, round_to: int, margin: float,
                          n_blocks: int) -> DataFrame:
    """Distributed block-pair all-pairs cosine — never collects the corpus.

    Each row hashes into one of ``n_blocks`` blocks and is replicated to
    every unordered block pair (min(b,j), max(b,j)) containing its block,
    so a pair of rows from blocks (i, j) meets in EXACTLY one group: (i,j)
    cross pairs for i≠j, (b,b) upper-triangle self pairs. One
    ``applyInPandas`` per group runs the same blocked-BLAS prune + exact
    sequential-fold rescore as the broadcast path — per-pair arithmetic is
    row-local, so values are bit-identical regardless of which group
    scored the pair.
    """
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    base = raw.select(F.col(id_col), F.col(vec_col), blk.alias("_blk"))
    replicated = (
        base.select(
            "*",
            F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("_j"))
        .select(
            F.least("_blk", "_j").alias("_gi"),
            F.greatest("_blk", "_j").alias("_gj"),
            id_col, vec_col, "_blk")
    )

    def score_group(key, pdf):
        # a (b, b) group holds block b's rows only: both sides are pdf
        gi, gj = int(key[0]), int(key[1])
        left = pdf if gi == gj else pdf[pdf["_blk"] == gi]
        right = pdf if gi == gj else pdf[pdf["_blk"] == gj]
        if not (len(left) and len(right)):
            return _scored(("id_a", "id_b"), [], [], [])
        A = _exact_unit_matrix(left[vec_col].tolist())
        B = A if gi == gj else _exact_unit_matrix(right[vec_col].tolist())
        return _threshold_pairs(left[id_col].to_numpy(), A,
                                right[id_col].to_numpy(), B, threshold,
                                round_to, margin, ordered=gi == gj)

    return replicated.groupBy("_gi", "_gj").applyInPandas(
        score_group, _PAIRS_SCHEMA)


def cosine_topk(df: DataFrame, queries_df: DataFrame,
                vec_col: str = "embedding", id_col: str = "vec_id",
                k: int = 5, round_to: int = 6,
                n_blocks: int = 8, q_blocks: int = 8) -> DataFrame:
    """Top-k neighbors per query vector (brute force, exact).

    Physical shape when the optimizer proves the query table under
    ``QUERY_BROADCAST_LIMIT_BYTES``: the query side broadcasts
    as a unit matrix; corpus chunks stream through one ``mapInPandas``
    doing a Q×chunk BLAS matmul, keep each query's CHUNK-LOCAL top-k (±
    a float-drift margin — any global top-k element is a fortiori in its
    chunk's top-k, so the union over chunks is a guaranteed superset),
    re-score survivors with the exact sequential fold, and a final
    window picks the global top-k. The window input is ~n_chunks·|Q|·k
    rows, never the full n·|Q| cross product. Deterministic: ties broken
    by neighbor id.

    When the query table is large or of unknown size, NOTHING collects
    to the driver: ``_blocked_cosine_topk`` runs the same arithmetic as
    a block nested-loop — queries and corpus each hash into blocks, each
    side replicates across the other's block axis, and one
    ``applyInPandas`` per (q-block, c-block) group emits group-local
    top-k candidates for the same final window. Per-pair values are
    bit-identical to the broadcast path (pinned by the parity test).
    """
    q = queries_df.select(id_col, vec_col)
    if not _auto_broadcast(q, QUERY_BROADCAST_LIMIT_BYTES):
        return _blocked_cosine_topk(df.select(id_col, vec_col), q, vec_col,
                                    id_col, k, round_to, n_blocks, q_blocks)
    qpdf = q.toPandas()
    if qpdf.empty:
        return _no_topk(df.sparkSession, k)
    q_ids = qpdf[id_col].to_numpy()
    Q = _exact_unit_matrix(qpdf[vec_col].tolist())
    bc = df.sparkSession.sparkContext.broadcast((q_ids, Q))

    def gen(batches):
        ids_q, Qm = bc.value
        for chunk in batches:
            if len(chunk):
                yield _topk_candidates(
                    ids_q, Qm, chunk[id_col].to_numpy(),
                    _exact_unit_matrix(chunk[vec_col].tolist()), k,
                    round_to)

    cand = df.select(id_col, vec_col).mapInPandas(gen, _TOPK_SCHEMA)
    return _rank_top_k(cand, k)


def filtered_topk(df: DataFrame, queries_df: DataFrame, predicate: str,
                  vec_col: str = "embedding", id_col: str = "vec_id",
                  k: int = 5, round_to: int = 6,
                  n_blocks: int = 8, q_blocks: int = 8) -> DataFrame:
    """Filtered vector search: exact top-k among corpus rows satisfying
    a metadata ``predicate`` (SQL expression over the corpus columns).

    The filter applies BEFORE any distance math (pre-filtering) — the
    semantics every production vector store documents as "filtered
    search". The alternative, post-filtering (run plain top-k' then drop
    non-matching neighbors), is NOT equivalent: for a selective
    predicate the unfiltered top-k' may contain fewer than k matches —
    or none — however large k' is, so post-filtering silently under-
    returns exactly when the filter matters most. Pre-filtering is
    always exact: every returned neighbor matches, every match competes.

    Scale shape: the predicate lands on the corpus scan (Catalyst pushes
    a stored-column predicate into the parquet reader — check
    ``PushedFilters`` in the plan), so IO and the brute-force scan both
    shrink by the filter's selectivity before a single dot product runs;
    the scored side is then the usual :func:`cosine_topk` physical plan
    (broadcast-LUT mapInPandas or blocked NLJ). For a predicate over a
    SEPARATE metadata table, semi-join it in first
    (``df.join(meta_ids, id_col, 'left_semi')``) — same pre-filter
    semantics, broadcastable when the id set is small.
    """
    if not isinstance(predicate, str) or not predicate.strip():
        raise ValueError(
            f"filtered_topk: predicate must be a non-empty SQL string, "
            f"got {predicate!r}")
    return cosine_topk(df.where(predicate), queries_df, vec_col, id_col,
                       k, round_to, n_blocks, q_blocks)


def _blocked_cosine_topk(raw: DataFrame, q: DataFrame, vec_col: str,
                         id_col: str, k: int, round_to: int,
                         n_blocks: int, q_blocks: int) -> DataFrame:
    """Distributed brute-force top-k — neither side collects to the driver.

    Block nested-loop: corpus rows hash into ``n_blocks`` blocks and
    replicate across the ``q_blocks`` query-block axis; query rows hash
    into ``q_blocks`` blocks and replicate across the corpus-block axis.
    Every (query, corpus-row) pair meets in EXACTLY one (_qb, _cb) group;
    each group's ``applyInPandas`` runs the same Q×C BLAS prune +
    exact-fold rescore as the broadcast path and emits its group-local
    top-k (± margin) per query — a guaranteed superset of the global
    top-k, decided by the final window. Shuffle volume is
    |Q|·n_blocks + |C|·q_blocks vector copies (tunable); group memory is
    ~(|Q|/q_blocks + |C|/n_blocks)·d doubles.
    """
    def replicated(side: DataFrame, tag: int, own_blocks: int,
                   other_blocks: int, own_is_q: bool) -> DataFrame:
        own = F.pmod(F.xxhash64(F.col(id_col)), F.lit(own_blocks)).cast("int")
        other = F.explode(
            F.sequence(F.lit(0), F.lit(other_blocks - 1))).alias("_o")
        out = side.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
                          own.alias("_own"), other)
        qb = F.col("_own") if own_is_q else F.col("_o")
        cb = F.col("_o") if own_is_q else F.col("_own")
        return out.select(qb.alias("_qb"), cb.alias("_cb"), "_id", "_v",
                          F.lit(tag).alias("_side"))

    both = replicated(q, 0, q_blocks, n_blocks, True).unionByName(
        replicated(raw, 1, n_blocks, q_blocks, False))

    def score_group(key, pdf):
        qs = pdf[pdf["_side"] == 0]
        cs = pdf[pdf["_side"] == 1]
        if not (len(qs) and len(cs)):
            return _scored(("q_id", "n_id"), [], [], [])
        return _topk_candidates(
            qs["_id"].to_numpy(), _exact_unit_matrix(qs["_v"].tolist()),
            cs["_id"].to_numpy(), _exact_unit_matrix(cs["_v"].tolist()),
            k, round_to)

    cand = both.groupBy("_qb", "_cb").applyInPandas(score_group,
                                                    _TOPK_SCHEMA)
    return _rank_top_k(cand, k)


def _ivf_centroids(u: DataFrame, id_col: str, n_cells: int,
                   iters: int, sample: int):
    """Deterministic spherical k-means centroids (numpy, driver-side).

    Sample = the ``sample`` lowest-id unit vectors (no RNG → same centroids
    every run); init = farthest-point traversal; ``iters`` Lloyd rounds with
    L2-renormalization. Centroid fitting on a bounded sample is the standard
    IVF recipe — the expensive full-corpus step (assignment) stays
    distributed.
    """
    import numpy as np

    pdf = u.orderBy(id_col).limit(sample).toPandas()
    X = np.array(pdf["unit"].tolist(), dtype=np.float64)
    return _ivf_centroids_np(X, n_cells, iters)


def _ivf_centroids_np(X, n_cells: int, iters: int):
    """Shared numpy k-means core — the SQL-oracle emitter runs the same
    code on the same unit matrix so both engines embed identical centroid
    values.

    All products go through ``np.einsum`` (single-threaded, fixed
    reduction order) rather than BLAS ``@``: multi-threaded GEMM's
    reduction order varies with thread count, so the same call in two
    processes could disagree in the last ulp — and the centroid literals
    embedded in the oracle must be bit-identical to the query side's.
    """
    import numpy as np

    n_cells = min(n_cells, len(X))
    # farthest-point init: start at row 0, greedily add the point with the
    # lowest max-similarity to chosen centroids
    chosen = [0]
    sims = np.einsum("ij,j->i", X, X[0])
    for _ in range(n_cells - 1):
        nxt = int(np.argmin(sims))
        chosen.append(nxt)
        sims = np.maximum(sims, np.einsum("ij,j->i", X, X[nxt]))
    C = X[chosen].copy()
    for _ in range(iters):
        assign = np.argmax(np.einsum("ij,kj->ik", X, C), axis=1)
        for c in range(n_cells):
            members = X[assign == c]
            if len(members):
                v = members.sum(axis=0)
                norm = np.linalg.norm(v)
                if norm > 0:
                    C[c] = v / norm
    return C


def _recheck_near_tie_rows(B, A, cm):
    """Recompute near-tie centroid-dot rows with the sequential fold so
    argmax is fold-order-exact (BLAS drift can flip a ~equal top-2) —
    shared by ivf_assign and ivf_topk's fused pass, which MUST assign
    identically for the joined/fused parity contract."""
    import numpy as np

    if B.shape[1] > 1:
        top2 = np.partition(B, B.shape[1] - 2, axis=1)[:, -2:]
        for r in np.nonzero(top2[:, 1] - top2[:, 0] < 1e-9)[0]:
            B[r] = [_seq_dot(A[r], c) for c in cm]
    return B


def ivf_assign(df: DataFrame, vec_col: str = "embedding",
               id_col: str = "vec_id", n_cells: int = 16,
               iters: int = 5, sample: int = 4096,
               centroids=None) -> DataFrame:
    """(id, cell, unit): each vector assigned to its nearest IVF centroid.

    The corpus-wide pass is one mapInPandas matmul against the broadcast
    centroid matrix — O(n·cells·d) vectorized, no shuffle. Downstream
    searches shuffle on ``cell`` so only probed cells' vectors move.
    """
    import numpy as np

    u = unit_vectors(df, vec_col, id_col)
    C = (_ivf_centroids(u, id_col, n_cells, iters, sample)
         if centroids is None else centroids)
    bc = u.sparkSession.sparkContext.broadcast(C)

    def gen(batches):
        import pandas as pd

        cm = bc.value
        for chunk in batches:
            if not len(chunk):
                continue
            A = np.array(chunk["unit"].tolist(), dtype=np.float64)
            B = _recheck_near_tie_rows(A @ cm.T, A, cm)
            cell = np.argmax(B, axis=1).astype("int32")
            yield pd.DataFrame({
                id_col: chunk[id_col].to_numpy(),
                "cell": cell,
                "unit": chunk["unit"],
            })

    return u.mapInPandas(
        gen, f"{id_col} long, cell int, unit array<double>")


def ivf_topk(df: DataFrame, queries_df: DataFrame,
             vec_col: str = "embedding", id_col: str = "vec_id",
             k: int = 5, n_cells: int = 16, n_probe: int = 4,
             iters: int = 5, sample: int = 4096,
             round_to: int = 6) -> DataFrame:
    """Approximate top-k via IVF: probe the ``n_probe`` nearest cells only.

    Same output schema as `cosine_topk` (q_id, n_id, cosine, rank); recall
    < 1 by design — tune (n_cells, n_probe). Scale shape: the corpus is
    scanned once for assignment, then the search join touches only
    n_probe/n_cells of the vectors; candidate scoring is exact
    sequential-order cosine, so any pair this returns scores identically
    to the brute-force path.

    The fused single-pass shape below collects the query side to the
    driver, so it runs only when the optimizer proves the query table
    under ``QUERY_BROADCAST_LIMIT_BYTES``; a large/unknown query side
    takes ``_joined_ivf_topk`` — probe assignment happens in a
    ``mapInPandas`` over the query table and the search is a cell-keyed
    join, with no driver collect anywhere.
    """
    import numpy as np

    q = queries_df.select(id_col, vec_col)
    if not _auto_broadcast(q, QUERY_BROADCAST_LIMIT_BYTES):
        return _joined_ivf_topk(df, q, vec_col, id_col, k, n_cells,
                                n_probe, iters, sample, round_to)
    qpdf = q.toPandas()
    if qpdf.empty:
        return _no_topk(df.sparkSession, k)

    C = _ivf_centroids(unit_vectors(df, vec_col, id_col), id_col,
                       n_cells, iters, sample)

    # probe assignment for the (proven-small) query side happens driver-
    # side; the corpus pass fuses cell assignment + probed-cell scoring
    # into ONE mapInPandas: chunk vectors are unit-normalized (exact
    # fold), assigned by argmax against the broadcast centroids, and
    # scored against the queries probing their cell; chunk-local top-k
    # (± margin) bounds the emitted candidates, the final window picks
    # the global top-k. The corpus is scanned once, no vector ever joins
    # or shuffles.
    q_ids = qpdf[id_col].to_numpy()
    Q = _exact_unit_matrix(qpdf[vec_col].tolist())
    p = min(n_probe, len(C))
    q_cells = np.argsort(-np.einsum("ij,kj->ik", Q, C), kind="stable", axis=1)[:, :p]
    bcq = df.sparkSession.sparkContext.broadcast((q_ids, Q, q_cells, C))

    def score(batches):
        ids_q, Qm, probes, cm = bcq.value
        for chunk in batches:
            if not len(chunk):
                continue
            A = _exact_unit_matrix(chunk[vec_col].tolist())
            cell = np.argmax(_recheck_near_tie_rows(A @ cm.T, A, cm), axis=1)
            probed = np.array([np.isin(cell, c) for c in probes])
            yield _topk_candidates(ids_q, Qm, chunk[id_col].to_numpy(), A,
                                   k, round_to, probed)

    cand = df.select(id_col, vec_col).mapInPandas(score, _TOPK_SCHEMA)
    return _rank_top_k(cand, k)


def _joined_ivf_topk(df: DataFrame, q: DataFrame, vec_col: str,
                     id_col: str, k: int, n_cells: int, n_probe: int,
                     iters: int, sample: int, round_to: int) -> DataFrame:
    """IVF top-k for a LARGE query side — no driver collect anywhere.

    Corpus: ``ivf_assign`` (one mapInPandas pass → (id, cell, unit)).
    Queries: one mapInPandas pass emits (q_id, probe cell, unit) rows —
    probe sets come from the same stable argsort against the broadcast
    centroid matrix as the fused path, so both paths probe identical
    cells. Search: a cell-keyed shuffle join pairs each query with the
    ~n_probe/n_cells of the corpus it probes; a vectorized pass per
    Arrow batch prunes to batch-local top-k (± margin) before the exact
    sequential-fold rescore, and the final window picks the global
    top-k. Per-pair values are bit-identical to the fused path.
    """
    C = _ivf_centroids(unit_vectors(df, vec_col, id_col), id_col,
                       n_cells, iters, sample)
    assigned = ivf_assign(df, vec_col, id_col, n_cells, iters, sample,
                          centroids=C)
    p = min(n_probe, len(C))
    bcc = df.sparkSession.sparkContext.broadcast(C)

    def probes(batches):
        import numpy as np
        import pandas as pd

        cm = bcc.value
        for chunk in batches:
            if not len(chunk):
                continue
            Qm = _exact_unit_matrix(chunk[vec_col].tolist())
            cells = np.argsort(-np.einsum("ij,kj->ik", Qm, cm),
                               kind="stable", axis=1)[:, :p]
            idx = np.repeat(np.arange(len(Qm)), p)
            yield pd.DataFrame({
                "q_id": chunk[id_col].to_numpy()[idx],
                "cell": cells.ravel().astype("int32"),
                "_qu": pd.Series(list(Qm), dtype="object")
                .iloc[idx].reset_index(drop=True),
            })

    qprobe = q.mapInPandas(
        probes, "q_id long, cell int, _qu array<double>")
    paired = (
        assigned.join(qprobe, "cell")
        .where(F.col(id_col) != F.col("q_id"))
        .select("q_id", "_qu", F.col(id_col).alias("n_id"), "unit")
    )

    def score(batches):
        import numpy as np
        import pandas as pd

        for chunk in batches:
            if not len(chunk):
                continue
            Qm = np.array(chunk["_qu"].tolist(), dtype=np.float64)
            A = np.array(chunk["unit"].tolist(), dtype=np.float64)
            s = np.einsum("ij,ij->i", Qm, A)
            ids_q = chunk["q_id"].to_numpy()
            ids_n = chunk["n_id"].to_numpy()
            out_q, out_n, out_c = [], [], []
            for qid in pd.unique(ids_q):
                for j in _prune_topk(s, np.nonzero(ids_q == qid)[0], k):
                    out_q.append(qid); out_n.append(ids_n[j])
                    out_c.append(floor_round_py(_seq_dot(Qm[j], A[j]),
                                                round_to))
            yield _scored(("q_id", "n_id"), out_q, out_n, out_c)

    return _rank_top_k(paired.mapInPandas(score, _TOPK_SCHEMA), k)


def _hyperplane(table: int, plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component r[t][p][i] from
    md5(t|p|i) → uniform in [-1, 1]. Computed driver-side: same values on
    every run/executor with zero shipped state, and the plan carries plain
    double literals instead of 64 md5 expression nodes per plane."""
    import hashlib

    return [
        int(hashlib.md5(f"{table}|{plane}|{i}".encode()).hexdigest()[:6], 16)
        / float(16 ** 6 - 1) * 2 - 1
        for i in range(dim)
    ]


def lsh_buckets(df: DataFrame, vec_col: str = "embedding",
                id_col: str = "vec_id", bits: int = 8, dim: int = 64,
                tables: int = 1) -> DataFrame:
    """Random-hyperplane LSH bucket ids: (id, table, bucket), one row per table.

    ``bits`` trades bucket size against per-table recall (P(pair shares a
    bucket) = (1 - θ/π)^bits); ``tables`` OR-amplifies recall to
    1 - (1 - p)^tables. Bucketing cuts ANN candidates from O(n²) to
    O(tables · Σ bucket²).

    All tables·bits sign tests come from ONE numpy matmul per Arrow batch
    against the broadcast (tables·bits)×dim hyperplane matrix — a single
    pass over the vectors, no shuffle, no interpreted per-plane dot
    products (Spark higher-order functions are not codegen'd).
    """
    import numpy as np

    H = np.array(
        [_hyperplane(t, p, dim) for t in range(tables) for p in range(bits)],
        dtype=np.float64)
    weights = (2 ** np.arange(bits)).astype(np.int64)
    bc = df.sparkSession.sparkContext.broadcast((H, weights))

    def gen(batches):
        import pandas as pd

        Hm, w = bc.value
        for chunk in batches:
            if not len(chunk):
                continue
            A = np.array(chunk[vec_col].tolist(), dtype=np.float64)
            S = A @ Hm.T                             # n × (tables·bits)
            # knife-edge dots: BLAS pairwise summation can flip the sign of
            # a ~0 projection vs the sequential fold; recompute those few
            # sequentially so bucket ids are fold-order-exact (and therefore
            # reproducible by the SQL-oracle's list_sum)
            for i, p in np.argwhere(np.abs(S) < 1e-9):
                S[i, p] = _seq_dot(A[i], Hm[p])
            signs = S > 0.0
            buckets = signs.reshape(len(A), tables, bits) @ w  # n × tables
            ids = chunk[id_col].to_numpy()
            idx = np.repeat(np.arange(len(A)), tables)
            yield pd.DataFrame({
                id_col: ids[idx],
                "table": np.tile(np.arange(tables, dtype=np.int32), len(A)),
                "bucket": buckets.ravel().astype("int64"),
            })

    from .skew import spread_partitions

    # the hyperplane matmul is the heavy narrow kernel here, and a
    # single-row-group scan feeds it exactly ONE Arrow batch on one
    # task (measured: the whole bucket build serialized, 1.8 s at
    # sf0.1) — spread small inputs across cores; no-op on corpus-sized
    # scans. Per-row map output, so partitioning cannot change results.
    return spread_partitions(
        df.select(id_col, vec_col), key_col=id_col).mapInPandas(
        gen, f"{id_col} long, table int, bucket long")


def ann_candidate_pairs(df: DataFrame, vec_col: str = "embedding",
                        id_col: str = "vec_id", bits: int = 6,
                        dim: int = 64, threshold: float = 0.4,
                        tables: int = 4) -> DataFrame:
    """ANN near-dup pairs: cosine over candidates sharing any LSH bucket.

    The scale path for embedding dedup: shuffle on (table, bucket),
    per-bucket self-join, exact cosine only on survivors, distinct across
    tables. Tune (bits, tables) to the target cosine: near-dups (≥0.9) work
    with bits=8/tables=4; looser thresholds need more tables.

    Two scoring strategies give IDENTICAL results (per-pair arithmetic
    is the same either way — pinned by
    ``test_ann_join_scoring_matches_broadcast``):

    - corpus proven under ``BROADCAST_LIMIT_BYTES`` (up to ~10⁷ vectors
      at d=64): collect + broadcast the corpus matrix, score candidates
      with zero vector joins.
    - large or unknown size (the 100 TB path): never collects — unit
      vectors are joined onto the candidate pairs (two id-keyed hash
      joins, the second co-partitioned with the scorer's input) and each
      pair is scored from its own row. Cost is two shuffles of (pair, d·8 bytes), which
      beats shipping an impossible broadcast; the per-batch numpy work is
      unchanged.
    """
    broadcast_vectors = _auto_broadcast(df, BROADCAST_LIMIT_BYTES)
    # both self-join sides read the bucket table — persist() runs the
    # (numpy hyperplane-projection) bucket assignment once, not twice
    b = lsh_buckets(df, vec_col, id_col, bits, dim, tables).persist()
    a = b.select(F.col(id_col).alias("id_a"), "table", "bucket")
    c = b.select(F.col(id_col).alias("id_b"), "table", "bucket")
    # dedupe candidate ids across tables BEFORE the Python rescore: the
    # distinct exchanges two longs per pair, but it halves the rows that
    # cross the JVM→Arrow→pandas boundary — measured A/B at sf0.1/24
    # tables: distinct-first 2.4s vs dedupe-after-scoring 3.3s (the Arrow
    # transfer of duplicate candidates costs more than the shuffle).
    cand = (
        a.join(c, ["table", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    if not broadcast_vectors:
        # 100 TB path: ship vectors to the pairs, never the corpus to the
        # driver
        return attach(_rescore_joined(cand, df, df, "id_a", "id_b",
                                      vec_col, id_col, threshold), b)
    # exact scoring per candidate against the broadcast unit matrix, no
    # vector joins
    import numpy as np
    import pandas as pd

    pdf = df.select(id_col, vec_col).toPandas()
    U = _exact_unit_matrix(pdf[vec_col].tolist())
    idx_map = pd.Series(
        np.arange(len(pdf)), index=pdf[id_col].to_numpy())
    bc = df.sparkSession.sparkContext.broadcast((idx_map, U))

    def score(batches):
        idx, Um = bc.value
        for chunk in batches:
            if not len(chunk):
                continue
            ia = idx[chunk["id_a"].to_numpy()].to_numpy()
            ib = idx[chunk["id_b"].to_numpy()].to_numpy()
            yield _rescore_rows(chunk, "id_a", "id_b", Um[ia], Um[ib],
                                threshold)

    return attach(cand.mapInPandas(score, _PAIRS_SCHEMA), b)


def ann_candidate_pairs_duckdb_sql(table: str = "embeddings",
                                   vec_col: str = "embedding",
                                   id_col: str = "vec_id", bits: int = 6,
                                   dim: int = 64, threshold: float = 0.4,
                                   tables: int = 4) -> str:
    """DuckDB SQL reproducing ``ann_candidate_pairs`` exactly.

    The hyperplanes are deterministic driver-side constants, so they embed
    as double literals (repr round-trips to the identical IEEE value).
    Sign tests run on DuckDB's sequential ``list_sum`` fold — which the
    Spark side matches exactly via its near-zero sequential recheck — so
    bucket ids, candidate pairs, and the unit-dot cosines all agree
    bit-for-bit.
    """
    def dot(plane: list[float]) -> str:
        lits = ", ".join(repr(h) for h in plane)
        return (f"list_sum(list_transform(list_zip({vec_col}, [{lits}]), "
                "x -> CAST(x[1] AS DOUBLE) * x[2]))")

    bucket_exprs = []
    for t in range(tables):
        terms = " + ".join(
            f"(CASE WHEN {dot(_hyperplane(t, p, dim))} > 0 "
            f"THEN {2 ** p} ELSE 0 END)"
            for p in range(bits))
        bucket_exprs.append(f"({terms})")
    buckets_list = ", ".join(bucket_exprs)
    unit = (
        f"u AS (SELECT {id_col}, list_transform({vec_col}, "
        "x -> CAST(x AS DOUBLE) / n) AS unit"
        f" FROM (SELECT {id_col}, {vec_col}, "
        f"sqrt(list_sum(list_transform({vec_col}, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n"
        f" FROM {table}))"
    )
    return (
        f"WITH bk AS (SELECT {id_col}, [{buckets_list}] AS bs FROM {table}), "
        f"banded AS (SELECT {id_col}, t.i AS tbl, bs[t.i + 1] AS bucket "
        f"FROM bk, UNNEST(range({tables})) AS t(i)), "
        f"cand AS (SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b "
        "FROM banded a JOIN banded b ON a.tbl = b.tbl AND a.bucket = b.bucket "
        f"WHERE a.{id_col} < b.{id_col}), "
        + unit + " "
        "SELECT id_a, id_b, " + floor_round(
            "list_sum(list_transform(list_zip(ua.unit, ub.unit), "
            "x -> x[1] * x[2]))", 6, "duckdb") + " AS cosine "
        f"FROM cand JOIN u ua ON ua.{id_col} = id_a "
        f"JOIN u ub ON ub.{id_col} = id_b "
        "WHERE " + floor_round(
            "list_sum(list_transform(list_zip(ua.unit, ub.unit), "
            "x -> x[1] * x[2]))", 6, "duckdb") + f" >= {threshold}"
    )


def ivf_topk_duckdb_sql(parquet_path: str, query_pred: str = "vec_id < 20",
                        vec_col: str = "embedding", id_col: str = "vec_id",
                        k: int = 5, n_cells: int = 16, n_probe: int = 4,
                        iters: int = 5, sample: int = 4096,
                        round_to: int = 6) -> str:
    """DuckDB SQL reproducing ``ivf_topk`` exactly.

    Centroids and query probe sets are deterministic driver-side artifacts
    (k-means over the lowest-id sample, stable argsort of query-centroid
    scores) — the emitter re-derives them with the SAME numpy code from the
    parquet file and embeds them as literals; the SQL then verifies the
    distributed work: cell assignment (argmax over sequential-fold dots —
    matched by the Spark side's near-tie recheck), probed-cell scoring,
    and the deterministic top-k ranking.
    """
    import duckdb
    import numpy as np

    con = duckdb.connect()
    pdf = con.execute(
        f"SELECT {id_col}, {vec_col} FROM read_parquet('{parquet_path}') "
        f"ORDER BY {id_col}").df()
    U = _exact_unit_matrix(pdf[vec_col].tolist())
    C = _ivf_centroids_np(U[:sample], n_cells, iters)
    qmask = con.execute(
        f"SELECT {id_col} FROM read_parquet('{parquet_path}') "
        f"WHERE {query_pred} ORDER BY {id_col}").df()[id_col].to_numpy()
    id_order = pdf[id_col].to_numpy()
    qpos = np.searchsorted(id_order, qmask)
    Q = U[qpos]
    p = min(n_probe, len(C))
    q_cells = np.argsort(-np.einsum("ij,kj->ik", Q, C), kind="stable", axis=1)[:, :p]

    def dot(center) -> str:
        lits = ", ".join(repr(h) for h in center)
        return ("list_sum(list_transform(list_zip(unit, [" + lits + "]), "
                "x -> x[1] * x[2]))")

    d_aliases = ", ".join(
        f"{dot(C[c])} AS d_{c}" for c in range(len(C)))
    # first-max-wins argmax (np.argmax semantics): the first cell whose
    # score is >= every other cell's
    argmax = "CASE "
    for c in range(len(C)):
        others = ", ".join(f"d_{j}" for j in range(len(C)) if j != c)
        argmax += f"WHEN d_{c} >= greatest({others}) THEN {c} "
    argmax += "END"
    probe_rows = ", ".join(
        f"({int(q)}, {int(c)})"
        for qi, q in enumerate(qmask) for c in q_cells[qi])
    return (
        f"WITH u AS (SELECT {id_col}, list_transform({vec_col}, "
        "x -> CAST(x AS DOUBLE) / n) AS unit"
        f" FROM (SELECT {id_col}, {vec_col}, "
        f"sqrt(list_sum(list_transform({vec_col}, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n"
        f" FROM read_parquet('{parquet_path}'))), "
        f"dots AS (SELECT {id_col}, unit, {d_aliases} FROM u), "
        f"assign AS (SELECT {id_col}, unit, {argmax} AS cell FROM dots), "
        f"probes(q_id, cell) AS (VALUES {probe_rows}), "
        f"scored AS (SELECT p.q_id, a.{id_col} AS n_id, "
        + floor_round(
            "list_sum(list_transform(list_zip(uq.unit, a.unit), "
            "x -> x[1] * x[2]))", round_to, "duckdb") + " AS cosine "
        "FROM probes p JOIN assign a ON a.cell = p.cell "
        "JOIN u uq ON uq.{id} = p.q_id "
        "WHERE a.{id} <> p.q_id)".format(id=id_col) + " , "
        "ranked AS (SELECT q_id, n_id, cosine, row_number() OVER "
        "(PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank FROM scored) "
        f"SELECT q_id, n_id, cosine, rank FROM ranked WHERE rank <= {k}"
    )


# ---------------------------------------------------------------------------
# Semantic dedup: cosine-threshold pairs -> clusters -> canonical survivor
# ---------------------------------------------------------------------------

def semantic_dedup(df: DataFrame, vec_col: str = "embedding",
                   id_col: str = "vec_id",
                   threshold: float = 0.4) -> DataFrame:
    """(vec_id, component_id, is_kept): embedding-space near-dup removal.

    The third dedup modality of a training pipeline (after exact and
    lexical near-dup): pairs within cosine ``threshold`` are clustered by
    connected components and one canonical row (the min id) survives per
    cluster; rows in no pair survive trivially.

    Scale shape: pair generation is the blocked-BLAS + exact-rescore path
    of :func:`cosine_pairs`; components iterate over the (tiny) pair set
    only; the final labeling is a broadcast-able left join of the
    component map back onto the corpus — the full corpus is never
    shuffled.
    """
    from flink_sql_security_spark.operators.dedup import connected_components

    pairs = cosine_pairs(df, vec_col=vec_col, id_col=id_col,
                         threshold=threshold).select("id_a", "id_b")
    comp = connected_components(pairs).withColumnRenamed("doc_id", id_col)
    return (
        df.select(F.col(id_col))
        .join(F.broadcast(comp), on=id_col, how="left")
        .select(
            F.col(id_col),
            F.coalesce("component_id", F.col(id_col)).alias("component_id"))
        .withColumn("is_kept", F.col("component_id") == F.col(id_col))
    )


def lsh_bits_for(n_vectors: int, target_bucket: int = 40,
                 min_bits: int = 4, max_bits: int = 20) -> int:
    """Bucket-bit sizing rule: keep expected bucket occupancy near
    ``target_bucket`` as the corpus grows.

    Candidate volume per table is Σ bucket² ≈ n²/2^bits — with FIXED
    bits it grows quadratically in n (measured: 80k vectors at bits=8
    degraded to 549 vecs/s from 1618 at 20k; the candidate join emitted
    ~100M pre-distinct rows). Scaling bits with log2(n/target) keeps
    per-bucket occupancy — and therefore candidates per vector —
    constant. High-similarity pairs survive the extra bits easily
    (per-bit agreement ≈ 1 − θ/π is close to 1 near θ≈0), so near-dup
    recall stays high; for LOOSE thresholds raise ``tables``
    alongside bits (recall ≈ 1 − (1 − p^bits)^tables).
    """
    import math

    bits = int(math.ceil(math.log2(max(n_vectors, 1) / max(target_bucket, 1))))
    return max(min_bits, min(max_bits, bits))


def _matryoshka_shortlist_k(k: int, shortlist, n_corpus) -> int:
    """ONE definition of the matryoshka shortlist size (Spark and the
    DuckDB oracle compute the identical value). ``shortlist='auto'``
    sizes it to the corpus like the binary tier's ``rerank='auto'``:
    ``max(8·k, ceil(5·sqrt(n)))`` — the sqrt law the binary probe
    measured (the required shortlist FRACTION falls as n grows, so a
    √n shortlist keeps recall while rerank cost grows only as √n
    against the O(n) prefix scan that dominates). Unlike the binary
    tier the cutoff folds into a plan-time LITERAL rather than a
    per-query window count: the prefix scan's chunk-local top-K prune
    needs K before the scan runs, and corpus cardinality is a plan
    constant (ONE exact count job — metadata-only on parquet) — an
    in-plan window count would require materializing all n·|Q| prefix
    cosines first, forfeiting the O(K) per-chunk output that makes
    stage 1 the cheap stage. sqrt/ceil are IEEE-exact and identical
    across Python and DuckDB, so shortlist membership stays strictly
    oracle-checkable."""
    import math

    if shortlist == "auto":
        n = n_corpus() if callable(n_corpus) else n_corpus
        return max(8 * k, int(math.ceil(5.0 * math.sqrt(n))))
    if isinstance(shortlist, str):
        raise ValueError(
            f"shortlist must be an int >= 1 or 'auto': {shortlist!r}")
    if int(shortlist) < 1:
        raise ValueError(f"shortlist must be >= 1: {shortlist}")
    return k * int(shortlist)


def matryoshka_topk(df: DataFrame, queries_df: DataFrame, *,
                    prefix_dims: int, vec_col: str = "embedding",
                    id_col: str = "vec_id", k: int = 5,
                    shortlist: int | str = "auto", round_to: int = 6,
                    n_blocks: int = 8, q_blocks: int = 8) -> DataFrame:
    """Matryoshka two-stage search (Kusupati et al. 2022, "Matryoshka
    Representation Learning"): shortlist with the first ``prefix_dims``
    dimensions, rerank the shortlist with the full vector.

    MRL-trained embeddings make every prefix a usable embedding, so the
    scan stage reads ``prefix_dims/d`` of the vector bytes (at 100 TB of
    embeddings the scan is memory-bandwidth-bound — a 16/64 prefix is a
    ~4× throughput lift on the dominant stage), and the exact full-dim
    pass touches only ``k·shortlist`` candidates per query. Same
    prune-then-verify shape as the binary/IVF tiers, with a different
    pruning geometry (prefix subspace instead of sign bits / cells).

    Both stages reuse the proven machinery: the shortlist is
    :func:`cosine_topk` over ``slice(vec, 1, prefix_dims)`` (chunk-local
    top-k superset + floor-rounded sequential-fold cosines, so shortlist
    MEMBERSHIP is engine-exact), and the rerank is the shared
    ``_exact_rerank`` refine stage (one tie rule for every pruned scan).
    Recall is a property of the embedding's MRL quality AND the
    shortlist size: ``shortlist='auto'`` (default) sizes it
    ``max(8·k, ceil(5·sqrt(n)))`` via :func:`_matryoshka_shortlist_k`
    — on the isotropic synthetic fixture (worst case for prefix
    pruning: flat spectrum) auto lifts a 32/64 prefix from ~0.72 at
    the old fixed ×8 to ≥0.9 (see tests, pinned at two corpus sizes);
    an int is the legacy fixed multiplier (``k·shortlist``).
    """
    if prefix_dims < 1:
        raise ValueError(f"prefix_dims must be >= 1: {prefix_dims}")
    short_k = _matryoshka_shortlist_k(
        k, shortlist, lambda: _corpus_rows(df.select(id_col)))
    from .binary import _exact_rerank

    def truncate(frame: DataFrame) -> DataFrame:
        return frame.select(
            F.col(id_col),
            F.slice(F.col(vec_col), 1, prefix_dims).alias(vec_col))

    short = cosine_topk(
        truncate(df), truncate(queries_df), vec_col, id_col,
        k=short_k, round_to=round_to,
        n_blocks=n_blocks, q_blocks=q_blocks)
    return _exact_rerank(
        df.select(id_col, vec_col), queries_df.select(id_col, vec_col),
        short.select("q_id", "n_id"), vec_col, id_col, k, round_to)


def matryoshka_topk_duckdb_sql(table: str = "embeddings",
                               query_pred: str = "vec_id < 20", *,
                               prefix_dims: int,
                               vec_col: str = "embedding",
                               id_col: str = "vec_id", k: int = 5,
                               shortlist: int | str = "auto",
                               round_to: int = 6) -> str:
    """DuckDB SQL twin of :func:`matryoshka_topk` (oracle): the same
    prefix-unit shortlist (floor-rounded sequential-fold cosine, id tie
    break) and full-unit rerank. ``shortlist='auto'`` emits the
    :func:`_matryoshka_shortlist_k` sqrt rule as an in-query scalar
    subquery over the same table — ceil/sqrt are IEEE-identical to the
    Python fold, so both engines cut the identical shortlist."""
    if prefix_dims < 1:
        raise ValueError(f"prefix_dims must be >= 1: {prefix_dims}")
    if shortlist == "auto":
        cutoff = (f"greatest({8 * k}, CAST(ceil(5.0 * sqrt("
                  f"(SELECT count(*) FROM {table}))) AS BIGINT))")
    else:
        # validates the int range with the single shared rule
        cutoff = str(_matryoshka_shortlist_k(k, shortlist, 0))

    def unit_cte(name: str, vec: str) -> str:
        return (
            f"{name} AS (SELECT {id_col}, list_transform(xd, "
            "x -> x / n) AS unit "
            f"FROM (SELECT {id_col}, "
            f"list_transform({vec}, x -> CAST(x AS DOUBLE)) AS xd, "
            f"sqrt(list_sum(list_transform({vec}, "
            "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n "
            f"FROM {table}))")

    dot = floor_round(
        "list_sum(list_transform(list_zip({a}, {b}), x -> x[1] * x[2]))",
        round_to, "duckdb")
    return (
        "WITH "
        + unit_cte("pu", f"list_slice({vec_col}, 1, {prefix_dims})") + ", "
        + unit_cte("fu", vec_col) + ", "
        "pre AS (SELECT q.{i} AS q_id, n.{i} AS n_id, "
        .format(i=id_col)
        + dot.format(a="q.unit", b="n.unit") + " AS pcos "
        f"FROM pu q, pu n WHERE q.{id_col} IN "
        f"(SELECT {id_col} FROM {table} WHERE {query_pred}) "
        f"AND q.{id_col} <> n.{id_col}), "
        "short AS (SELECT q_id, n_id FROM ("
        "SELECT q_id, n_id, row_number() OVER ("
        "PARTITION BY q_id ORDER BY pcos DESC, n_id) AS prank FROM pre) "
        f"WHERE prank <= {cutoff}), "
        "rescored AS (SELECT s.q_id, s.n_id, "
        + dot.format(a="qu.unit", b="nu.unit") + " AS cosine "
        "FROM short s "
        f"JOIN fu qu ON qu.{id_col} = s.q_id "
        f"JOIN fu nu ON nu.{id_col} = s.n_id) "
        "SELECT q_id, n_id, cosine, rank FROM ("
        "SELECT q_id, n_id, cosine, row_number() OVER ("
        "PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank "
        f"FROM rescored) WHERE rank <= {k}"
    )
