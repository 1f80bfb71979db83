"""Binary (sign-bit) quantization + Hamming-distance search.

The third rung of the quantization ladder next to int8 scalar
(``operators/quantize.py``) and product quantization
(``operators/pq.py``): each dimension collapses to ONE bit
(``v > 0``), packed 32 bits per integer word — a 64-dim float32
vector becomes two words, 8 logical bytes, 32× smaller than the
floats. Hamming distance between packed codes approximates angular
distance (sign-random-projection theory: P[bit differs] = θ/π), and
is computed entirely with ``xor`` + ``bit_count`` — no float math in
the scan at all. That makes the binary scan the cheapest brute-force
tier there is: at 100 TB of raw vectors the packed code table is
~3 TB and the per-candidate cost is a handful of ALU ops, which is
why production vector stores run *binary prefilter → exact rerank*
(the shape ``hamming_topk(rerank=...)`` implements).

Scale shape:
- encode: narrow per-row projection, unrolled integer CASE sums (no
  higher-order functions — the ADC lesson from ``pq.py``: HOFs are
  interpreted, explicit arithmetic runs in whole-stage codegen), zero
  shuffle.
- scan: corpus codes ⋈ broadcast query codes; per pair W xor +
  bit_count ops (W = ceil(d/32)). The query side never collects to
  the driver — codes are computed as Spark expressions and the join
  broadcasts the (tiny) code columns only, never float vectors.
- rerank: only the k·rerank hamming survivors are joined back to
  unit vectors for exact cosine — shortlist cost, not corpus cost.

Determinism / oracle parity: bit packing is integer CASE sums
(exact on any engine, any partitioning); hamming is integer; the
optional cosine rerank reuses the sequential-fold unit-vector dot
whose DuckDB ``list_sum`` equivalence the similarity/PQ tiers
already pin. Word values use only bits 0..31 of a BIGINT, so no
engine hits signed-shift overflow (DuckDB rejects ``1::BIGINT << 63``).

Reference scope note: no vector search exists in the reference repo;
this extends the engine per the driver brief (similarity-search scale
path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from flink_sql_security_spark.functions.text import floor_round

from .similarity import (
    BROADCAST_LIMIT_BYTES, _UNIT_DOT, _rank_top_k, unit_vectors)

WORD_BITS = 32


def _word_expr(vec: str, j: int, d: int) -> str:
    """Unrolled integer sum packing bits [32j, 32j+32) of ``vec``.

    Bit b of word j is set iff ``vec[32j+b] > 0.0`` (strict sign rule:
    zeros and negatives clear; the float→double widening is exact so
    the comparison is engine-identical). Left-assoc BIGINT additions
    of disjoint powers of two — exact and order-independent on both
    engines; no shifts, no HOFs, per-element casts only (no repeated
    whole-array transform inside the unroll).
    """
    terms = []
    for b in range(WORD_BITS):
        i = j * WORD_BITS + b          # 0-based dimension index
        if i >= d:
            break
        pos = i + 1                    # both engines index arrays from 1
        terms.append(f"CASE WHEN CAST(element_at({vec}, {pos}) AS DOUBLE) "
                     f"> 0.0D THEN {1 << b}L ELSE 0L END")
    return "(" + " + ".join(terms) + ")"


def words_per_code(d: int) -> int:
    return (d + WORD_BITS - 1) // WORD_BITS


def _hamming_expr(a_words: list[str], b_words: list[str]) -> str:
    """Integer hamming distance over packed word column pairs."""
    body = " + ".join(
        f"bit_count(({a} ^ {b}))" for a, b in zip(a_words, b_words))
    return f"CAST(({body}) AS INT)"


def _dim(df: DataFrame, vec_col: str) -> int:
    row = df.select(F.size(vec_col).alias("d")).first()
    if row is None or row["d"] is None or row["d"] < 0:
        raise ValueError(
            f"binary: cannot infer vector dim from {vec_col!r} "
            "(empty input or NULL vector) — pass d= explicitly")
    return row["d"]


def _exact_rerank(df: DataFrame, queries_df: DataFrame, shortlist,
                  vec_col: str, id_col: str, k: int,
                  round_to: int) -> DataFrame:
    """Shared refine stage: exact unit-vector cosine over a (q_id,
    n_id) shortlist, final (q_id, n_id, cosine, rank) by cosine desc,
    n_id asc. One implementation for the flat and IVF scans — a tie
    rule or rounding fix lands in exactly one place."""
    from .skew import spread_partitions

    # the unit-normalization fold over the full corpus is narrow; off a
    # single-row-group scan it evaluates in ONE task (and at sf scale
    # Spark builds it as the broadcast side, serializing the whole
    # rerank behind that build) — conditional spread, no-op at scale
    units = unit_vectors(
        spread_partitions(df.select(id_col, vec_col), key_col=id_col),
        vec_col, id_col)
    qunits = unit_vectors(queries_df, vec_col, id_col) \
        .select(F.col(id_col).alias("q_id"), F.col("unit").alias("qunit"))
    dot = _UNIT_DOT.format(a="qunit", b="unit")
    rescored = (
        shortlist
        .join(units.withColumnRenamed(id_col, "n_id"), "n_id")
        .join(F.broadcast(qunits), "q_id")
        .select("q_id", "n_id",
                F.expr(floor_round(dot, round_to)).alias("cosine"))
    )
    return _rank_top_k(rescored, k)


def shortlist_cutoff(k: int, rerank) -> str:
    """ONE definition of the hamming-shortlist cutoff, as an
    engine-portable SQL expression (Spark and DuckDB both parse it —
    the floor_round single-definition rule). ``rerank='auto'`` sizes
    the shortlist to the per-query candidate count ``cand`` (a
    ``count(*) OVER (PARTITION BY q_id)`` column the caller supplies):
    ``max(8·k, ceil(5·sqrt(cand)))``. The floor is the documented knee
    on clustered corpora; the sqrt term is what the near-random regime
    needs — measured on the sf0.1 corpus (n=2000, k=5): fixed 8·k=40
    recalls 0.50 while ceil(5·sqrt(n))=224 recalls ~0.87, and the
    required fraction FALLS as n grows (tools/binary_probe.py, retired,
    see git history: recall rose 0.65→0.78 at a fixed 0.5 % fraction,
    5k→160k vecs), so a sqrt-sized shortlist keeps recall while the
    per-query rerank cost grows only as √n against the O(n) scan that
    dominates.
    ``sqrt``/``ceil``/``greatest`` are IEEE-exact and identical in both
    engines, so shortlist membership — and therefore every reranked
    value — stays strictly oracle-checkable."""
    rerank = check_rerank(rerank)  # single validation rule
    if rerank == "auto":
        return (f"greatest({8 * k}, "
                "CAST(ceil(5.0 * sqrt(cand)) AS BIGINT))")
    return str(k * rerank)


def check_rerank(rerank):
    """Validate ``rerank`` ONCE at operator entry: an int multiplier
    (``<= 0`` = no rerank) or the literal ``'auto'``. Any other string
    — including numeric strings like ``"4"`` — raises the same clear
    message as :func:`shortlist_cutoff` instead of being silently
    coerced by a downstream ``int()`` (or crashing with a bare
    ``ValueError`` on non-numeric strings)."""
    if rerank == "auto":
        return rerank
    if isinstance(rerank, str):
        raise ValueError(f"rerank must be an int or 'auto': {rerank!r}")
    return int(rerank)


def binary_codes(df: DataFrame, vec_col: str = "embedding",
                 id_col: str = "vec_id", d: int | None = None,
                 prefix: str = "w", spread: bool = True) -> DataFrame:
    """(id, w0..w{W-1}): sign-bit codes packed 32 bits per BIGINT word.

    Plain integer columns (not an array) so downstream xor/bit_count
    stay scalar codegen expressions. One narrow projection, no shuffle.

    NULL elements clear their bit (``NULL > 0.0`` is NULL, the CASE
    falls to 0) and NaN elements SET it (both engines order NaN above
    every value, so ``NaN > 0.0`` is true) — identically on Spark and
    DuckDB, so cross-engine parity holds. That is a deliberate
    contrast with the PQ tier's loud-raise policy: the bit code is a
    PREFILTER whose misses the exact rerank recovers, while a PQ code
    is the stored representation itself. Corpora that must not contain
    NULL vectors should gate with ``pq_encode``'s validation or a
    ``WHERE`` upstream.
    """
    from .skew import spread_partitions

    if d is None:
        d = _dim(df, vec_col)
    cols = [F.col(id_col)] + [
        F.expr(_word_expr(vec_col, j, d)).alias(f"{prefix}{j}")
        for j in range(words_per_code(d))
    ]
    # the d-element CASE fold per word is heavy narrow compute; a
    # single-row-group scan runs it in ONE task (measured: the whole
    # flat hamming scan serialized behind it) — conditional spread,
    # no-op on corpus-sized inputs; packing is per-row, so results
    # are partitioning-invariant. ``spread=False`` is for QUERY-batch
    # callers whose output feeds a broadcast build (spreading a
    # handful of query rows buys nothing and costs an exchange).
    if spread:
        df = spread_partitions(df, key_col=id_col)
    return df.select(*cols)


def _shortlist(ranked: DataFrame, k: int, rerank) -> DataFrame:
    """Spark-side twin of the oracle's ``short`` CTE: cut the ranked
    hamming scan to the rerank shortlist. ``'auto'`` adds the per-query
    candidate count over the SAME partition key the ranking window
    already shuffled on — no extra exchange."""
    from pyspark.sql.window import Window

    if rerank == "auto":
        return (ranked
                .withColumn("cand",
                            F.count("*").over(Window.partitionBy("q_id")))
                .where(F.col("rank") <= F.expr(shortlist_cutoff(k, rerank)))
                .select("q_id", "n_id"))
    return (ranked.where(F.col("rank") <= k * check_rerank(rerank))
            .select("q_id", "n_id"))


def hamming_topk(df: DataFrame, queries_df: DataFrame,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 k: int = 5, rerank: int | str = 0, round_to: int = 6,
                 d: int | None = None,
                 codes_df: DataFrame | None = None) -> DataFrame:
    """Top-k per query by packed-code hamming distance (asc, id asc).

    ``rerank=0``: returns (q_id, n_id, hamming, rank) straight from the
    binary scan. ``rerank=R``: the per-query hamming top-``k*R``
    shortlist is re-scored with exact unit-vector cosine (only the
    shortlist joins back to floats) and the final (q_id, n_id, cosine,
    rank) ranks by cosine desc, n_id asc — the binary-prefilter /
    exact-refine production shape. Self-pairs are excluded.
    ``rerank='auto'`` sizes the shortlist to the per-query candidate
    count — ``max(8·k, ceil(5·sqrt(n)))`` (:func:`shortlist_cutoff`)
    — so recall holds as the corpus grows instead of silently decaying
    at a fixed multiplier; the rule is computed in-plan on both
    engines, so the op stays strictly oracle-checkable.

    ``codes_df``: a precomputed (persisted) :func:`binary_codes` output
    for ``df`` — the build-once / probe-many index-reuse path (the
    codes_df convention the PQ tier established); pass it when many
    query batches probe the same corpus so the encode projection isn't
    re-evaluated per probe.
    """
    from pyspark.sql.window import Window

    rerank = check_rerank(rerank)  # before any Spark job (_dim)
    if d is None:
        d = _dim(df, vec_col)
    W = words_per_code(d)
    codes = codes_df if codes_df is not None \
        else binary_codes(df, vec_col, id_col, d=d)
    qcodes = binary_codes(queries_df, vec_col, id_col, d=d, prefix="qw",
                          spread=False) \
        .withColumnRenamed(id_col, "q_id")
    ham = _hamming_expr([f"w{j}" for j in range(W)],
                        [f"qw{j}" for j in range(W)])
    scan = (
        codes.crossJoin(F.broadcast(qcodes))
        .where(F.col(id_col) != F.col("q_id"))
        .select(F.col("q_id"), F.col(id_col).alias("n_id"),
                F.expr(ham).alias("hamming"))
    )
    w_ham = Window.partitionBy("q_id").orderBy(F.asc("hamming"),
                                               F.asc("n_id"))
    ranked = scan.withColumn("rank", F.row_number().over(w_ham))
    if rerank != "auto" and rerank <= 0:
        return ranked.where(F.col("rank") <= k) \
            .select("q_id", "n_id", "hamming", "rank")
    shortlist = _shortlist(ranked, k, rerank)
    return _exact_rerank(df, queries_df, shortlist, vec_col, id_col,
                         k, round_to)


# ---------------------------------------------------------------------------
# IVF-pruned binary search: cell-keyed hamming scan
# ---------------------------------------------------------------------------

def binary_codes_with_cell(df: DataFrame, coarse: list,
                           vec_col: str = "embedding",
                           id_col: str = "vec_id",
                           d: int | None = None) -> DataFrame:
    """(id, cell, w0..w{W-1}): the IVF-binary index — coarse-cell
    assignment (first-min argmin over the same sequential-fold L2 the
    k-means/PQ tiers pin) plus packed sign bits, one narrow projection.
    Persist this = the serving index (8 logical bytes + a cell id per
    64-dim vector).

    NULL/NaN vector elements RAISE here (the PQ tier's loud index
    policy, deliberately stricter than the flat tier's tolerant
    prefilter): a NULL element would NULL the distance fold, NULL the
    cell, and silently drop the row from every probe — unreachable at
    any n_probe, invisible to recall. An index row must exist or fail,
    never vanish.
    """
    from .clustering import _dists_expr
    from .skew import spread_partitions

    if d is None:
        d = _dim(df, vec_col)
    # coarse-cell argmin (interpreted L2 fold to every centroid) plus
    # the word packing is the heaviest narrow kernel in this tier; a
    # single-row-group scan runs it in ONE task (measured 1.5 s
    # serialized at sf0.1) — conditional spread, no-op at corpus scale;
    # per-row output, partitioning-invariant
    df = spread_partitions(df, key_col=id_col)
    xd = f"transform({vec_col}, v -> CAST(v AS DOUBLE))"
    # the IS NULL disjunct must come FIRST: under ANSI mode
    # size(NULL) is NULL and a NULL `bad` would fall through the CASE
    # to the silent-drop branch this guard exists to prevent; one fused
    # exists() scan (NULL check short-circuits before the cast) keeps
    # the interpreted HOF cost to a single pass per row
    bad = (f"{vec_col} IS NULL OR size({vec_col}) != {d} OR "
           f"exists({vec_col}, v -> v IS NULL OR "
           "isnan(CAST(v AS DOUBLE)))")
    words = [F.expr(_word_expr(vec_col, j, d)).alias(f"w{j}")
             for j in range(words_per_code(d))]
    cell = ("CASE WHEN " + bad + " THEN CAST(raise_error("
            "'binary_codes_with_cell: NULL/NaN elements or wrong dim — "
            "an IVF index row must exist or fail, never silently drop') "
            "AS INT) ELSE CAST(array_position(_dists, array_min(_dists)) "
            "AS INT) - 1 END")
    return (
        df.withColumn("_xd", F.expr(xd))
        .withColumn("_dists", F.expr(_dists_expr("_xd", coarse)))
        .select(F.col(id_col), F.expr(cell).alias("cell"), *words)
    )


def _gate_probe_broadcast(queries_df: DataFrame, id_col: str, vec_col: str,
                          n_probe: int, n_words: int) -> bool:
    """Broadcast gate for the IVF probe table, sized on what actually
    ships: n_probe rows of (q_id, cell, W packed words) per query — the
    packed codes are ~32× smaller than the float vectors, but the
    ×n_probe replication can still blow a broadcast for a large query
    batch. Same contract as similarity._auto_broadcast / pq's LUT gate:
    unknown input size → scale-safe (shuffle join on cell), never a
    surprise broadcast."""
    from ..plan_stats import plan_size_bytes

    size = plan_size_bytes(queries_df.select(id_col, vec_col))
    if size is None:
        return False
    d = n_words * WORD_BITS
    per_row_in = max(1, d * 8 + 8)
    per_row_out = n_probe * (8 * n_words + 16)
    return size * per_row_out // per_row_in <= BROADCAST_LIMIT_BYTES


def ivf_hamming_topk(df: DataFrame, queries_df: DataFrame, coarse: list,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     k: int = 5, n_probe: int = 4, rerank: int | str = 0,
                     round_to: int = 6, d: int | None = None,
                     codes_df: DataFrame | None = None) -> DataFrame:
    """Cell-pruned hamming top-k: the 100 TB binary search shape.

    The plain hamming scan touches every code row per query; with an
    IVF coarse quantizer routing code rows to cells and queries to
    their ``n_probe`` nearest cells (the same deterministic quantizer
    and probe rule the IVF-PQ tier pins), the xor+bit_count scan joins
    ON ``cell`` and touches ~n_probe/n_cells of the code table — the
    same pruning that made IVF-PQ the at-scale shape, on codes 2×
    smaller still. ``rerank=R`` re-scores the per-query hamming
    top-``k*R`` shortlist with exact cosine, identically to
    :func:`hamming_topk`.

    The query pass (probe cells + code words) is ONE ``mapInPandas``
    over the query table — no driver collect; NULL/NaN query vectors
    raise loudly (a NaN would pack differently in Python than in SQL —
    the engines order NaN above zero, Python does not).
    """
    from pyspark.sql.window import Window

    rerank = check_rerank(rerank)  # before any Spark job (_dim)
    if d is None:
        d = _dim(df, vec_col)
    W = words_per_code(d)
    codes = codes_df if codes_df is not None else \
        binary_codes_with_cell(df, coarse, vec_col, id_col, d=d)

    from .pq import probe_cells

    bc = queries_df.sparkSession.sparkContext.broadcast(
        (coarse, n_probe, d))

    def gen(batches):
        import numpy as np
        import pandas as pd

        crs, p, dd = bc.value
        for chunk in batches:
            q_ids, cells, words = [], [], []
            for _, row in chunk.iterrows():
                v = row[vec_col]
                if v is None or len(v) != dd:
                    raise ValueError(
                        f"ivf_hamming_topk: bad query vector for "
                        f"{id_col}={row[id_col]}")
                q = np.asarray(v, dtype=np.float64)
                if np.isnan(q).any():
                    raise ValueError(
                        f"ivf_hamming_topk: NaN query elements for "
                        f"{id_col}={row[id_col]}")
                ws = []
                for j in range(words_per_code(dd)):
                    w = 0
                    for b in range(WORD_BITS):
                        i = j * WORD_BITS + b
                        if i < dd and float(q[i]) > 0.0:
                            w += 1 << b
                    ws.append(w)
                for c in probe_cells(q, crs, p):
                    q_ids.append(int(row[id_col]))
                    cells.append(int(c))
                    words.append(ws)
            out = {"q_id": pd.array(q_ids, dtype="int64"),
                   "cell": pd.array(cells, dtype="int32")}
            for j in range(words_per_code(dd)):
                out[f"qw{j}"] = pd.array([w[j] for w in words],
                                         dtype="int64")
            yield pd.DataFrame(out)

    schema = "q_id long, cell int, " + ", ".join(
        f"qw{j} long" for j in range(W))
    probes = queries_df.select(id_col, vec_col).mapInPandas(gen, schema)
    # broadcast only when the optimizer proves the query side small
    # (accounting for the ×n_probe probe-row expansion); a large or
    # unknown query batch shuffle-joins on cell — the scale-safe default
    if _gate_probe_broadcast(queries_df, id_col, vec_col, n_probe, W):
        probes = F.broadcast(probes)
    ham = _hamming_expr([f"w{j}" for j in range(W)],
                        [f"qw{j}" for j in range(W)])
    scan = (
        codes.join(probes, "cell")
        .where(F.col(id_col) != F.col("q_id"))
        .select(F.col("q_id"), F.col(id_col).alias("n_id"),
                F.expr(ham).alias("hamming"))
    )
    w_ham = Window.partitionBy("q_id").orderBy(F.asc("hamming"),
                                               F.asc("n_id"))
    ranked = scan.withColumn("rank", F.row_number().over(w_ham))
    if rerank != "auto" and rerank <= 0:
        return ranked.where(F.col("rank") <= k) \
            .select("q_id", "n_id", "hamming", "rank")
    shortlist = _shortlist(ranked, k, rerank)
    return _exact_rerank(df, queries_df, shortlist, vec_col, id_col,
                         k, round_to)
