"""Lexical retrieval over a document corpus: BM25 scoring / top-k.

The keyword-search primitive of a corpus-curation pipeline — "pull the
documents most relevant to these probe terms" (targeted decontamination,
topic-slice extraction, eval-set mining). Not present in the reference
(flink-sql-security has no retrieval surface); built Spark-first on the
same tokenizer contract as ``functions/text.py`` so vocabularies line up
across the text tier.

Scale design (100 TB corpus):

- The query-term filter lands IMMEDIATELY after the explode, before any
  shuffle — only rows whose token is in the (tiny, literal) term list
  survive, so the big shuffle moves ~|terms|/|vocab| of the token stream.
- One explicit ``repartition(doc_id)`` up front; both downstream
  aggregations (per-doc-term tf, per-doc score fold) reuse that hash
  partitioning (``HashPartitioning(doc_id)`` satisfies the clustered
  distribution of a superset grouping key), so the whole score pipeline
  is a single exchange.
- Document-frequency stats are |terms| rows — broadcast back, never a
  shuffle join.
- Corpus stats (N, avgdl) resolve driver-side once from exact integer
  aggregates, so plans carry literals rather than scalar-subquery
  re-scans.
- The final top-k is a row_number window over score — k is small, Spark
  plans the usual rank-filter; no global sort materialization of the
  corpus.

Float parity with the DuckDB oracle: per-(doc, term) scores quantize to
6 decimals with the shared floor rule (ln() agreement precision, same as
tf·idf), and the per-doc
total folds the per-term columns in FIXED term order — left-associated
addition in both engines — so no engine-dependent summation order exists
anywhere in the plan.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flink_sql_security_spark.functions.text import (
    floor_round_col, floor_round_py)

from .cache import attach
from .dedup import _spread

WS = r"\s+"


def term_col(term: str) -> str:
    return "s_" + "".join(ch if ch.isalnum() else "_" for ch in term)


def bm25_topk(df, terms, k: int = 20, *, text_col: str = "text",
              id_col: str = "doc_id", k1: float = 1.2, b: float = 0.75,
              stats: tuple[int, float] | None = None):
    """Top-k documents by BM25 against a fixed bag of query ``terms``.

    Returns (id_col, dl, <s_term...>, score, rank) — dl is the document
    token length, s_<term> the per-term partial scores (rounded to 6),
    score their fixed-order sum, rank the dense 1..k ordering (ties break
    on doc_id for determinism).

    ``stats`` may pre-supply (n_docs, avgdl) to skip the driver-side
    stats job when the caller already profiled the corpus.
    """
    terms = list(terms)
    if not terms:
        raise ValueError("bm25_topk requires at least one query term")
    if len(set(terms)) != len(terms):
        raise ValueError(f"duplicate query terms: {terms}")

    toks_all = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), WS), lambda t: t != "")
    with_dl = df.select(F.col(id_col), F.size(toks_all).alias("dl"),
                        F.col(text_col))

    if stats is None:
        row = with_dl.agg(
            F.count("*").alias("n"), F.sum("dl").alias("total")).collect()[0]
        n_docs = int(row["n"])
        avgdl = int(row["total"]) / n_docs  # exact ints -> one IEEE divide
    else:
        n_docs, avgdl = int(stats[0]), float(stats[1])

    toks = (
        _spread(with_dl, id_col)
        .select(F.col(id_col), F.col("dl"),
                F.explode(F.split(F.lower(F.trim(F.col(text_col))), WS))
                .alias("token"))
        # selective filter BEFORE the shuffle: only query terms survive
        .where(F.col("token").isin(terms))
    )
    # persist the (tiny: <= |docs|·|terms| rows) tf table so the
    # document-frequency aggregate reuses it instead of re-scanning and
    # re-exploding the full corpus in a second subtree
    tf = (toks.groupBy(id_col, "dl", "token")
          .agg(F.count("*").alias("tf")).persist())
    out = _bm25_score_tail(tf, terms, n_docs, avgdl, k1, b, k, id_col)
    return attach(out, tf)


def _bm25_score_tail(tf, terms, n_docs: int, avgdl: float, k1: float,
                     b: float, k: int, id_col: str):
    """Score + rank tail shared by the scan path (:func:`bm25_topk`) and
    the index path (:func:`bm25_topk_indexed`): both hand in the same
    (id, dl, token, tf) relation, so both emit bit-identical scores and
    check against the one oracle (``oracles.retrieval.bm25_topk_sql``)."""
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))

    # Robertson-Sparck-Jones idf (the "+1" variant, always positive), and
    # the classic BM25 tf saturation with length normalization.  Every
    # fractional literal and paren is mirrored verbatim in the SQL oracle.
    idf = F.log(((F.lit(n_docs) - F.col("df")) + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)) + F.lit(1.0))
    norm = F.col("tf") + (F.lit(k1) * ((F.lit(1.0 - b))
                                       + (F.lit(b) * (F.col("dl") / F.lit(avgdl)))))
    score = floor_round_col(idf * ((F.col("tf") * F.lit(k1 + 1.0)) / norm), 6)

    scored = tf.join(F.broadcast(dfreq), "token").withColumn("s", score)

    # fixed-order fold: one conditional-max column per term, added
    # left-to-right in the caller's term order on BOTH engines
    aggs = [F.max(F.when(F.col("token") == t, F.col("s")))
            .alias(term_col(t)) for t in terms]
    per_doc = scored.groupBy(id_col, "dl").agg(*aggs)
    total = F.coalesce(F.col(term_col(terms[0])), F.lit(0.0))
    for t in terms[1:]:
        total = total + F.coalesce(F.col(term_col(t)), F.lit(0.0))
    per_doc = per_doc.withColumn("score", floor_round_col(total, 6))

    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    return (per_doc.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def bm25_build_index(df, *, text_col: str = "text", id_col: str = "doc_id"):
    """(postings, stats): the build-once artifacts for indexed BM25.

    ``postings`` is one row per distinct (document, token):
    (token, id_col, dl, tf) — the classic inverted index laid out
    relationally, with the document length denormalized onto every
    posting so probes never join back to the corpus. ``stats`` is the
    exact (n_docs, avgdl) pair computed the same way as
    :func:`bm25_topk`'s driver-side stats job (exact integer aggregates,
    one IEEE divide), so indexed scores are bit-identical to scan scores.

    This is the build-once / probe-many production shape the per-call
    :func:`bm25_topk` scan cannot give you at scale: the 100 TB corpus is
    tokenized EXACTLY ONCE (one explode + one (doc, token) aggregate —
    the same single shuffle the scan path pays per query), and every
    subsequent query touches only its own terms' posting lists. Persist
    the result yourself — ``postings.write.partitionBy()`` is wrong here
    (token cardinality ~vocabulary size would explode the file count);
    write plain parquet sorted within partitions by token
    (``sortWithinPartitions('token')``) so min/max row-group stats make
    the probe-time ``token IN (...)`` filter skip row groups, or bucket
    by token for the co-located aggregate.
    """
    toks_all = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), WS), lambda t: t != "")
    with_dl = df.select(F.col(id_col), F.size(toks_all).alias("dl"),
                        F.col(text_col))
    row = with_dl.agg(
        F.count("*").alias("n"), F.sum("dl").alias("total")).collect()[0]
    n_docs = int(row["n"])
    avgdl = int(row["total"]) / n_docs  # exact ints -> one IEEE divide

    postings = (
        _spread(with_dl, id_col)
        .select(F.col(id_col), F.col("dl"),
                F.explode(F.split(F.lower(F.trim(F.col(text_col))), WS))
                .alias("token"))
        # the split's empty artifacts are not words — dl already excludes
        # them; a probe never asks for '' so storing its postings is waste
        .where(F.col("token") != "")
        .groupBy("token", F.col(id_col), F.col("dl"))
        .agg(F.count("*").alias("tf"))
    )
    return postings, (n_docs, avgdl)


def bm25_topk_indexed(postings, stats, terms, k: int = 20, *,
                      id_col: str = "doc_id", k1: float = 1.2,
                      b: float = 0.75):
    """Top-k BM25 answered from a prebuilt inverted index.

    ``postings``/``stats`` come from :func:`bm25_build_index` (or the
    same relation read back from its parquet artifact). Per query the
    plan reads ONLY the query terms' posting lists — the ``token IN``
    filter is pushed into the scan of the narrow postings table, so
    probe cost is O(Σ posting-list length), independent of corpus size —
    then runs the identical score/rank tail as :func:`bm25_topk`.
    Output schema and every double match the scan path bit-for-bit
    (same fixed-order fold, same floor rule), so the one oracle
    (``oracles.retrieval.bm25_topk_sql``) checks both.
    """
    terms = list(terms)
    if not terms:
        raise ValueError("bm25_topk_indexed requires at least one query term")
    if len(set(terms)) != len(terms):
        raise ValueError(f"duplicate query terms: {terms}")
    n_docs, avgdl = int(stats[0]), float(stats[1])
    # persist the pruned slice: the score tail reads it twice (df agg +
    # score join); without the boundary both subtrees re-scan the index
    tf = (postings.where(F.col("token").isin(terms))
          .select(id_col, "dl", "token", "tf").persist())
    out = _bm25_score_tail(tf, terms, n_docs, avgdl, k1, b, k, id_col)
    return attach(out, tf)


# ---------------------------------------------------------------------------
# MMR diversity re-ranking (maximal marginal relevance)
# ---------------------------------------------------------------------------

def mmr_rerank(df, queries_df, *, vec_col: str = "embedding",
               id_col: str = "vec_id", k: int = 5, shortlist: int = 20,
               lam: float = 0.7, round_to: int = 6):
    """Diversity-aware top-k: greedy maximal marginal relevance.

    Carbonell & Goldberg 1998: pick the candidate maximizing
    ``lam * rel(q, i) - (1 - lam) * max_{s in selected} sim(i, s)`` —
    relevance traded against redundancy with what's already picked.
    The de-duplicating selection pass of retrieval pipelines (and of
    training-data selection: "most relevant, mutually distinct").

    Scale shape: stage 1 is the existing distributed exact-cosine
    top-``shortlist`` (``similarity.cosine_topk`` — never a full
    cross product); stage 2 joins the R·|Q|-row shortlist back to
    unit vectors and runs ONE ``applyInPandas`` greedy per query
    group — O(R·k) dot products per query, shortlist cost, not
    corpus cost. The greedy is inherently sequential per query but
    queries parallelize perfectly.

    Determinism / oracle parity: rel comes rounded from the shortlist
    stage; candidate-candidate sims round with the same shared floor
    rule before entering scores (`floor_round_py` == the Spark
    floor_round expression == the DuckDB floor form — native round()
    disagrees across engines on midpoint-ulp doubles); score arithmetic
    is a fixed op order on bit-identical doubles; argmax ties break
    to the smallest n_id. The oracle unrolls the k greedy stages as
    CTEs (PageRank's fixed-iteration pattern).

    Returns (q_id, n_id, mmr_score, sel_pos), sel_pos in 1..k.
    """
    import pandas as pd

    from .similarity import _seq_dot, cosine_topk, unit_vectors

    om = 1.0 - lam
    short = (cosine_topk(df, queries_df, vec_col, id_col,
                         k=shortlist, round_to=round_to)
             .select("q_id", "n_id", F.col("cosine").alias("rel")))
    units = unit_vectors(df, vec_col, id_col) \
        .withColumnRenamed(id_col, "n_id")
    grouped = short.join(units, "n_id").select("q_id", "n_id", "rel",
                                               "unit")

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("n_id").reset_index(drop=True)
        ids = pdf["n_id"].to_numpy()
        rel = pdf["rel"].to_numpy(dtype=np.float64)
        U = np.asarray(pdf["unit"].tolist(), dtype=np.float64)
        n = len(ids)
        remaining = list(range(n))          # n_id-ascending order
        # -inf, not 0: sims can be negative, and the max over the
        # selected set must be the true max (at pos >= 1 every
        # remaining candidate has been scored against each selected)
        maxsim = np.full(n, -np.inf, dtype=np.float64)
        out_n, out_s, out_p = [], [], []
        for pos in range(min(k, n)):
            best = None
            for i in remaining:
                # pos 0 selects by REL itself (the oracle's sel1 ranks
                # by rel DESC) — identical to argmax(lam*rel) for any
                # lam > 0, and still correct at lam = 0 where lam*rel
                # collapses to ±0.0 and would tie everything
                sc = rel[i] if pos == 0 else \
                    (lam * rel[i]) - (om * maxsim[i])
                if best is None or sc > best_sc:
                    best, best_sc = i, sc
            if pos == 0:
                best_sc = lam * rel[best]      # the recorded score
            remaining.remove(best)
            out_n.append(int(ids[best]))
            # no second rounding: rel and sims are already rounded
            # identically on both engines, so the fixed-op-order score
            # is bit-identical raw — re-rounding would only reopen the
            # HALF_UP-vs-binary boundary between engines
            out_s.append(float(best_sc))
            out_p.append(pos + 1)
            if pos + 1 < k:
                for i in remaining:
                    s = floor_round_py(_seq_dot(U[i], U[best]), round_to)
                    if s > maxsim[i]:
                        maxsim[i] = s
        return pd.DataFrame({
            "q_id": pd.array([int(pdf["q_id"].iloc[0])] * len(out_n),
                             dtype="int64"),
            "n_id": pd.array(out_n, dtype="int64"),
            "mmr_score": pd.array(out_s, dtype="float64"),
            "sel_pos": pd.array(out_p, dtype="int32"),
        })

    return grouped.groupBy("q_id").applyInPandas(
        fn, "q_id long, n_id long, mmr_score double, sel_pos int")


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion (hybrid lexical + semantic retrieval)
# ---------------------------------------------------------------------------

def check_rrf_names(names: list[str]) -> None:
    if not names:
        raise ValueError("rrf_fuse requires at least one ranked input")
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate rrf input names: {names}")
    for n in names:
        # ASCII-only: the name embeds in unquoted SQL identifiers
        # (l_<name>, r_<name>) on both engines — bare str.isalnum()
        # would wave through Unicode alphanumerics DuckDB rejects
        if not n or not all(
                c == "_" or (c.isascii() and c.isalnum()) for c in n):
            raise ValueError(
                f"rrf input name must be [A-Za-z0-9_]+ (used in output "
                f"column r_<name>): {n!r}")


def check_rrf_weights(weights, names):
    if weights is None:
        return [1.0] * len(names)
    if len(weights) != len(names):
        raise ValueError(
            f"rrf weights length {len(weights)} != inputs {len(names)}")
    ws = [float(w) for w in weights]
    if any(w <= 0 or not math.isfinite(w) for w in ws):
        raise ValueError(f"rrf weights must be finite and > 0: {weights}")
    return ws


def rrf_fuse(ranked, *, id_col: str = "doc_id", rank_col: str = "rank",
             k0: int = 60, k: int = 20, round_to: int = 6,
             group_col: str | None = None,
             weights: list[float] | None = None):
    """Reciprocal-rank fusion of N ranked candidate lists
    (Cormack, Clarke & Buettcher, SIGIR 2009): each document scores
    ``sum over lists of 1/(k0 + rank_in_list)``, missing-from-a-list
    contributes 0, and the fused top-``k`` re-ranks by that sum.
    The standard way to combine heterogeneous retrievers — e.g. BM25
    lexical ranks with embedding-cosine ranks — without score
    calibration, since only RANK POSITIONS enter the formula.

    ``ranked`` is an ordered list of ``(name, DataFrame)`` pairs; each
    frame needs ``id_col`` + integer ``rank_col`` (ranks >= 1, unique
    ids per list — the top-k output shape every retrieval operator in
    this package emits). Returns
    ``(id_col, r_<name>..., rrf_score, rank)`` — the per-list rank
    columns are NULL where a list missed the document. ``group_col``
    (e.g. ``q_id``) fuses per group: grouping, scoring, and the final
    window all partition by it, so multi-query fusion stays one plan.

    Scale shape (100 TB corpus): the inputs are top-k SHORTLISTS
    (bounded rows — the expensive work happened in the upstream
    retrievers), so fusion is one union + one hash aggregation over
    ~sum(|list_i|) rows + one per-group window; nothing here touches
    the corpus. No new scan, no driver collect, no cartesian.

    Determinism / oracle parity: ``1/(k0 + rank)`` is ONE IEEE double
    divide of exact small integers — bit-identical on any engine — and
    the per-list contributions add left-associated in the caller's
    list order on both engines (the BM25 fixed-order-fold rule), so
    the only rounding anywhere is the shared floor rule applied ONCE
    to the final sum. Ties break on ascending ``id_col``.
    """
    names = [n for n, _ in ranked]
    check_rrf_names(names)
    if k0 < 1:
        raise ValueError(f"rrf_fuse k0 must be >= 1: {k0}")
    ws = check_rrf_weights(weights, names)
    keys = ([group_col] if group_col else []) + [id_col]

    tagged = None
    for name, rdf in ranked:
        sel = rdf.select(
            *[F.col(c) for c in keys],
            F.col(rank_col).cast("long").alias("r"),
            F.lit(name).alias("src"))
        tagged = sel if tagged is None else tagged.unionByName(sel)

    per = tagged.groupBy(*keys).agg(
        *[F.max(F.when(F.col("src") == n, F.col("r"))).alias(f"r_{n}")
          for n in names])

    def contrib(n: str, w: float):
        # w * (1/(k0+r)): one integer-exact divide then one multiply of
        # bit-identical doubles — still engine-exact (w=1.0 is a no-op
        # multiply, so unweighted fusion stays the plain RRF formula)
        return F.when(F.col(f"r_{n}").isNotNull(),
                      F.lit(w) * (F.lit(1.0)
                                  / (F.lit(k0) + F.col(f"r_{n}")))) \
                .otherwise(F.lit(0.0))

    total = contrib(names[0], ws[0])
    for n, w in zip(names[1:], ws[1:]):
        total = total + contrib(n, w)
    per = per.withColumn("rrf_score", floor_round_col(total, round_to))

    w = (Window.partitionBy(group_col) if group_col else Window) \
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
    return (per.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(*keys, *[f"r_{n}" for n in names], "rrf_score",
                    "rank"))
