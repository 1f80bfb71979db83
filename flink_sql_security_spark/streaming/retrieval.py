"""Streaming retrieval against a static corpus: per-micro-batch MMR.

The serving shape of diversity-aware retrieval: the corpus is fixed
(persisted once), queries arrive as a stream, and each micro-batch of
query vectors receives its greedy maximal-marginal-relevance top-k —
bit-identical to batch :func:`operators.retrieval.mmr_rerank` on the
same inputs (the shortlist stage, the floor-rounded rel/sim values and
the per-query greedy are all the batch code paths, so stream/batch
parity is exact by construction, not approximate).

Same wrapper contract as the other ingest streams
(``streaming/similarity.py``): ``foreachBatch`` drives the batch
operator; the caller owns checkpoint/trigger and calls ``.start()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def mmr_ingest_stream(stream: DataFrame, corpus_df: DataFrame, sink, *,
                      vec_col: str = "embedding", id_col: str = "vec_id",
                      k: int = 5, shortlist: int = 20, lam: float = 0.7,
                      round_to: int = 6):
    """Per-micro-batch MMR top-k of streaming queries vs a static corpus.

    The corpus persists ONCE before the stream starts (the codes_df /
    index-reuse convention of the other ingest wrappers) — each batch
    pays its own shortlist scan over the cached corpus plus the
    shortlist-sized greedy, never a corpus rebuild. ``sink(df,
    batch_id)`` receives the batch's (q_id, n_id, mmr_score, sel_pos)
    rows. Returns the ``DataStreamWriter``.
    """
    from flink_sql_security_spark.operators.retrieval import mmr_rerank

    corpus = corpus_df.persist()
    corpus.count()  # materialize before the stream starts

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sink(mmr_rerank(corpus, batch_df, vec_col=vec_col, id_col=id_col,
                        k=k, shortlist=shortlist, lam=lam,
                        round_to=round_to), batch_id)

    return stream.writeStream.outputMode("append").foreachBatch(_process)


def rrf_ingest_stream(stream: DataFrame, retrievers, sink, *,
                      id_col: str = "vec_id", group_col: str = "q_id",
                      k0: int = 60, k: int = 20, round_to: int = 6):
    """Per-micro-batch hybrid retrieval: each batch of streaming
    queries runs every retriever arm, and the arms' ranked shortlists
    fuse by reciprocal-rank (:func:`operators.retrieval.rrf_fuse`,
    grouped per query) — bit-identical to batch fusion on the same
    inputs, since every arm and the fusion itself are the batch code
    paths.

    ``retrievers`` is an ordered list of ``(name, fn)`` pairs where
    ``fn(batch_df)`` returns that arm's ranked frame with
    ``(group_col, id_col, rank)`` — the arm closures own their
    persisted indexes (codes tables, unit-vector caches), which is the
    build-once/probe-many convention of the other ingest wrappers.
    ``sink(df, batch_id)`` receives the fused
    ``(group_col, id_col, r_<name>..., rrf_score, rank)`` rows.
    Returns the ``DataStreamWriter``; the caller owns
    checkpoint/trigger and calls ``.start()``.
    """
    from flink_sql_security_spark.operators.retrieval import (
        check_rrf_names, rrf_fuse)

    # config errors (duplicate/malformed arm names, bad k0) must fail
    # at CONSTRUCTION, not inside the first micro-batch's foreachBatch
    if not retrievers:
        raise ValueError("rrf_ingest_stream requires at least one arm")
    names = [n for n, _ in retrievers]
    check_rrf_names(names)
    if k0 < 1:
        raise ValueError(f"rrf_ingest_stream k0 must be >= 1: {k0}")

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ranked = [(name, fn(batch_df)) for name, fn in retrievers]
        sink(rrf_fuse(ranked, id_col=id_col, group_col=group_col,
                      k0=k0, k=k, round_to=round_to), batch_id)

    return stream.writeStream.outputMode("append").foreachBatch(_process)
