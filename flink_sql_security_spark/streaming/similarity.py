"""Streaming embedding ingest: near-duplicate screening of an embedding
stream against a static corpus — the vector-space counterpart of
``streaming/dedup.incremental_dedup_stream``.

Production shape: a crawler/encoder emits (id, embedding) rows; before a
vector enters the corpus/index it is screened against the existing
corpus for semantic near-duplicates. The per-batch work reuses the batch
ANN operator asymmetrically — the static corpus is bucketed ONCE up
front (the expensive hyperplane projection runs one time, not per
micro-batch) and each micro-batch only projects + joins its own rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def ann_ingest_stream(stream: DataFrame, corpus_df: DataFrame, sink,
                      vec_col: str = "embedding", id_col: str = "vec_id",
                      bits: int = 4, dim: int = 64, tables: int = 24,
                      threshold: float = 0.4):
    """Screen a streaming batch of vectors against a static corpus:
    ``sink(matches_df, batch_id)`` receives (id_new, id_old, cosine) for
    stream vectors whose cosine with ANY corpus vector reaches
    ``threshold`` (LSH candidates, exactly rescored — identical
    arithmetic to the batch ANN path).

    The corpus's banded buckets are computed once and persisted; each
    micro-batch pays only its own hyperplane projection plus a bucket
    equi-join against the persisted table. At 10⁹+ corpus vectors the
    persisted bucket table is the serving index — the stream side never
    shuffles the corpus.

    Returns the ``DataStreamWriter`` (caller sets checkpoint/trigger and
    calls ``.start()``).
    """
    from flink_sql_security_spark.operators.similarity import (
        _rescore_joined, lsh_buckets,
    )

    corpus_buckets = lsh_buckets(
        corpus_df, vec_col, id_col, bits, dim, tables).persist()
    corpus_buckets.count()  # materialize before the stream starts

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        new_b = lsh_buckets(batch_df, vec_col, id_col, bits, dim, tables)
        cand = (
            new_b.select(F.col(id_col).alias("id_new"), "table", "bucket")
            .join(corpus_buckets
                  .select(F.col(id_col).alias("id_old"), "table", "bucket"),
                  ["table", "bucket"])
            .select("id_new", "id_old")
            .distinct()
        )
        # exact rescoring via the batch scorer's join path: bit-identical
        # to ann_candidate_pairs' joined path
        sink(_rescore_joined(cand, batch_df, corpus_df, "id_new", "id_old",
                             vec_col, id_col, threshold), batch_id)

    # the persisted bucket table is the query's serving index — its
    # lifetime is the STREAM's, not one action's. Attach the handle to
    # the returned writer so callers can cache.release(writer) after
    # stopping the query.
    from flink_sql_security_spark.operators.cache import attach

    return attach(stream.writeStream.foreachBatch(_process), corpus_buckets)


def pq_ingest_stream(stream: DataFrame, corpus_df: DataFrame, sink,
                     coarse: list, codebooks: list,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     k: int = 5, n_probe: int = 4,
                     residual: bool = False, round_to: int = 6):
    """Streaming IVF-PQ search against a static corpus: each micro-batch
    of (id, vector) rows receives its approximate top-k neighbors from
    the corpus; ``sink(topk_df, batch_id)`` gets
    (q_id, n_id, adc_dist, rank) rows — bit-identical to batch
    :func:`operators.pq.ivfpq_topk` on the same inputs.

    The production shape PQ exists for: the (cell, codes) table — the
    stored index — is encoded ONCE up front and persisted; each
    micro-batch pays only its own LUT/probe pass (one ``mapInPandas``
    over the batch) plus the cell-keyed ADC join against the persisted
    index (``codes_df`` reuse). At 10⁹+ corpus vectors the index is the
    cluster-resident artifact; the stream never re-encodes or shuffles
    the corpus. Stream ids that collide with corpus ids are treated as
    the same vector (self-matches excluded by id, as in the batch op).

    Returns the ``DataStreamWriter`` (caller sets checkpoint/trigger and
    calls ``.start()``).
    """
    from flink_sql_security_spark.operators import pq as PQ

    codes = PQ.pq_encode(corpus_df, codebooks, vec_col, id_col,
                         coarse=coarse, residual=residual).persist()
    codes.count()  # materialize the index before the stream starts

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sink(PQ.ivfpq_topk(corpus_df, batch_df, coarse, codebooks,
                           vec_col, id_col, k=k, n_probe=n_probe,
                           round_to=round_to, residual=residual,
                           codes_df=codes), batch_id)

    return stream.writeStream.outputMode("append").foreachBatch(_process)


def hamming_ingest_stream(stream: DataFrame, corpus_df: DataFrame, sink,
                          vec_col: str = "embedding",
                          id_col: str = "vec_id", k: int = 5,
                          rerank: int | str = 0, round_to: int = 6,
                          d: int | None = None):
    """Streaming binary (sign-bit) search against a static corpus: each
    micro-batch of (id, vector) rows receives its hamming top-k (or
    exact-rerank top-k when ``rerank > 0`` or ``'auto'`` — the
    corpus-sized shortlist rule, identical to batch) from the corpus —
    bit-identical to batch :func:`operators.binary.hamming_topk` on the
    same inputs.

    The cheapest ingest tier there is: the packed code words — 8
    logical bytes per 64-dim vector — are encoded ONCE and persisted
    (the serving index, 32× smaller than the floats); each micro-batch
    pays only its own encode projection plus the xor+bit_count scan
    against the persisted codes. Pair with ``pq_ingest_stream`` when
    cell pruning must bound the touched fraction instead.

    Returns the ``DataStreamWriter`` (caller sets checkpoint/trigger
    and calls ``.start()``).
    """
    from flink_sql_security_spark.operators import binary as B

    if d is None:
        d = B._dim(corpus_df, vec_col)
    codes = B.binary_codes(corpus_df, vec_col, id_col, d=d).persist()
    codes.count()  # materialize the index before the stream starts

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sink(B.hamming_topk(corpus_df, batch_df, vec_col, id_col, k=k,
                            rerank=rerank, round_to=round_to, d=d,
                            codes_df=codes), batch_id)

    return stream.writeStream.outputMode("append").foreachBatch(_process)


def opq_ingest_stream(stream: DataFrame, corpus_df: DataFrame, sink,
                      R: list, codebooks: list,
                      vec_col: str = "embedding", id_col: str = "vec_id",
                      k: int = 5, round_to: int = 6):
    """Streaming OPQ search against a static corpus: the ROTATED code
    table — the stored OPQ index — is encoded once and persisted; each
    micro-batch pays its own rotation + LUT pass and the ADC scan
    against the persisted codes. ``sink(df, batch_id)`` receives
    (q_id, n_id, adc_dist, rank) rows, bit-identical to batch
    :func:`operators.opq.opq_topk` on the same inputs.

    Returns the ``DataStreamWriter`` (caller sets checkpoint/trigger
    and calls ``.start()``).
    """
    from flink_sql_security_spark.operators import opq as O

    codes = O.opq_encode(corpus_df, R, codebooks, vec_col, id_col,
                         round_to).persist()
    codes.count()  # materialize the index before the stream starts

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sink(O.opq_topk(corpus_df, batch_df, R, codebooks, vec_col,
                        id_col, k=k, round_to=round_to,
                        codes_df=codes), batch_id)

    return stream.writeStream.outputMode("append").foreachBatch(_process)
