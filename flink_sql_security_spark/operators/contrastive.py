"""Contrastive training-pair construction: near-dup pairs → triplets.

The bridge from the dedup family's OUTPUT to a training input: embedding
models (retrieval, dedup encoders) train on (anchor, positive, negative)
triplets where positives are near-duplicates and negatives are random
non-matching corpus members. At 100 TB the naive "sample a random row
per triplet" is either a driver bottleneck (collect ids) or
non-deterministic (per-task RNG); here negatives come from a
hash-bucketed deterministic draw, so the same corpus always yields the
same triplets (resumable jobs, reproducible ablations) and the DuckDB
oracle recomputes them exactly.

Scale shape: corpus ids get a content-hash bucket (narrow); each
(anchor, j) pair targets one bucket (narrow); the draw is an equi-join
on bucket + a min-over-bucket groupBy — candidate volume is
|triplets| · (corpus/buckets), tuned by ``buckets`` (keep ~10 rows per
bucket). No cross join, no global index, no driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _h(expr: str) -> str:
    """60-bit md5 prefix of an expression, as BIGINT (engine-portable)."""
    return (f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)")


def contrastive_triplets(pairs: DataFrame, corpus_ids: DataFrame,
                         n_neg: int = 2, buckets: int = 50,
                         id_col: str = "doc_id",
                         salt: str = "neg") -> DataFrame:
    """(anchor, positive, neg_j, negative): ``n_neg`` deterministic
    negatives per near-dup pair.

    ``pairs`` must provide (id_a, id_b); ``corpus_ids`` one ``id_col``
    row per corpus document. For slot j of anchor a, the negative is the
    corpus id minimizing md5(id|a|j|salt) within the bucket
    md5(a|j|salt) mod buckets — uniform-ish over the corpus, stable
    under any partitioning, never equal to the anchor or positive (such
    candidates are excluded BEFORE the min, so the draw falls back to
    the next-ranked id in the bucket rather than dropping the slot; an
    empty surviving bucket drops the slot — size ``buckets`` so bucket
    occupancy ≫ 2).
    """
    c = corpus_ids.select(
        F.col(id_col).alias("_cid"),
        F.expr(f"{_h(f'CAST({id_col} AS STRING)')} % {buckets}")
        .alias("_cb"))
    target_expr = _h(
        "concat(CAST(anchor AS STRING), '|', CAST(neg_j AS STRING), "
        f"'|{salt}')")
    slots = (
        pairs.select(F.col("id_a").alias("anchor"),
                     F.col("id_b").alias("positive"))
        .withColumn("neg_j", F.explode(F.expr(
            f"sequence(0, {n_neg - 1})")))
        .withColumn("_tb", F.expr(f"{target_expr} % {buckets}"))
    )
    ranked = (
        slots.join(c, slots["_tb"] == c["_cb"])
        .where((F.col("_cid") != F.col("anchor"))
               & (F.col("_cid") != F.col("positive")))
        # 60-bit rank: a tie needs an md5-prefix collision between two
        # corpus ids for the same slot — negligible, and identical in
        # the oracle (same hash), so min_by on the rank alone is stable
        .withColumn("_rk", F.expr(_h(
            "concat(CAST(_cid AS STRING), '|', CAST(anchor AS STRING), "
            "'|', CAST(neg_j AS STRING))")))
    )
    return (
        ranked.groupBy("anchor", "positive", "neg_j")
        .agg(F.min_by("_cid", "_rk").alias("negative"))
    )
