"""Data selection via importance resampling (DSIR-style).

Given a small high-quality TARGET corpus and a raw corpus, score every raw
document by how target-like its hashed n-gram feature distribution is
(Xie et al. 2023, "Data Selection for Language Models via Importance
Resampling"): weight(doc) = Σ_w log p_target(b(w)) / p_raw(b(w)) over the
document's tokens, where b(w) hashes a token into one of B feature buckets
and both distributions are add-1-smoothed bucket frequencies.

Beyond-reference scope (driver brief: training-data pipeline operators);
the reference engine (flink-sql-security) has no sampling surface.

Scale shape (100 TB raw corpus):
- the two bucket-count passes are single map-combined exchanges of ≤ B
  rows per task (B = 8192 default — constant-size sketch state, same
  regime as the HLL/CMS counters);
- the per-bucket log-ratio table (≤ B rows) rides a broadcast join onto
  the exploded token stream — the raw corpus's tokens are never shuffled,
  only the (doc, bucket) stream reduces back on doc_id (one exchange,
  map-side partial sum);
- selection is ``orderBy(weight).limit(n)`` = TakeOrdered (per-partition
  top-n + driver merge), never a global sort.

Cross-engine exactness (DuckDB oracle): every per-bucket log-ratio is
computed as ONE ``ln`` of a ratio of exactly-representable integers
(< 2^53), rounded to 6 decimals, and summed per document as DECIMAL —
exact, order-independent — then cast to DOUBLE once (the ``lm_score``
pattern from ``functions/text.py``).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from flink_sql_security_spark.functions.text import (
    floor_round as _floor_round)

from flink_sql_security_spark.operators.cache import attach, cached_deps

__all__ = ["dsir_weights", "dsir_select"]

DSIR_BUCKETS = 1 << 13


def _words(df: DataFrame, id_cols: list[str], text_col: str,
           buckets: int) -> DataFrame:
    """(id…, bucket): one row per token occurrence, hashed into B buckets.
    The md5 is bound to a column once per token (post-explode) — narrow."""
    return (
        df.select(*id_cols, F.explode(F.expr(
            f"split(lower(trim({text_col})), '\\\\s+')")).alias("_tok"))
        .select(*id_cols, F.expr(
            f"CAST(conv(substring(md5(_tok), 1, 15), 16, 10) AS BIGINT) "
            f"% {buckets}").alias("bucket"))
    )


def dsir_weights(corpus: DataFrame, target: DataFrame,
                 id_col: str = "doc_id", text_col: str = "text",
                 buckets: int = DSIR_BUCKETS) -> DataFrame:
    """(id, n_feats, weight, per_tok): per-document DSIR importance weight.

    weight = round(Σ_tokens lr(bucket), 6) where
    lr(b) = floor_round(ln( ((ct_b+1)·(Q+B)) / ((cq_b+1)·(T+B)) ), 6)
    with ct/cq the target/corpus bucket counts and T/Q their totals.
    Positive ⇒ more target-like than the corpus average. ``per_tok`` is
    the length-normalized score weight/n_feats — raw sums of (mostly
    negative) log-ratios systematically favor SHORT documents, so
    cross-length ranking must use the per-token form.
    """
    # One pass over the raw corpus text: reduce the token stream to the
    # per-doc bucket profile (id, bucket, n) and persist it — both the
    # corpus distribution (groupBy bucket of n) and the weight join read
    # the profile, not the text. Σ_tokens lr == Σ_buckets n·lr exactly
    # (lr is a DECIMAL constant per bucket), so the regroup changes the
    # plan, not the numbers. The profile is ≤ docs × distinct-buckets-
    # per-doc rows — orders of magnitude under the token stream; at the
    # 100 TB tier it would be written to storage instead of persist().
    db = (
        _words(corpus, [id_col], text_col, buckets)
        .groupBy(id_col, "bucket").agg(F.count("*").alias("n"))
        .persist()
    )
    tw = _words(target, [], text_col, buckets)
    ct = tw.groupBy("bucket").agg(F.count("*").alias("ct"))
    cq = db.groupBy("bucket").agg(F.sum("n").alias("cq"))
    # totals fold over the ALREADY-AGGREGATED ≤2B-row bucket tables via
    # one full-outer join + a single-partition window — NOT separate
    # .agg() branches, which re-built ct and cq from scratch (4 extra
    # exchanges, two of them full token-stream re-aggregations; round-3
    # exchange diet: 10 → 5 distinct). full_outer keeps target-only buckets so
    # t_total counts every target token even when the bucket never
    # occurs in the corpus; lr rows then filter back to corpus buckets
    # (only those are probed by the weight join). Long sums over one
    # partition — exact, order-independent, oracle-identical.
    from pyspark.sql import Window

    w_all = Window.partitionBy()
    lr = (
        cq.join(ct, "bucket", "full_outer")
        .select("bucket", "cq", "ct",
                F.sum("ct").over(w_all).alias("t_total"),
                F.sum("cq").over(w_all).alias("q_total"))
        .where(F.col("cq").isNotNull())
        .select(
            "bucket",
            F.expr(
                "CAST(" + _floor_round(
                    f"ln("
                    f"CAST((coalesce(ct, 0) + 1) * (q_total + {buckets})"
                    f" AS DOUBLE)"
                    f" / CAST((cq + 1) * (t_total + {buckets}) AS DOUBLE)"
                    f")", 6)
                + " AS DECIMAL(18,6))").alias("lr"))
    )
    return attach(
        db.join(F.broadcast(lr), "bucket")
        .groupBy(id_col)
        .agg(F.sum("n").alias("n_feats"),
             # native-round-ok: sum(n*lr) is exact DECIMAL(·,6)
             # arithmetic — round-6 of its double is idempotent
             F.expr("round(CAST(sum(n * lr) AS DOUBLE), 6)")  # native-round-ok
             .alias("weight"))
        .withColumn("per_tok",
                    F.expr(_floor_round("weight / n_feats", 6))),
        db)


def dsir_select(corpus: DataFrame, target: DataFrame, n: int,
                id_col: str = "doc_id", text_col: str = "text",
                buckets: int = DSIR_BUCKETS) -> DataFrame:
    """Top-n most target-like documents (per-token score desc, id asc
    tiebreak — see ``dsir_weights`` on why ranking length-normalizes).
    ``orderBy().limit()`` plans as TakeOrdered — no global sort exchange."""
    w = dsir_weights(corpus, target, id_col, text_col, buckets)
    return attach(
        corpus.join(w, id_col)
        .orderBy(F.col("per_tok").desc(), F.col(id_col).asc())
        .limit(n),
        *cached_deps(w))
