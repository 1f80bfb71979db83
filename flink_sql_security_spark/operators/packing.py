"""Sequence packing: assign documents to fixed token-budget training bins.

Beyond-reference scope (driver brief: large-scale training-data pipeline).
Pretraining jobs concatenate the tokenized corpus in a deterministic order
and cut it into fixed-length sequences ("concat-then-chunk"); the planning
step — which bin does each document start in, at what offset, and does it
straddle a boundary — is pure integer prefix-sum arithmetic over the
corpus order.

Scale shape: a GLOBAL ordered cumulative sum is the anti-pattern
(``Window.partitionBy()`` with no keys = one task holding the corpus), so
this runs the classic two-phase prefix sum:

1. deterministic range bucketing on the id itself (``floor(id / span)`` —
   NOT ``repartitionByRange``, whose sampled boundaries change run-to-run)
2. per-bucket windowed cumsum (one shuffle, each bucket independent)
3. per-bucket totals → driver prefix offsets (``n_buckets`` rows) → added
   back as a literal map (narrow)

Everything is BIGINT arithmetic — exact in any engine, any partitioning.
The DuckDB oracle computes the same assignment with a single global window
(fine at oracle scale; equal by exactness of integer prefix sums).

Reference scope note: no packing exists in HamaWhiteGG/flink-sql-security;
this extends the engine per the driver brief.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from flink_sql_security_spark.functions.text import (
    floor_round_col as _floor_round_col)


def pack_sequences(df: DataFrame, tokens_col: str | Column,
                   budget: int = 512, id_col: str = "doc_id",
                   n_buckets: int = 64) -> DataFrame:
    """(id, n_tokens, bin_id, bin_offset, spans_boundary) per document.

    ``tokens_col``: column (or name) holding the document's token count.
    ``bin_id``/``bin_offset``: where the document's first token lands in
    the id-ordered concatenation chunked every ``budget`` tokens.
    ``spans_boundary``: True when the document crosses into the next bin.
    """
    tok = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    base = df.select(F.col(id_col), tok.cast("long").alias("n_tokens"))

    max_id = base.agg(F.max(id_col).alias("m")).collect()[0]["m"]
    if max_id is None:
        return base.select(
            id_col, "n_tokens",
            F.lit(None).cast("long").alias("bin_id"),
            F.lit(None).cast("long").alias("bin_offset"),
            F.lit(None).cast("boolean").alias("spans_boundary"))
    span = max(1, (int(max_id) + n_buckets) // n_buckets)

    # integer `div`, not `/`: float division of BIGINTs silently loses
    # exactness past 2^53 — real corpora sit below that, but the packing
    # contract is exact integer arithmetic everywhere
    bucketed = base.withColumn("_bucket", F.expr(f"{id_col} div {span}"))
    w = (Window.partitionBy("_bucket").orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    local = bucketed.withColumn(
        "_local_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))

    totals = sorted(
        bucketed.groupBy("_bucket").agg(F.sum("n_tokens").alias("t"))
        .collect(), key=lambda r: r["_bucket"])
    offsets: dict[int, int] = {}
    acc = 0
    for r in totals:
        offsets[r["_bucket"]] = acc
        acc += r["t"]
    # bucket → prefix offset as a literal map: narrow lookup, no join
    omap = F.map_from_arrays(
        F.array(*[F.lit(b) for b in offsets]),
        F.array(*[F.lit(offsets[b]) for b in offsets]))

    return (
        local.withColumn(
            "_start",
            F.element_at(omap, F.col("_bucket")) + F.col("_local_before"))
        .select(
            F.col(id_col), F.col("n_tokens"),
            F.expr(f"_start div {budget}").alias("bin_id"),
            (F.col("_start") % budget).alias("bin_offset"),
            F.expr(
                f"(_start + greatest(n_tokens, 1L) - 1) div {budget} "
                f"> _start div {budget}").alias("spans_boundary"),
        )
    )


def length_bucketed_batches(df: DataFrame, tokens_col: str | Column,
                            batch_docs: int = 8,
                            id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_tokens, bucket, batch_id, batch_max, pad_frac): assign
    documents to padding-efficient training batches.

    Fixed-batch training pads every sequence to its batch's max length —
    batching docs of similar length together is the standard remedy
    (bucketed batching). Buckets are power-of-two length ranges computed
    as ``length(bin(n_tokens))`` (integer-exact in any engine — no log2
    float edge cases); within a bucket, docs sort by (n_tokens, id) and
    chunk into ``batch_docs``-sized batches, so each batch spans the
    narrowest possible length range. ``pad_frac`` = wasted pad tokens /
    batch capacity, the metric this operator exists to minimize.

    Scale shape: ONE hash exchange on the bucket (the window partition);
    batches and their stats derive from the same windowed pass — no
    global sort (bucket count is ~log2(max_len), each bucket's window
    sorts locally; a skewed bucket can be split by appending a salt
    range to the bucket expression).
    """
    tok = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    base = df.select(F.col(id_col), tok.cast("long").alias("n_tokens")) \
        .where(F.col("n_tokens") > 0)
    bucketed = base.withColumn(
        "bucket", F.expr("length(bin(n_tokens))").cast("int"))
    w = Window.partitionBy("bucket").orderBy("n_tokens", id_col)
    assigned = bucketed.withColumn(
        "batch_id",
        F.floor((F.row_number().over(w) - 1) / batch_docs).cast("long"))
    wb = Window.partitionBy("bucket", "batch_id")
    return assigned.select(
        id_col, "n_tokens", "bucket", "batch_id",
        F.max("n_tokens").over(wb).alias("batch_max"),
        _floor_round_col(
            F.lit(1.0) - (F.sum("n_tokens").over(wb)
                          / (F.max("n_tokens").over(wb)
                             * F.count("*").over(wb))).cast("double"),
            6).alias("pad_frac"),
    )
