"""Blocked fuzzy-string matching: edit-distance pair join under a block key.

The record-linkage / entity-resolution primitive of a data-curation
pipeline — "find near-identical names without comparing everything to
everything".  Not present in the reference (no string-similarity surface
there); built Spark-first as a self-equi-join on a cheap BLOCK KEY with
the expensive ``levenshtein`` verification applied only inside blocks —
the same block→verify shape as the MinHash-LSH dedup tier
(``operators/dedup.py``), specialized to edit distance.

Scale design (100 TB):

- The naive all-pairs comparison is O(n²) levenshtein calls — a
  non-starter.  Blocking reduces candidate pairs to
  sum_b |block_b|², and the join is a plain shuffle equi-join on the
  block key, so Catalyst/AQE handle distribution (and skewed blocks)
  like any other join; a broadcast hint fires automatically when one
  side proves small.
- ``levenshtein`` is a JVM codegen built-in on Spark (and a native
  function in DuckDB) — no Python in the hot path.
- The ``a_id < b_id`` canonicalization halves the candidate set and
  keeps output deterministic.
- Recall is bounded by the block key (pairs split across blocks are
  never compared) — the standard blocking trade-off; callers widen
  recall with multiple passes under different keys, exactly like LSH
  bands.

Parity: integer edit distance, no floats anywhere — the oracle is
exact by construction.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def fuzzy_name_pairs(df, *, id_col: str, name_col: str, max_dist: int = 8,
                     block_expr=None):
    """All within-block pairs with levenshtein(name_a, name_b) <= max_dist.

    Returns (a_id, b_id, a_name, b_name, dist) with a_id < b_id.  The
    default block key is the first whitespace token of the name (names
    sharing a leading word are linkage candidates); pass ``block_expr``
    (a Column) to override — the Spark-side twin of the oracle
    emitter's ``block_sql``. (An earlier signature also accepted
    ``block_sql`` here and silently ignored it; it is gone so a
    mis-addressed override fails loudly as a TypeError instead of
    quietly using the default block key.)
    """
    block = (block_expr if block_expr is not None
             else F.split(F.col(name_col), " ")[0])
    keyed = df.select(F.col(id_col), F.col(name_col),
                      block.alias("block_key"))
    # the verification is CPU-bound per candidate pair and runs on the
    # STREAM side's partitioning when the other side broadcasts — a
    # small single-file input would serialize all sum|block|² DP calls
    # onto one task (measured 7.0 s → 1.0 s at sf0.1 from this lift
    # alone). Round-robin ONLY the stream (a) side up to the default
    # parallelism — the b side broadcasts whole, a lift there would be
    # a pure extra exchange; at scale inputs already carry ≥cores
    # partitions and this is a no-op.
    a_src = keyed
    target = df.sparkSession.sparkContext.defaultParallelism
    if keyed.rdd.getNumPartitions() < max(1, target // 2):
        a_src = keyed.repartition(target)
    a = a_src.select(F.col(id_col).alias("a_id"),
                     F.col(name_col).alias("a_name"), "block_key")
    b = keyed.select(F.col(id_col).alias("b_id"),
                     F.col(name_col).alias("b_name"), "block_key")
    # banded levenshtein: the max_dist threshold prunes the DP to a
    # 2·max_dist+1 band and early-exits rows that exceed it (returns -1)
    # — same integers for surviving pairs, ~30% less work on top of the
    # parallelism lift
    pairs = (
        a.join(b, "block_key")
        .where(F.col("a_id") < F.col("b_id"))
        .withColumn("dist", F.levenshtein(F.col("a_name"), F.col("b_name"),
                                          max_dist))
        .where(F.col("dist") >= 0)
    )
    return pairs.select("a_id", "b_id", "a_name", "b_name", "dist")
