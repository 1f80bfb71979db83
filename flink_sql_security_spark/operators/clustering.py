"""Distributed k-means clustering over embedding columns.

Beyond-reference scope (driver brief: corpus clustering for training-data
pipelines). Unlike ``similarity._ivf_centroids`` — which fits centroids on a
bounded driver-side sample (the standard IVF recipe) — this is the *full-
corpus* distributed Lloyd iteration: every vector participates in every
update, the way you'd cluster 100 TB of embeddings for corpus bucketing /
curriculum mixing.

Scale shape (per iteration, n vectors, k cells, d dims):
- assignment: narrow per-row fold against broadcast centroid literals —
  zero shuffle, whole plan is JVM expressions (no Python on the data path)
- update: posexplode → groupBy(cell, dim) partial-aggregated shuffle of
  k·d rows per map task (NOT n·d: map-side combine collapses to one row
  per (cell, dim) per task), then a k·d-row collect to the driver
- driver: exact decimal means → next round's literals

Determinism (prerequisite for oracle checking and elastic clusters):
- component sums are SUM(DECIMAL(38,12)) — exact, order-independent, so
  centroids are identical under any partitioning / speculative re-run
- means are computed driver-side with ``decimal.Decimal`` HALF_UP at scale
  12 (``CAST(double AS DECIMAL(38,12))`` in Spark equals
  ``Decimal(repr(x)).quantize(1e-12, HALF_UP)`` in Python — both go
  through the shortest decimal representation of the double)
- per-row distances are sequential left folds (``aggregate``), matching
  both the Python replica's fold and DuckDB's ``list_sum``
- ties in argmin break to the lowest cell id (first-position-of-min)

Reference scope note: the reference (HamaWhiteGG/flink-sql-security) has no
clustering operators — this module is part of the training-data-pipeline
extension the driver brief mandates on top of the reference's surface.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, functions as F

from flink_sql_security_spark.functions.text import (
    floor_round_col as _floor_round_col)

SCALE = Decimal("1e-12")  # matches DECIMAL(38,12)


def _centroid_array_sql(centroids: list[list[float]]) -> str:
    """Array-of-arrays literal for the centroid matrix.

    ``repr(float)`` is the shortest round-tripping decimal form, so the
    literal parses back to the bit-identical double in either engine.
    """
    rows = ", ".join(
        "[" + ", ".join(repr(float(v)) for v in c) + "]" for c in centroids)
    return "array" + ("(" + rows.replace("[", "array(")
                      .replace("]", ")") + ")")


def _dists_expr(xd_col: str, centroids: list[list[float]]) -> str:
    """Spark SQL: array of squared-L2 distances to each centroid.

    The outer ``transform`` binds the centroid row once per cell; the inner
    fold is sequential left-to-right — the exact op order the Python
    replica and the DuckDB oracle reproduce.
    """
    cmat = _centroid_array_sql(centroids)
    return (
        f"transform({cmat}, c -> aggregate(zip_with({xd_col}, c, "
        "(a, b) -> (a - b) * (a - b)), 0D, (s, v) -> s + v))"
    )


def kmeans_assign(df: DataFrame, centroids: list[list[float]],
                  vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """(id, cell, dist): nearest centroid per vector, squared-L2.

    Narrow per-row projection against centroid literals — no shuffle, no
    Python. ``cell`` is the first index achieving the minimum distance
    (lowest-cell tie-break).
    """
    xd = f"transform({vec_col}, v -> CAST(v AS DOUBLE))"
    out = (
        df.withColumn("_xd", F.expr(xd))
        .withColumn("_dists", F.expr(_dists_expr("_xd", centroids)))
        .select(
            F.col(id_col),
            (F.expr("array_position(_dists, array_min(_dists))").cast("int")
             - 1).alias("cell"),
            F.expr("array_min(_dists)").alias("dist"),
        )
    )
    return out


def kmeans_fit(df: DataFrame, k: int = 8, iters: int = 3,
               vec_col: str = "embedding",
               id_col: str = "vec_id") -> list[list[float]]:
    """Full-corpus distributed Lloyd: returns the centroid matrix.

    Init: the ``k`` lowest-id vectors (no RNG — identical on every run).
    Each round: one narrow assignment pass + one (cell, dim) partial-agg
    shuffle + a k·d-row collect; empty cells keep their centroid.
    """
    from .skew import spread_partitions

    # persist: every Lloyd round (and the seed scan) re-reads this
    # projection — caching it trades one materialization for iters+1
    # source scans, the standard iterative-algorithm pattern. Spread a
    # too-coarse input first (a single-row-group file scans as ONE
    # task, and the cache inherits that), or every round's assignment
    # + partial-agg map side serializes; decimal sums are
    # order-independent, so the centroids are partitioning-invariant.
    base = spread_partitions(
        df.select(id_col, F.expr(
            f"transform({vec_col}, v -> CAST(v AS DOUBLE))").alias("_xd")),
        key_col=id_col).persist()
    seed_rows = base.orderBy(id_col).limit(k).collect()
    centroids = [list(r["_xd"]) for r in seed_rows]
    d = len(centroids[0])

    for _ in range(iters):
        assigned = base.withColumn(
            "_dists", F.expr(_dists_expr("_xd", centroids)))
        sums = (
            assigned.select(
                (F.expr("array_position(_dists, array_min(_dists))")
                 .cast("int") - 1).alias("cell"),
                F.posexplode(
                    F.expr("transform(_xd, v -> CAST(v AS DECIMAL(38,12)))")
                ).alias("dim", "v"),
            )
            .groupBy("cell", "dim")
            .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        nxt = [list(c) for c in centroids]
        acc: dict[int, tuple[list[Decimal], int]] = {}
        for r in sums:
            slot = acc.setdefault(r["cell"], ([Decimal(0)] * d, r["n"]))
            slot[0][r["dim"]] = r["s"]
        for cell, (vec, n) in acc.items():
            nxt[cell] = [
                float((v / n).quantize(SCALE, rounding=ROUND_HALF_UP))
                for v in vec
            ]
        centroids = nxt
    base.unpersist()
    return centroids


def kmeans_cells(df: DataFrame, k: int = 8, iters: int = 3,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 round_to: int = 6) -> DataFrame:
    """(id, cell, dist): fit + assign, distances rounded for stable hashing.

    The distance final quantizes with the shared floor rule
    (``floor_round``): native round() would compare Spark's
    shortest-repr HALF_UP against DuckDB's exact-binary rounding, which
    disagree whenever the double's shortest repr ends in a 6-decimal
    midpoint — exact ties can't occur for these sums, but shortest-REPR
    pseudo-ties can (the round-5 sf0.1 failure class).
    """
    centroids = kmeans_fit(df, k, iters, vec_col, id_col)
    return kmeans_assign(df, centroids, vec_col, id_col).select(
        id_col, "cell",
        _floor_round_col(F.col("dist"), round_to).alias("dist"))


def cluster_balanced_sample(df: DataFrame, vec_col: str = "embedding",
                            id_col: str = "vec_id", k: int = 8,
                            iters: int = 3, n_per_cell: int = 10,
                            salt: str = "balance") -> DataFrame:
    """(id, cell): a topic-balanced subsample — at most ``n_per_cell``
    rows per k-means cell, each cell's subset drawn deterministically.

    The composition corpus curation runs to keep a training mix from
    being dominated by its densest embedding regions: cluster the
    corpus (:func:`kmeans_fit` — bounded deterministic sample,
    :func:`kmeans_assign` — narrow centroid-literal projection, zero
    shuffle), then cap each cell with the md5-ordered per-key quota
    (``sampling.per_key_quota`` — one hash exchange on ``cell``,
    WindowGroupLimit keeps the running top-n map-side). Deterministic
    end to end: same corpus → same cells → same picks, on any
    partitioning or cluster.
    """
    from .sampling import per_key_quota

    centroids = kmeans_fit(df, k, iters, vec_col, id_col)
    cells = kmeans_assign(df, centroids, vec_col, id_col) \
        .select(id_col, "cell")
    return per_key_quota(cells, "cell", id_col, n_per_cell, salt)
