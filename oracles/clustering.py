"""k-means oracles (``operators/clustering.py``) and the pure-Python fit replica."""

from decimal import Decimal, ROUND_HALF_UP

from flink_sql_security_spark.operators.clustering import SCALE

from oracles.common import (
    argmin, centroid_array, centroid_dists, floor_round)


def _dec(x: float) -> Decimal:
    """Python replica of Spark's CAST(double AS DECIMAL(38,12))."""
    return Decimal(repr(float(x))).quantize(SCALE, rounding=ROUND_HALF_UP)


def kmeans_fit_replica(rows: list[tuple[int, list[float]]], k: int,
                       iters: int) -> list[list[float]]:
    """Pure-Python replica of :func:`kmeans_fit` (oracle derivation).

    Same init, same sequential-fold distances, same decimal sums/means —
    produces bit-identical centroids from the same parquet rows.
    """
    rows = sorted(rows, key=lambda r: r[0])
    X = [[float(v) for v in vec] for _, vec in rows]
    centroids = [list(x) for x in X[:k]]
    d = len(centroids[0])

    def dist(x: list[float], c: list[float]) -> float:
        s = 0.0
        for a, b in zip(x, c):
            s = s + (a - b) * (a - b)
        return s

    for _ in range(iters):
        sums: dict[int, tuple[list[Decimal], int]] = {}
        for x in X:
            ds = [dist(x, c) for c in centroids]
            cell = ds.index(min(ds))
            slot = sums.setdefault(cell, ([Decimal(0)] * d, 0))
            for i, v in enumerate(x):
                slot[0][i] += _dec(v)
            sums[cell] = (slot[0], slot[1] + 1)
        nxt = [list(c) for c in centroids]
        for cell, (vec, n) in sums.items():
            nxt[cell] = [
                float((v / n).quantize(SCALE, rounding=ROUND_HALF_UP))
                for v in vec
            ]
        centroids = nxt
    return centroids


def kmeans_duckdb_sql(parquet_path: str, k: int = 8, iters: int = 3,
                      vec_col: str = "embedding", id_col: str = "vec_id",
                      round_to: int = 6) -> str:
    """DuckDB oracle: re-derives the centroids with the pure-Python replica
    from the same parquet file, embeds them as literals, and recomputes the
    assignment with ``list``-function arithmetic in the same op order."""
    import duckdb

    rows = duckdb.sql(
        f"SELECT {id_col}, {vec_col} FROM read_parquet('{parquet_path}') "
        f"ORDER BY {id_col}").fetchall()
    centroids = kmeans_fit_replica(rows, k, iters)
    cmat = centroid_array(centroids)
    return (
        f"WITH x AS (SELECT {id_col}, "
        f"list_transform({vec_col}, v -> CAST(v AS DOUBLE)) AS xd "
        f"FROM embeddings), "
        f"d AS (SELECT {id_col}, {centroid_dists(cmat, 'xd')} AS dists FROM x) "
        f"SELECT {id_col}, "
        f"{argmin('dists')} AS cell, "
        + floor_round("list_min(dists)", round_to)
        + " AS dist FROM d"
    )


def cluster_balanced_sample_duckdb_sql(parquet_path: str, k: int = 8,
                                       iters: int = 3,
                                       n_per_cell: int = 10,
                                       vec_col: str = "embedding",
                                       id_col: str = "vec_id",
                                       salt: str = "balance",
                                       table: str = "embeddings") -> str:
    """Oracle: centroids re-derive with the pure-Python replica, cell
    assignment verifies in SQL (first-min argmin over the identical
    sequential-fold L2), then the identical md5-ordered quota window."""
    import duckdb

    rows = duckdb.sql(
        f"SELECT {id_col}, {vec_col} FROM read_parquet('{parquet_path}') "
        f"ORDER BY {id_col}").fetchall()
    centroids = kmeans_fit_replica(rows, k, iters)
    cmat = centroid_array(centroids)
    return (
        f"WITH x AS (SELECT {id_col}, "
        f"list_transform({vec_col}, v -> CAST(v AS DOUBLE)) AS xd "
        f"FROM {table}), "
        f"d AS (SELECT {id_col}, {centroid_dists(cmat, 'xd')} AS dists FROM x), "
        f"cells AS (SELECT {id_col}, "
        f"{argmin('dists')} AS cell "
        "FROM d) "
        f"SELECT {id_col}, cell FROM ("
        f" SELECT {id_col}, cell, row_number() OVER ("
        f"  PARTITION BY cell"
        f"  ORDER BY md5(CAST({id_col} AS VARCHAR) || ':{salt}') ASC,"
        f"  {id_col} ASC) AS rn"
        f" FROM cells) q WHERE rn <= {n_per_cell}"
    )
