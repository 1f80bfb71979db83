"""Random-projection and PCA oracles (``operators/projection.py``)."""

from flink_sql_security_spark.operators.projection import (
    pca_train_np, rp_signs, sum_expr, wsum_expr)

from oracles.common import floor_round


def _explode_duckdb(inner: str, id_col: str, out_dim: int) -> str:
    """Oracle twin of the exploded shape: 0-based dim via a 1-based
    subscript walk (matches Spark posexplode's INT position)."""
    return (f", p AS ({inner}) "
            f"SELECT {id_col}, CAST(i - 1 AS INT) AS dim, proj[i] AS val "
            f"FROM p, UNNEST(range(1, {out_dim + 1})) AS t(i)")


def rp_project_duckdb_sql(in_dim: int, out_dim: int = 16,
                          table: str = "embeddings",
                          vec_col: str = "embedding",
                          id_col: str = "vec_id", salt: str = "rp",
                          round_to: int = 6,
                          explode: bool = False) -> str:
    """Oracle: identical signs from the shared generator, identical
    written-order additions and scale divide."""
    signs = rp_signs(out_dim, in_dim, salt)
    scale = float(out_dim) ** 0.5
    comps = []
    for row in signs:
        s = sum_expr(row, lambda i: f"xd[{i}]")
        comps.append(floor_round(
            f"({s}) / CAST('{scale!r}' AS DOUBLE)", round_to))
    prefix = (
        f"WITH x AS (SELECT {id_col}, "
        f"list_transform({vec_col}, v -> CAST(v AS DOUBLE)) AS xd "
        f"FROM {table})")
    inner = f"SELECT {id_col}, [" + ", ".join(comps) + "] AS proj FROM x"
    if explode:
        return prefix + _explode_duckdb(inner, id_col, out_dim)
    return f"{prefix} {inner}"


def pca_project_duckdb_sql(parquet_path: str, out_dim: int = 8,
                           table: str = "embeddings",
                           vec_col: str = "embedding",
                           id_col: str = "vec_id", sample: int = 2048,
                           round_to: int = 6,
                           explode: bool = False) -> str:
    """Oracle for :func:`pca_project`: re-derives (mean, components)
    from the parquet with the same numpy on the same lowest-id sample,
    then emits the identical center + weighted-chain fold in DuckDB —
    same written order, same quantized literals."""
    import duckdb
    import numpy as np

    pdf = duckdb.sql(
        f"SELECT {id_col}, {vec_col} FROM read_parquet('{parquet_path}') "
        f"ORDER BY {id_col} LIMIT {sample}").df()
    X = np.array([np.asarray(v, dtype=np.float64)
                  for v in pdf[vec_col].tolist()])
    mean, components = pca_train_np(X, out_dim, round_to)
    mus = ", ".join(f"CAST('{m!r}' AS DOUBLE)" for m in mean)
    comps = []
    for row in components:
        s = wsum_expr(row, lambda i: f"cd[{i}]")
        comps.append(floor_round(s, round_to))
    prefix = (
        f"WITH x AS (SELECT {id_col}, "
        f"list_transform({vec_col}, v -> CAST(v AS DOUBLE)) AS xd "
        f"FROM {table}), "
        f"c AS (SELECT {id_col}, list_transform(list_zip(xd, [{mus}]), "
        f"p -> p[1] - p[2]) AS cd FROM x)")
    inner = f"SELECT {id_col}, [" + ", ".join(comps) + "] AS proj FROM c"
    if explode:
        return prefix + _explode_duckdb(inner, id_col, out_dim)
    return f"{prefix} {inner}"
