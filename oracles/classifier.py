"""Linear-probe oracles (``operators/classifier.py``)."""

from flink_sql_security_spark.operators.classifier import (
    quantized_gram_np, weights_from_sums)

from oracles.common import floor_round


def _score_expr(w: list[float], vec: str) -> str:
    """DuckDB twin of ``classifier._score_expr`` (same op order)."""
    expr = f"({float(w[0])!r} * CAST({vec}[1] AS DOUBLE))"
    for j in range(1, len(w) - 1):
        expr = f"({expr} + ({float(w[j])!r} * CAST({vec}[{j + 1}] AS DOUBLE)))"
    return f"({expr} + {float(w[-1])!r})"


def gram_duckdb_sql(vec_col: str = "embedding", label_col: str = "label",
                    positive: int = 0, d: int = 64,
                    table: str = "embeddings") -> str:
    """Pure-SQL oracle for ``gram_partials``: the same per-row quantized
    terms via a double unnest-with-ordinality pair join, HUGEINT-exact
    sums. Verifies the distributed Gram itself, not a re-derivation."""
    return (
        "WITH xa AS (SELECT list_append(list_transform("
        f"{vec_col}, v -> CAST(v AS DOUBLE)), 1.0) AS xd, "
        f"CASE WHEN {label_col} = {positive} THEN 1.0 ELSE 0.0 END AS y "
        f"FROM {table}), "
        f"idx AS (SELECT unnest(range(1, {d + 2})) AS i), "
        "terms AS (SELECT ji.i - 1 AS j, ki.i - 1 AS k, "
        "CAST(floor((xa.xd[ji.i] * xa.xd[ki.i]) * 1e12) AS BIGINT) AS q "
        "FROM xa, idx ji, idx ki WHERE ki.i >= ji.i), "
        "yterms AS (SELECT ji.i - 1 AS j, -1 AS k, "
        "CAST(floor((xa.xd[ji.i] * xa.y) * 1e12) AS BIGINT) AS q "
        "FROM xa, idx ji) "
        "SELECT j, k, CAST(sum(q) AS DECIMAL(38,0)) AS qsum FROM "
        "(SELECT * FROM terms UNION ALL SELECT * FROM yterms) "
        "GROUP BY j, k"
    )


def probe_weights_from_parquet(parquet_path: str,
                               vec_col: str = "embedding",
                               label_col: str = "label",
                               positive: int = 0,
                               l2: float = 1e-3) -> list[float]:
    """Oracle-emitter replica of ``ridge_fit``: identical quantized
    integer sums from the parquet, identical float path, identical
    pure-Python solve → bit-identical weights."""
    import duckdb
    import numpy as np

    pdf = duckdb.sql(f"SELECT {vec_col}, {label_col} "
                     f"FROM read_parquet('{parquet_path}')").df()
    X = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
    y = (pdf[label_col].to_numpy() == positive).astype(np.float64)
    G, b = quantized_gram_np(X, y)
    return weights_from_sums(G, b, l2)


def linear_probe_duckdb_sql(parquet_path: str,
                            vec_col: str = "embedding",
                            label_col: str = "label",
                            id_col: str = "vec_id", positive: int = 0,
                            l2: float = 1e-3, threshold: float = 0.5,
                            round_to: int = 6,
                            table: str = "embeddings") -> str:
    """Oracle: re-derives the identical weights (see
    ``probe_weights_from_parquet``) and verifies the distributed
    scoring pass value-exactly against embedded literals."""
    w = probe_weights_from_parquet(parquet_path, vec_col, label_col,
                                   positive, l2)
    s = floor_round(_score_expr(w, vec_col), round_to)
    return (
        f"SELECT {id_col}, {s} AS score, "
        f"CASE WHEN {s} >= {repr(float(threshold))} THEN 1 ELSE 0 END "
        f"AS pred FROM {table}"
    )
