"""DuckDB idioms the oracle families share.

Each emitter is the DuckDB side of an exactness rule the operators keep:
the same IEEE ops in the same order as the Spark expression, so the
strict oracle compares bit-identical doubles.
"""

from flink_sql_security_spark.functions.text import floor_round_scale


def floor_round(expr: str, nd: int = 6) -> str:
    """DuckDB twin of ``functions.text.floor_round``: the same
    multiply, add 0.5, floor and divide on the same double."""
    scale = floor_round_scale(nd)
    return f"(floor(({expr}) * {scale} + 0.5) / {scale})"


def lit_array(vals) -> str:
    """List literal; ``repr(float)`` round-trips to the identical double."""
    return "[" + ", ".join(repr(float(v)) for v in vals) + "]"


def centroid_array(rows) -> str:
    """List-of-lists literal for a centroid (or rotation) matrix."""
    return "[" + ", ".join(lit_array(r) for r in rows) + "]"


def dot(a: str, b: str) -> str:
    """Sequential dot-product fold of two DOUBLE lists."""
    return f"list_sum(list_transform(list_zip({a}, {b}), x -> x[1] * x[2]))"


def sq_l2(a: str, b: str) -> str:
    """Sequential squared-L2 fold of two DOUBLE lists."""
    return (f"list_sum(list_transform(list_zip({a}, {b}), "
            "p -> (p[1] - p[2]) * (p[1] - p[2])))")


def centroid_dists(cmat: str, src: str) -> str:
    """Squared-L2 distances from ``src`` to each row of ``cmat``."""
    return f"list_transform({cmat}, c -> {sq_l2(src, 'c')})"


def argmin(dists: str) -> str:
    """0-based first position of the minimum (np.argmin's tie rule)."""
    return f"CAST(list_position({dists}, list_min({dists})) AS INT) - 1"


def unit_cte(src: str = "embeddings", id_col: str = "vec_id",
             vec_col: str = "embedding", x: str = "x") -> str:
    """``u(id, unit)``: each vector divided by its sequential L2 norm,
    as ``similarity.unit_vectors`` normalizes on the Spark side."""
    return (f"u AS (SELECT {id_col}, list_transform({vec_col}, "
            f"{x} -> CAST({x} AS DOUBLE) / n) AS unit FROM "
            f"(SELECT {id_col}, {vec_col}, {norm(vec_col, x)} AS n "
            f"FROM {src}))")


def norm(vec: str, x: str = "x") -> str:
    """Sequential L2 norm of a FLOAT list widened to DOUBLE."""
    return (f"sqrt(list_sum(list_transform({vec}, "
            f"{x} -> CAST({x} AS DOUBLE) * CAST({x} AS DOUBLE))))")
