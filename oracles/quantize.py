"""int8 quantization oracle (``operators/quantize.py``)."""

from oracles.common import floor_round, lit_array


def _codes_expr(xd: str, mn_lit: str, rng_lit: str, d: int) -> str:
    return (
        f"list_transform(range(1, {d + 1}), i -> CASE "
        f"WHEN {rng_lit}[i] = 0.0 THEN 0 "
        f"ELSE CAST(floor((({xd}[i] - {mn_lit}[i]) / {rng_lit}[i]) * 255.0 "
        "+ 0.5) AS INT) - 128 END)"
    )


def _err_expr(xd: str, codes: str, mn_lit: str, rng_lit: str, d: int) -> str:
    return (
        f"list_max(list_transform(range(1, {d + 1}), i -> "
        f"abs({xd}[i] - ({mn_lit}[i] + "
        f"((CAST({codes}[i] AS DOUBLE) + 128.0) / 255.0) * {rng_lit}[i]))))"
    )


def quantize_int8_duckdb_sql(parquet_path: str, vec_col: str = "embedding",
                             id_col: str = "vec_id", round_to: int = 6,
                             stringify_codes: bool = False) -> str:
    """Oracle: derives the identical codebook from the parquet (min/max are
    exact), embeds it as literals, recomputes codes + error in the same op
    order with list functions."""
    import duckdb

    d = duckdb.sql(
        f"SELECT len({vec_col}) FROM read_parquet('{parquet_path}') LIMIT 1"
    ).fetchone()[0]
    stats = duckdb.sql(
        f"SELECT i, min(xd[i]), max(xd[i]) FROM (SELECT "
        f"list_transform({vec_col}, v -> CAST(v AS DOUBLE)) AS xd "
        f"FROM read_parquet('{parquet_path}')), "
        f"UNNEST(range(1, {d + 1})) AS t(i) GROUP BY i ORDER BY i"
    ).fetchall()
    mn = [r[1] for r in stats]
    rng = [r[2] - r[1] for r in stats]
    mn_lit = lit_array(mn)
    rng_lit = lit_array(rng)
    codes = _codes_expr("xd", mn_lit, rng_lit, d)
    err = _err_expr("xd", "codes", mn_lit, rng_lit, d)
    codes_out = ("array_to_string(codes, ',')" if stringify_codes
                 else "codes")
    return (
        f"WITH x AS (SELECT {id_col}, "
        f"list_transform({vec_col}, v -> CAST(v AS DOUBLE)) AS xd "
        "FROM embeddings), "
        f"c AS (SELECT {id_col}, xd, {codes} AS codes FROM x) "
        f"SELECT {id_col}, {codes_out} AS codes, "
        + floor_round(err, round_to)
        + " AS err FROM c"
    )
