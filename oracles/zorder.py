"""Z-order key oracle (``operators/zorder.py``)."""

from flink_sql_security_spark.operators.zorder import ZBITS, scale_expr


def zorder_key_duckdb_sql(table: str, cols: list[str], key_cols: list[str],
                          bits: int = ZBITS) -> str:
    """DuckDB SQL computing identical (key_cols..., zkey) rows (oracle).

    ``cols`` must be BIGINT-valued expressions over ``table``.
    """
    k = len(cols)
    mins = ", ".join(f"min({c}) AS _mn_{i}" for i, c in enumerate(cols))
    maxs = ", ".join(f"max({c}) AS _mx_{i}" for i, c in enumerate(cols))
    scaled = [
        scale_expr(c, f"_mn_{i}", f"_mx_{i}", bits).replace(" DIV ", " // ")
        for i, c in enumerate(cols)]
    terms = " + ".join(
        f"((({s}) >> i) & 1) * (1::BIGINT << (i * {k} + {d}))"
        for d, s in enumerate(scaled))
    fold = (f"list_sum(list_transform(range(0, {bits}), "
            f"i -> {terms}))")
    key_sel = ", ".join(key_cols)
    return (
        f"WITH b AS (SELECT {mins}, {maxs} FROM {table}) "
        f"SELECT {key_sel}, CAST({fold} AS BIGINT) AS zkey "
        f"FROM {table}, b"
    )
