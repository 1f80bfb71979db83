"""Fuzzy name-pair oracle (``operators/fuzzy.py``)."""





def fuzzy_name_pairs_sql(*, table: str, id_col: str, name_col: str,
                         max_dist: int = 8,
                         block_sql: str | None = None) -> str:
    """DuckDB SQL for the identical blocked edit-distance pairs (oracle)."""
    block = (block_sql if block_sql is not None
             else f"string_split({name_col}, ' ')[1]")
    return (
        f"WITH keyed AS (SELECT {id_col}, {name_col}, "
        f"{block} AS block_key FROM {table}) "
        f"SELECT a.{id_col} AS a_id, b.{id_col} AS b_id, "
        f"a.{name_col} AS a_name, b.{name_col} AS b_name, "
        f"levenshtein(a.{name_col}, b.{name_col}) AS dist "
        f"FROM keyed a JOIN keyed b ON a.block_key = b.block_key "
        f"AND a.{id_col} < b.{id_col} "
        f"WHERE levenshtein(a.{name_col}, b.{name_col}) <= {max_dist}"
    )
