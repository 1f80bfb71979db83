"""CDC oracles (``operators/cdc.py`` and ``sources/debezium.py``)."""





def _check_delete_op(delete_op: str) -> str:
    """``delete_op`` embeds as a single-quoted SQL literal in the
    oracle emitters — refuse anything that could escape the quoting
    (the same single-statement discipline as funnel._check_steps; a
    quote would silently produce broken oracle SQL)."""
    if (not isinstance(delete_op, str) or "'" in delete_op
            or "\\" in delete_op or ";" in delete_op):
        raise ValueError(f"delete_op must be a plain string without "
                         f"quotes/backslashes/semicolons: {delete_op!r}")
    return delete_op


def upsert_latest_duckdb_sql(table_sql: str, key_cols: list[str],
                             seq_col: str, select_cols: list[str],
                             op_col: str | None = None,
                             delete_op: str = "D",
                             tiebreak_cols: list[str] | None = None) -> str:
    """DuckDB oracle: identical window formulation over ``table_sql``
    (a table name or parenthesized subquery)."""
    if op_col is not None:
        _check_delete_op(delete_op)
    order = ", ".join(
        [f"{seq_col} DESC"] + [f"{c} DESC" for c in (tiebreak_cols or [])])
    keys = ", ".join(key_cols)
    cols = ", ".join(select_cols)
    guard = f" AND {op_col} <> '{delete_op}'" if op_col else ""
    return (
        f"SELECT {cols} FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY {keys} ORDER BY {order})"
        f" AS _rn FROM {table_sql} t) s WHERE _rn = 1{guard}"
    )


def snapshot_diff_duckdb_sql(old_sql: str, new_sql: str,
                             key_cols: list[str], content_col: str,
                             normalize: bool = True) -> str:
    """DuckDB SQL computing the identical per-key statuses (oracle)."""
    c = (f"lower(regexp_replace(trim({content_col}), '\\s+', ' ', 'g'))"
         if normalize else content_col)
    typed = (f"concat(CASE WHEN {c} IS NULL THEN 'n:' ELSE 'v:' END, "
             f"coalesce({c}, ''))")
    keys = ", ".join(key_cols)
    return f"""
WITH o AS (SELECT {keys}, md5({typed}) AS _h_old FROM ({old_sql})),
n AS (SELECT {keys}, md5({typed}) AS _h_new FROM ({new_sql}))
SELECT {keys},
       CASE WHEN _h_old IS NULL THEN 'added'
            WHEN _h_new IS NULL THEN 'removed'
            WHEN _h_old <> _h_new THEN 'changed'
            ELSE 'unchanged' END AS status
FROM o FULL OUTER JOIN n USING ({keys})
"""


def scd2_history_duckdb_sql(table_sql: str, key_cols: list[str],
                            seq_col: str, value_cols: list[str],
                            op_col: str | None = None,
                            delete_op: str = "D",
                            tiebreak_cols: list[str] | None = None) -> str:
    """DuckDB oracle: the identical lead/last-op window formulation."""
    if not key_cols or not value_cols:
        raise ValueError("key_cols and value_cols must be non-empty")
    if op_col is not None:
        _check_delete_op(delete_op)
    # NULLS FIRST pins DuckDB to Spark's ASC default (asc_nulls_first);
    # DuckDB's default is NULLS LAST on ASC — a NULL-sequence changelog
    # row would otherwise reorder the whole version chain
    order = ", ".join(
        [f"{seq_col} ASC NULLS FIRST"]
        + [f"{c} ASC NULLS FIRST" for c in (tiebreak_cols or [])])
    keys = ", ".join(key_cols)
    vals = ", ".join(value_cols)
    if op_col is not None:
        last_op = (f"last_value({op_col}) OVER (PARTITION BY {keys} "
                   f"ORDER BY {order} ROWS BETWEEN UNBOUNDED PRECEDING "
                   f"AND UNBOUNDED FOLLOWING) AS _last_op")
        guard = f"WHERE {op_col} <> '{delete_op}' "
        current = (f"(_valid_to IS NULL AND _last_op <> '{delete_op}')")
    else:
        last_op = "NULL AS _last_op"
        guard = ""
        current = "(_valid_to IS NULL)"
    return (
        f"SELECT {keys}, {vals}, {seq_col} AS valid_from, "
        f"_valid_to AS valid_to, {current} AS is_current FROM ("
        f"SELECT *, lead({seq_col}) OVER (PARTITION BY {keys} "
        f"ORDER BY {order}) AS _valid_to, {last_op} "
        f"FROM {table_sql} t) s {guard}"
    )


def debezium_state_duckdb_sql(table_sql: str, *, fields: list[tuple],
                              key_cols: list[str],
                              value_col: str = "value",
                              tiebreak_path: str | None = None) -> str:
    """DuckDB oracle: identical decode (json_extract over both wrapper
    shapes) + identical window compaction.

    ``fields``: [(name, duckdb_type), ...] for the row image columns.
    ``tiebreak_path``: e.g. ``"pos"`` for ``source.pos``, or None.
    """
    def ext(path: str) -> str:
        # wrapper-tolerant: payload.<path> if present, else <path>
        return (f"coalesce(json_extract_string({value_col}, "
                f"'$.payload.{path}'), "
                f"json_extract_string({value_col}, '$.{path}'))")

    cols = ", ".join(
        f"CAST(CASE WHEN {ext('op')} = 'd' THEN {ext('before.' + n)} "
        f"ELSE {ext('after.' + n)} END AS {t}) AS {n}"
        for n, t in fields)
    tie = (f"CAST({ext('source.' + tiebreak_path)} AS BIGINT)"
           if tiebreak_path else "CAST(0 AS BIGINT)")
    keys = ", ".join(key_cols)
    names = ", ".join(n for n, _ in fields)
    return f"""
WITH decoded AS (
  SELECT {cols},
         {ext('op')} AS _op,
         CAST({ext('ts_ms')} AS BIGINT) AS _seq,
         {tie} AS _tie
  FROM {table_sql}
  WHERE {ext('op')} IN ('c', 'u', 'r', 'd'))
SELECT {names} FROM (
  SELECT *, row_number() OVER (PARTITION BY {keys}
            ORDER BY _seq DESC, _tie DESC) AS _rn
  FROM decoded) s
WHERE _rn = 1 AND _op <> 'd'
""".strip()
