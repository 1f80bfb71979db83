"""Sequence-packing oracles (``operators/packing.py``)."""

from oracles.common import floor_round


def pack_sequences_duckdb_sql(tokens_sql: str, budget: int = 512,
                              table: str = "documents",
                              id_col: str = "doc_id") -> str:
    """Oracle: one global window prefix sum — same integers, same bins."""
    return (
        f"WITH t AS (SELECT {id_col}, CAST({tokens_sql} AS BIGINT) AS n_tokens "
        f"FROM {table}), "
        f"c AS (SELECT {id_col}, n_tokens, "
        # CAST: DuckDB integer window-sums come back HUGEINT, which pandas
        # renders float64 — BIGINT keeps the arithmetic (and the hash) integral
        f"coalesce(CAST(sum(n_tokens) OVER (ORDER BY {id_col} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) "
        "AS start FROM t) "
        f"SELECT {id_col}, n_tokens, "
        f"start // {budget} AS bin_id, "
        f"start % {budget} AS bin_offset, "
        f"(start + greatest(n_tokens, 1) - 1) // {budget} "
        f"> start // {budget} AS spans_boundary "
        "FROM c"
    )


def length_bucketed_batches_duckdb_sql(tokens_sql: str, batch_docs: int = 8,
                                       id_col: str = "doc_id") -> str:
    """DuckDB oracle: identical buckets, batches, and padding stats.
    ``tokens_sql`` must yield (id_col, n_tokens)."""
    return (
        f"WITH base AS (SELECT {id_col}, CAST(n_tokens AS BIGINT) AS n_tokens "
        f"FROM ({tokens_sql}) t WHERE n_tokens > 0), "
        f"b AS (SELECT *, CAST(length(bin(n_tokens)) AS INTEGER) AS bucket "
        f"FROM base), "
        # `//`: DuckDB's CAST(double AS BIGINT) ROUNDS (Spark's truncates)
        # — floor division keeps batch assignment integer-exact
        f"a AS (SELECT *, CAST((row_number() OVER "
        f"(PARTITION BY bucket ORDER BY n_tokens, {id_col}) - 1) "
        f"// {batch_docs} AS BIGINT) AS batch_id FROM b) "
        f"SELECT {id_col}, n_tokens, bucket, batch_id, "
        f"max(n_tokens) OVER wb AS batch_max, "
        + floor_round(
            "1.0 - CAST(sum(n_tokens) OVER wb AS DOUBLE) "
            "/ (max(n_tokens) OVER wb * count(*) OVER wb)", 6)
        + " AS pad_frac "
        f"FROM a WINDOW wb AS (PARTITION BY bucket, batch_id)"
    )
