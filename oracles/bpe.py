"""BPE oracles (``operators/bpe.py``): a replica trainer and the encode SQL."""

from flink_sql_security_spark.operators.bpe import (
    apply_merges, train_from_word_freqs)


def bpe_train_replica(parquet_path: str, text_col: str = "text",
                      n_merges: int = 32, min_freq: int = 2,
                      max_vocab: int = 200_000) -> list[tuple[str, str]]:
    """Oracle-side re-derivation: identical merges from the same parquet
    via DuckDB word counts + the shared merge loop."""
    import duckdb

    rows = duckdb.sql(
        f"SELECT w, count(*) AS f FROM ("
        f"SELECT unnest(string_split_regex(lower(trim({text_col})), '\\s+')) AS w "
        f"FROM read_parquet('{parquet_path}')) t "
        f"WHERE w <> '' GROUP BY w HAVING count(*) >= {min_freq} "
        f"ORDER BY f DESC, w LIMIT {max_vocab}"
    ).fetchall()
    return train_from_word_freqs([(w, f) for w, f in rows], n_merges)


def _stream_expr_duck(text_col: str) -> str:
    enc = ("concat(list_aggregate(list_transform(string_split(w, ''), "
           "c -> concat(c, '  ')), 'string_agg', ''), '</w>  ')")
    return (f"list_aggregate(list_transform("
            f"string_split_regex(lower(trim({text_col})), '\\s+'), "
            f"w -> CASE WHEN w = '' THEN '' ELSE {enc} END), "
            f"'string_agg', '')")


def bpe_encode_duckdb_sql(merges: list[tuple[str, str]],
                          table: str = "documents",
                          text_col: str = "text",
                          id_col: str = "doc_id") -> str:
    """DuckDB oracle: identical stream, merges, count, and fingerprint."""
    s = apply_merges(_stream_expr_duck(text_col), merges)
    return (
        f"SELECT {id_col}, "
        f"CAST((length({s}) - length(replace({s}, '  ', ''))) / 2 "
        f"AS BIGINT) AS n_tokens, "
        f"md5({s}) AS token_fp FROM {table}"
    )
