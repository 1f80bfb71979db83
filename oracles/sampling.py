"""Sampling and splitting oracles (``operators/sampling.py``)."""

from flink_sql_security_spark.operators.sampling import (
    BUCKETS, budget_case, take_case_sql, temperature_take_buckets)


def bucket_of_key_sql(key_sql: str, buckets: int = BUCKETS) -> str:
    """DuckDB twin of ``sampling.bucket_of_key_sql``: md5 → first 8 hex
    digits → BIGINT → % buckets."""
    return (f"(('0x' || substring(md5({key_sql}), 1, 8))::BIGINT) "
            f"% {buckets}")


def _bucket_duckdb(id_col: str, salt: str) -> str:
    """Identical bucket arithmetic in DuckDB."""
    return bucket_of_key_sql(
        f"CAST({id_col} AS VARCHAR) || ':{salt}'")


def hash_split_duckdb_sql(table: str = "documents", id_col: str = "doc_id",
                          weights: tuple[float, ...] = (0.8, 0.1, 0.1),
                          names: tuple[str, ...] = ("train", "val", "test"),
                          salt: str = "split",
                          select: str = "*") -> str:
    """DuckDB SQL computing the identical split assignment (oracle)."""
    total = sum(weights)
    cuts, acc = [], 0.0
    for w in weights[:-1]:
        acc += w
        # native-round-ok: driver-side Python, same integer literal
        # embedded into BOTH engines' plans
        cuts.append(int(round(BUCKETS * acc / total)))  # native-round-ok
    b = _bucket_duckdb(id_col, salt)
    whens = " ".join(
        f"WHEN bucket < {c} THEN '{n}'" for c, n in zip(cuts, names)
    )
    return (
        f"SELECT {select}, bucket, CASE {whens} ELSE '{names[-1]}' END AS split "
        f"FROM (SELECT {select}, {b} AS bucket FROM {table}) s"
    )


def stratified_hash_sample_duckdb_sql(fraction: float,
                                      table: str = "documents",
                                      id_col: str = "doc_id",
                                      salt: str = "sample",
                                      select: str = "*") -> str:
    # native-round-ok: driver-side Python, same literal both engines
    cut = int(round(BUCKETS * fraction))  # native-round-ok
    return (f"SELECT {select} FROM {table} "
            f"WHERE {_bucket_duckdb(id_col, salt)} < {cut}")


def per_key_quota_duckdb_sql(table: str, key_col: str,
                             id_col: str = "doc_id", n: int = 10,
                             salt: str = "quota",
                             select: str = "*") -> str:
    """DuckDB oracle for :func:`per_key_quota`."""
    return (
        f"SELECT {select} FROM ("
        f" SELECT {select}, row_number() OVER ("
        f"  PARTITION BY {key_col}"
        f"  ORDER BY md5(CAST({id_col} AS VARCHAR) || ':{salt}') ASC,"
        f"  {id_col} ASC) AS rn"
        f" FROM {table}) q WHERE rn <= {n}"
    )


def shard_shuffle_duckdb_sql(table: str = "documents", n_shards: int = 8,
                             id_col: str = "doc_id",
                             salt: str = "shuffle") -> str:
    """DuckDB oracle for :func:`shard_shuffle` (identical hash + rank)."""
    rk = (f"(('0x' || substring(md5(CAST({id_col} AS VARCHAR) || "
          f"':{salt}'), 1, 15))::BIGINT)")
    return (
        f"SELECT {id_col}, CAST({rk} % {n_shards} AS INTEGER) AS shard, "
        f"CAST(row_number() OVER (PARTITION BY {rk} % {n_shards} "
        f"ORDER BY {rk} ASC, {id_col} ASC) AS INTEGER) AS pos "
        f"FROM {table}"
    )


def token_budget_sample_duckdb_sql(budget, table: str = "documents",
                                   key_col: str = "source",
                                   id_col: str = "doc_id",
                                   text_col: str = "text",
                                   salt: str = "budget") -> str:
    """DuckDB oracle: identical hash order, running sum, and cutoff."""
    from oracles.text import word_count_sql

    b = budget_case(budget, key_col)
    return (
        f"SELECT {id_col}, {key_col}, n_tokens, cum_tokens FROM ("
        f" SELECT {id_col}, {key_col}, n_tokens,"
        f" CAST(sum(n_tokens) OVER ("
        f"  PARTITION BY {key_col}"
        f"  ORDER BY md5(CAST({id_col} AS VARCHAR) || ':{salt}') ASC,"
        f"  {id_col} ASC"
        f"  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)"
        f" AS cum_tokens"
        f" FROM (SELECT {id_col}, {key_col},"
        f"  {word_count_sql(text_col)} AS n_tokens FROM {table}) t) s "
        f"WHERE cum_tokens <= {b}"
    )


def weighted_sample_duckdb_sql(n: int, weight_col: str,
                               table: str = "documents",
                               id_col: str = "doc_id",
                               select: str = "*",
                               salt: str = "wsample") -> str:
    """DuckDB oracle: identical keys, identical top-n."""
    h = (f"CAST(concat('0x', substring(md5(concat(CAST({id_col} AS VARCHAR), "
         f"':{salt}')), 1, 15)) AS BIGINT)")
    key = (f"ln((CAST({h} AS DOUBLE) + 1.0) / {float(1 << 60)!r}) "
           f"/ CAST({weight_col} AS DOUBLE)")
    return (
        f"SELECT {select} FROM ("
        f"SELECT *, {key} AS _aes_key FROM {table} WHERE {weight_col} > 0 "
        f"ORDER BY _aes_key DESC, {id_col} LIMIT {n}) t"
    )


def epoch_upsample_duckdb_sql(factor_expr: str, table: str = "documents",
                              id_col: str = "doc_id", select: str = "*",
                              salt: str = "epoch") -> str:
    """DuckDB oracle: identical copy counts and copy indexes."""
    h = (f"CAST(concat('0x', substring(md5(concat(CAST({id_col} AS VARCHAR), "
         f"':{salt}')), 1, 8)) AS BIGINT) % {BUCKETS}")
    n = (f"CAST(floor({factor_expr}) AS BIGINT) + "
         f"CASE WHEN {h} < CAST(floor(({factor_expr} - floor({factor_expr}))"
         f" * {BUCKETS} + 0.5) AS BIGINT) THEN 1 ELSE 0 END")
    return (
        f"SELECT {select}, c.c AS copy_i FROM "
        f"(SELECT *, {n} AS _n FROM {table}) t, "
        f"UNNEST(range(t._n)) AS c(c) WHERE t._n > 0"
    )


def rank_buckets_duckdb_sql(rows_sql: str, score_col: str,
                            n_buckets: int = 10,
                            bucket_col: str = "bucket") -> str:
    """DuckDB SQL computing identical bucket assignments (oracle)."""
    return f"""
WITH rows_in AS (SELECT * FROM ({rows_sql})
                 WHERE {score_col} IS NOT NULL),
hist AS (SELECT {score_col}, count(*) AS _cnt FROM rows_in GROUP BY 1),
cum AS (SELECT {score_col},
               coalesce(sum(_cnt) OVER (ORDER BY {score_col}
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS _before,
               sum(_cnt) OVER () AS _n
        FROM hist)
SELECT r.*, CAST(c._before * {n_buckets} // c._n AS BIGINT) AS {bucket_col}
FROM rows_in r JOIN cum c USING ({score_col})
"""


def temperature_mix_duckdb_sql(parquet_path: str, table: str = "documents",
                               group_col: str = "source",
                               alpha: float = 0.5, target_rows: int = 200,
                               id_col: str = "doc_id",
                               salt: str = "tmix") -> str:
    """Oracle for :func:`temperature_mix` — group counts re-derive from
    the parquet at emit time and run through the SAME
    :func:`temperature_take_buckets` floats, so the emitted integer
    thresholds are identical; the SQL verifies the bucket filter."""
    import duckdb

    rows = duckdb.sql(
        f"SELECT {group_col}, count(*) FROM read_parquet('{parquet_path}') "
        f"WHERE {group_col} IS NOT NULL GROUP BY 1").fetchall()
    take = temperature_take_buckets({r[0]: r[1] for r in rows},
                                     alpha, target_rows)
    case = take_case_sql(take, group_col)
    bucket = _bucket_duckdb(id_col, salt)
    return (f"SELECT {id_col}, {group_col}, "
            f"CAST({case} AS INT) AS take_buckets "
            f"FROM {table} WHERE ({bucket}) < ({case})")


def component_safe_split_duckdb_sql(pairs_sql: str,
                                    table: str = "documents",
                                    id_col: str = "doc_id",
                                    weights: tuple[float, ...] = (0.8, 0.1, 0.1),
                                    names: tuple[str, ...] = ("train", "val", "test"),
                                    salt: str = "split") -> str:
    """Oracle: recursive-closure components nested under the identical
    bucket/threshold arithmetic (exact integers, no float cuts)."""
    from oracles.dedup import connected_components_duckdb_sql

    if len(weights) != len(names):
        raise ValueError("weights and names must align")
    total = sum(weights)
    cuts, acc = [], 0.0
    for w in weights[:-1]:
        acc += w
        # native-round-ok: driver-side Python, same integer literal
        # embedded into BOTH engines' plans
        cuts.append(int(round(BUCKETS * acc / total)))  # native-round-ok
    case = "CASE "
    for cut, name in zip(cuts, names):
        case += f"WHEN bucket < {cut} THEN '{name}' "
    case += f"ELSE '{names[-1]}' END"
    comp_sql = connected_components_duckdb_sql(pairs_sql)
    return (
        f"SELECT {id_col}, group_key, bucket, {case} AS split FROM "
        f"(SELECT {id_col}, group_key, "
        f"{_bucket_duckdb('group_key', salt)} AS bucket FROM "
        f"(SELECT d.{id_col}, coalesce(c.component_id, d.{id_col}) "
        f"AS group_key FROM {table} d LEFT JOIN ({comp_sql}) c "
        f"ON d.{id_col} = c.doc_id))"
    )
