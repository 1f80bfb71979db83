"""DSIR importance-weight oracle (``operators/dsir.py``)."""

from flink_sql_security_spark.operators.dsir import DSIR_BUCKETS

from oracles.common import floor_round


def dsir_weights_duckdb_sql(corpus_sql: str, target_sql: str,
                            id_col: str = "doc_id", text_col: str = "text",
                            buckets: int = DSIR_BUCKETS) -> str:
    """DuckDB SQL computing identical (id, n_feats, weight) rows."""
    tok = (f"unnest(string_split_regex(lower(trim({text_col})), '\\s+'))"
           f" AS _tok")
    b = (f"CAST(concat('0x', substring(md5(_tok), 1, 15)) AS BIGINT)"
         f" % {buckets}")
    lr_floor = floor_round(
        "ln("
        f"CAST((coalesce(ct, 0) + 1) * (q_total + {buckets}) AS DOUBLE)"
        f" / CAST((cq + 1) * (t_total + {buckets}) AS DOUBLE)"
        ")", 6)
    per_tok_floor = floor_round("weight / n_feats", 6)
    # the weight round below stays native-round-ok: sum(lr) is exact
    # DECIMAL(18,6) arithmetic (== Spark's sum(n*lr) over buckets), so
    # round-6 of its double cast is idempotent re-quantization
    return f"""
WITH cw AS (SELECT {id_col}, {b} AS bucket FROM
            (SELECT {id_col}, {tok} FROM ({corpus_sql}))),
tw AS (SELECT {b} AS bucket FROM (SELECT {tok} FROM ({target_sql}))),
ct AS (SELECT bucket, count(*) AS ct FROM tw GROUP BY 1),
cq AS (SELECT bucket, count(*) AS cq FROM cw GROUP BY 1),
tt AS (SELECT sum(ct) AS t_total FROM ct),
qt AS (SELECT sum(cq) AS q_total FROM cq),
lr AS (SELECT bucket,
              CAST({lr_floor} AS DECIMAL(18,6)) AS lr
       FROM cq LEFT JOIN ct USING (bucket), tt, qt)
SELECT {id_col}, n_feats, weight, {per_tok_floor} AS per_tok
FROM (SELECT cw.{id_col}, CAST(count(*) AS BIGINT) AS n_feats,
             round(CAST(sum(lr) AS DOUBLE), 6) AS weight -- native-round-ok
      FROM cw JOIN lr USING (bucket) GROUP BY 1)
"""
