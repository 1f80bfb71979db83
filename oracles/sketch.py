"""Sketch oracles (``operators/sketch.py``): HLL, Bloom, CMS, histograms."""

from flink_sql_security_spark.operators.sketch import (
    BLOOM_BITS, BLOOM_K, CMS_DEPTH, CMS_WIDTH, HIST_BINS, HLL_M, HLL_P,
    RHO_MAX, alpha_m)

from oracles.common import floor_round


def _hll_sql(long_sql: str, key: str, val_filter: str,
             with_exact: bool) -> str:
    """The HLL sketch of ``long(<key>, val)`` per key, plus the exact
    distinct count and relative error when ``with_exact``."""
    c_lit = repr(alpha_m(HLL_M) * HLL_M * HLL_M * float(1 << RHO_MAX))
    h = "CAST(concat('0x', substring(md5(val), 1, 15)) AS BIGINT)"
    est_raw = f"{c_lit} / CAST(s AS DOUBLE)"
    est = (
        f"CASE WHEN {est_raw} <= {2.5 * HLL_M} AND ({HLL_M} - present) > 0 "
        f"THEN {float(HLL_M)} * ln({float(HLL_M)} / ({HLL_M} - present)) "
        f"ELSE {est_raw} END"
    )
    sql = (
        f"WITH long AS ({long_sql}), "
        f"hashed AS (SELECT {key}, {h} % {HLL_M} AS bucket, "
        f"CASE WHEN ({h} >= {HLL_M} AND ({h} >> {HLL_P}) > 0) "
        f"THEN {RHO_MAX} - length(bin({h} >> {HLL_P})) "
        f"ELSE {RHO_MAX} END AS rho FROM long{val_filter}), "
        f"regs AS (SELECT {key}, bucket, max(rho) AS rho "
        f"FROM hashed GROUP BY 1, 2), "
        f"agg AS (SELECT {key}, "
        f"CAST(sum(1::BIGINT << ({RHO_MAX} - rho)) AS BIGINT) AS s0, "
        f"CAST(count(*) AS BIGINT) AS present FROM regs GROUP BY 1), "
        f"est AS (SELECT {key}, present, "
        f"s0 + ({HLL_M} - present) * (1::BIGINT << {RHO_MAX}) AS s FROM agg), "
        f"sk AS (SELECT {key}, CAST(floor(({est}) + 0.5) AS BIGINT) "
        f"AS n_est FROM est)"
    )
    if not with_exact:
        return sql + f" SELECT {key}, n_est FROM sk"
    return (
        sql + f", ex AS (SELECT {key}, "
        "CAST(count(DISTINCT val) AS BIGINT) AS n_exact "
        f"FROM long GROUP BY 1) SELECT sk.{key}, n_est, n_exact, "
        + floor_round(
            "(CAST(n_est AS DOUBLE) - CAST(n_exact AS DOUBLE)) "
            "/ CAST(n_exact AS DOUBLE)", 4)
        + f" AS rel_err FROM sk JOIN ex USING ({key})"
    )


def approx_distinct_hll_duckdb_sql(table: str, cols: list[str],
                                   with_exact: bool = True) -> str:
    """DuckDB SQL computing the identical sketch (oracle emitter)."""
    stacked = " UNION ALL ".join(
        f"SELECT '{c}' AS \"column\", CAST({c} AS VARCHAR) AS val FROM {table}"
        for c in cols)
    return _hll_sql(stacked, '"column"', " WHERE val IS NOT NULL",
                    with_exact)


def _dh_duckdb(col_expr: str, mod: int):
    h1 = (f"CAST(concat('0x', substring(md5(CAST({col_expr} AS VARCHAR)), "
          f"1, 15)) AS BIGINT) % {mod}")
    h2 = (f"CAST(concat('0x', substring(md5(CAST({col_expr} AS VARCHAR)), "
          f"16, 15)) AS BIGINT) % {mod}")
    return h1, h2


def bloom_decontaminate_duckdb_sql(corpus_sql: str, held_sql: str,
                                   id_col: str = "doc_id",
                                   text_col: str = "text",
                                   n_bits: int = BLOOM_BITS,
                                   k: int = BLOOM_K) -> str:
    """DuckDB SQL computing the identical verdicts (oracle emitter)."""
    norm = f"lower(regexp_replace(trim({text_col}), '\\s+', ' ', 'g'))"
    h1, h2 = _dh_duckdb("_norm", n_bits)
    return f"""
WITH corpus AS (SELECT {id_col}, {norm} AS _norm FROM ({corpus_sql})),
held AS (SELECT DISTINCT {norm} AS _norm FROM ({held_sql})),
hh AS (SELECT {h1} AS _h1, {h2} AS _h2 FROM held
       WHERE _norm IS NOT NULL),
bits AS (SELECT DISTINCT (_h1 + i * _h2) % {n_bits} AS bit
         FROM hh, range({k}) t(i)),
ch AS (SELECT {id_col}, _norm, {h1} AS _h1, {h2} AS _h2 FROM corpus
       WHERE _norm IS NOT NULL),
pos AS (SELECT {id_col}, (_h1 + i * _h2) % {n_bits} AS bit
        FROM ch, range({k}) t(i)),
probed AS (SELECT p.{id_col},
                  bool_and(b.bit IS NOT NULL) AS bloom_maybe
           FROM pos p LEFT JOIN bits b USING (bit) GROUP BY 1),
exact AS (SELECT c.{id_col}, h._norm IS NOT NULL AS _exact
          FROM corpus c LEFT JOIN held h USING (_norm))
SELECT e.{id_col}, coalesce(p.bloom_maybe, FALSE) AS bloom_maybe,
       coalesce(e._exact, FALSE) AS exact_member,
       coalesce(p.bloom_maybe, FALSE)
         AND NOT coalesce(e._exact, FALSE) AS false_positive
FROM exact e LEFT JOIN probed p USING ({id_col})
"""


def cms_token_counts_duckdb_sql(table: str, text_col: str = "text",
                                min_count: int = 100,
                                width: int = CMS_WIDTH,
                                depth: int = CMS_DEPTH) -> str:
    """DuckDB SQL computing the identical (token, n_exact, n_est) rows."""
    h1, h2 = _dh_duckdb("token", width)
    return f"""
WITH words AS (
  SELECT unnest(string_split_regex(lower(trim({text_col})), '\\s+')) AS token
  FROM {table}),
wh AS (SELECT token, {h1} AS _h1, {h2} AS _h2 FROM words),
cells AS (SELECT j, (_h1 + j * _h2) % {width} AS pos
          FROM wh, range({depth}) t(j)),
counters AS (SELECT j AS row_j, pos, CAST(count(*) AS BIGINT) AS cnt
             FROM cells GROUP BY 1, 2),
exact AS (SELECT token, CAST(count(*) AS BIGINT) AS n_exact
          FROM words GROUP BY 1 HAVING count(*) >= {min_count}),
eh AS (SELECT token, {h1} AS _h1, {h2} AS _h2 FROM exact),
ppos AS (SELECT token, j AS row_j, (_h1 + j * _h2) % {width} AS pos
         FROM eh, range({depth}) t(j)),
est AS (SELECT p.token, min(coalesce(c.cnt, 0)) AS n_est
        FROM ppos p LEFT JOIN counters c USING (row_j, pos) GROUP BY 1)
SELECT e.token, e.n_exact, s.n_est
FROM exact e JOIN est s USING (token)
"""


def histogram_quantiles_duckdb_sql(table: str, col: str,
                                   ps: tuple = (0.25, 0.5, 0.75, 0.95),
                                   n_bins: int = HIST_BINS) -> str:
    """DuckDB SQL computing identical (p, q_est) rows (oracle emitter)."""
    v = f"CAST(CAST({col} AS DECIMAL(18,2)) AS DOUBLE)"
    probes = " UNION ALL ".join(
        f"SELECT CAST({p} AS DOUBLE) AS p" for p in ps)
    q_floor = floor_round(
        f"lo + (CAST(bin AS DOUBLE) + "
        f"CAST(r - cum_before AS DOUBLE) / CAST(cnt AS DOUBLE)) "
        f"* (hi - lo) / {n_bins}", 6)
    return f"""
WITH b AS (SELECT min({v}) AS lo, max({v}) AS hi FROM {table}),
binned AS (SELECT CASE WHEN hi = lo THEN 0 ELSE least(CAST(floor(
             ({v} - lo) * {n_bins} / (hi - lo)) AS BIGINT), {n_bins - 1})
           END AS bin, lo, hi
           FROM {table}, b WHERE {col} IS NOT NULL),
hist AS (SELECT bin, lo, hi, CAST(count(*) AS BIGINT) AS cnt
         FROM binned GROUP BY 1, 2, 3),
cum AS (SELECT *, coalesce(sum(cnt) OVER (ORDER BY bin
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
          sum(cnt) OVER () AS n FROM hist),
probes AS ({probes})
SELECT p, {q_floor} AS q_est
FROM (SELECT p, min(struct_pack(bin := bin, cum_before := cum_before,
        cnt := cnt, lo := lo, hi := hi, r := r, n := n)) AS s
      FROM (SELECT probes.p, cum.*, CAST(ceil(probes.p * cum.n) AS BIGINT) AS r
            FROM probes, cum) q
      WHERE cum_before + cnt >= r GROUP BY p) m,
     LATERAL (SELECT m.s.bin AS bin, m.s.cum_before AS cum_before,
              m.s.cnt AS cnt, m.s.lo AS lo, m.s.hi AS hi, m.s.r AS r) u
"""


def grouped_distinct_hll_duckdb_sql(table: str, key_col: str,
                                    val_col: str,
                                    with_exact: bool = True) -> str:
    """DuckDB SQL computing the identical grouped sketch (oracle)."""
    return _hll_sql(
        f"SELECT {key_col} AS key, CAST({val_col} AS VARCHAR) AS val "
        f"FROM {table} WHERE {val_col} IS NOT NULL AND {key_col} IS NOT NULL",
        "key", "", with_exact)
