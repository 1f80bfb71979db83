"""Association-rule oracles (``operators/assoc.py``)."""

from oracles.common import floor_round


def _capped_items_cte(table: str, basket_col: str, item_col: str,
                      max_basket_items: int | None) -> str:
    """DuckDB CTE body mirroring :func:`_capped_items`."""
    base = (f"SELECT DISTINCT {basket_col} AS b, {item_col} AS i "
            f"FROM {table} WHERE {item_col} IS NOT NULL "
            f"AND {basket_col} IS NOT NULL")
    if max_basket_items is None:
        return base
    if max_basket_items < 2:
        raise ValueError(
            f"max_basket_items must be >= 2 or None: {max_basket_items}")
    return (f"SELECT b, i FROM (SELECT b, i, row_number() OVER "
            f"(PARTITION BY b ORDER BY i) AS rn FROM ({base})) "
            f"WHERE rn <= {max_basket_items}")


def _conf_lift(n: str, ante: str, min_support: int) -> tuple[str, str]:
    """Confidence and lift of rule count ``n`` over antecedent count
    ``ante`` (with ``nb.n`` baskets and ``nc.n_i`` consequent rows)."""
    if min_support < 1:
        raise ValueError(f"min_support must be >= 1: {min_support}")
    return (floor_round(f"CAST({n} AS DOUBLE) / CAST({ante} AS DOUBLE)", 6),
            floor_round(f"(CAST({n} AS DOUBLE) * nb.n) "
                        f"/ (CAST({ante} AS DOUBLE) * CAST(nc.n_i AS DOUBLE))",
                        6))


def basket_rules_duckdb_sql(table: str, *, basket_col: str,
                            item_col: str,
                            min_support: int = 2,
                            max_basket_items: int | None = 1000) -> str:
    """DuckDB SQL twin of :func:`basket_rules` (oracle): identical
    cap / distinct / self-join / count / divide chain. The basket
    total is computed in-query (a scalar subquery) with the same
    integer value the Spark side folds as a literal."""
    conf, lift = _conf_lift("n_pair", "na.n_i", min_support)
    bi = _capped_items_cte(table, basket_col, item_col, max_basket_items)
    return f"""
WITH bi AS ({bi}),
nb AS (SELECT CAST(count(DISTINCT b) AS DOUBLE) AS n FROM bi),
item_n AS (SELECT i, CAST(count(*) AS BIGINT) AS n_i FROM bi GROUP BY i),
pairs AS (
  SELECT a.i AS x, c.i AS y, CAST(count(*) AS BIGINT) AS n_pair
  FROM bi a JOIN bi c ON a.b = c.b AND a.i < c.i
  GROUP BY 1, 2 HAVING count(*) >= {min_support}),
both_dirs AS (
  SELECT x AS antecedent, y AS consequent, n_pair FROM pairs
  UNION ALL
  SELECT y AS antecedent, x AS consequent, n_pair FROM pairs)
SELECT antecedent, consequent, n_pair,
       na.n_i AS n_ante, nc.n_i AS n_cons,
       {conf} AS confidence,
       {lift} AS lift
FROM both_dirs
JOIN item_n na ON na.i = antecedent
JOIN item_n nc ON nc.i = consequent
CROSS JOIN nb
""".strip()


def basket_rules_2to1_duckdb_sql(table: str, *, basket_col: str,
                                 item_col: str,
                                 min_support: int = 2,
                                 max_basket_items: int | None = 1000
                                 ) -> str:
    """DuckDB SQL twin of :func:`basket_rules_2to1` (oracle)."""
    conf, lift = _conf_lift("n_triple", "np.n_pair", min_support)
    bi = _capped_items_cte(table, basket_col, item_col, max_basket_items)
    return f"""
WITH bi AS ({bi}),
nb AS (SELECT CAST(count(DISTINCT b) AS DOUBLE) AS n FROM bi),
item_n AS (SELECT i, CAST(count(*) AS BIGINT) AS n_i FROM bi GROUP BY i),
pair_occ AS (
  SELECT a.b AS b, a.i AS x, c.i AS y
  FROM bi a JOIN bi c ON a.b = c.b AND a.i < c.i),
pair_n AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS n_pair
  FROM pair_occ GROUP BY 1, 2 HAVING count(*) >= {min_support}),
freq_occ AS (
  SELECT o.b, o.x, o.y FROM pair_occ o
  JOIN pair_n p ON p.x = o.x AND p.y = o.y),
triples AS (
  SELECT f.x, f.y, z.i AS w, CAST(count(*) AS BIGINT) AS n_triple
  FROM freq_occ f JOIN bi z ON f.b = z.b AND f.y < z.i
  GROUP BY 1, 2, 3 HAVING count(*) >= {min_support}),
rules AS (
  SELECT x AS ante_1, y AS ante_2, w AS consequent, n_triple FROM triples
  UNION ALL
  SELECT x AS ante_1, w AS ante_2, y AS consequent, n_triple FROM triples
  UNION ALL
  SELECT y AS ante_1, w AS ante_2, x AS consequent, n_triple FROM triples)
SELECT ante_1, ante_2, consequent, n_triple,
       np.n_pair AS n_ante_pair, nc.n_i AS n_cons,
       {conf} AS confidence,
       {lift} AS lift
FROM rules
JOIN pair_n np ON np.x = ante_1 AND np.y = ante_2
JOIN item_n nc ON nc.i = consequent
CROSS JOIN nb
""".strip()


def basket_rules_3to1_duckdb_sql(table: str, *, basket_col: str,
                                 item_col: str,
                                 min_support: int = 2,
                                 max_basket_items: int | None = 1000
                                 ) -> str:
    """DuckDB SQL twin of :func:`basket_rules_3to1` (oracle)."""
    conf, lift = _conf_lift("n_quad", "nt.n_triple", min_support)
    bi = _capped_items_cte(table, basket_col, item_col, max_basket_items)
    return f"""
WITH bi AS MATERIALIZED ({bi}),
nb AS (SELECT CAST(count(DISTINCT b) AS DOUBLE) AS n FROM bi),
item_n AS (SELECT i, CAST(count(*) AS BIGINT) AS n_i FROM bi GROUP BY i),
pair_occ AS MATERIALIZED (
  SELECT a.b AS b, a.i AS x, c.i AS y
  FROM bi a JOIN bi c ON a.b = c.b AND a.i < c.i),
pair_n AS (
  SELECT x, y FROM pair_occ GROUP BY 1, 2
  HAVING count(*) >= {min_support}),
triple_occ AS MATERIALIZED (
  SELECT f.b, f.x, f.y, z.i AS z
  FROM (SELECT o.b, o.x, o.y FROM pair_occ o
        JOIN pair_n p ON p.x = o.x AND p.y = o.y) f
  JOIN bi z ON f.b = z.b AND f.y < z.i),
triple_n AS MATERIALIZED (
  SELECT x, y, z, CAST(count(*) AS BIGINT) AS n_triple
  FROM triple_occ GROUP BY 1, 2, 3 HAVING count(*) >= {min_support}),
quads AS (
  SELECT t.x, t.y, t.z, w4.i AS w, CAST(count(*) AS BIGINT) AS n_quad
  FROM (SELECT o.b, o.x, o.y, o.z FROM triple_occ o
        JOIN triple_n q ON q.x = o.x AND q.y = o.y AND q.z = o.z) t
  JOIN bi w4 ON t.b = w4.b AND t.z < w4.i
  GROUP BY 1, 2, 3, 4 HAVING count(*) >= {min_support}),
rules AS (
  SELECT x AS ante_1, y AS ante_2, z AS ante_3, w AS consequent, n_quad
  FROM quads
  UNION ALL
  SELECT x, y, w, z, n_quad FROM quads
  UNION ALL
  SELECT x, z, w, y, n_quad FROM quads
  UNION ALL
  SELECT y, z, w, x, n_quad FROM quads)
SELECT ante_1, ante_2, ante_3, consequent, n_quad,
       nt.n_triple AS n_ante_triple, nc.n_i AS n_cons,
       {conf} AS confidence,
       {lift} AS lift
FROM rules
JOIN triple_n nt ON nt.x = ante_1 AND nt.y = ante_2 AND nt.z = ante_3
JOIN item_n nc ON nc.i = consequent
CROSS JOIN nb
""".strip()
