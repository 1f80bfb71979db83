"""Driver contract for the spark-graft builder (PySpark target).

Every query routes through ``SecurityContext`` — the security layer is the
query gateway, exactly as in the reference (``SecurityContext.java`` is its
only entry point). Policies for the demo users live in
``flink_sql_security_spark/presets.py`` (FIXTURES.md table mapping).

Oracle notes:
- money/quantity doubles are cast to DECIMAL(18,2) *before* aggregation in
  both dialects — the synthetic data is 2-decimal, so the casts are exact and
  the sums engine-independent.
- masks are emulated in DuckDB with regexp_replace chains
  (functions/masks.py duckdb_* emitters document the equivalence).
- every other oracle emitter lives in the top-level ``oracles/`` package,
  one module per operator family; ``oracles/common.py`` holds the DuckDB
  idioms they share (the floor rounding rule, unit vectors, dot folds).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from flink_sql_security_spark.presets import (
    USER_CUSTOM, USER_DATE, USER_FILTER, USER_HASH, USER_MASK, USER_MIXED,
    USER_NULL, demo_context,
)
from flink_sql_security_spark.functions import masks as _masks
from flink_sql_security_spark.sources import register_tables
from oracles.common import dot as _dot, floor_round as _floor_round, unit_cte

_NOBODY = "user_nobody"  # no policies: SecurityContext passes queries through

_REVENUE = "CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))"


_CURRENT_SF: dict[int, str] = {}


def _ensure_tables(spark: SparkSession, sf_dir: str) -> None:
    # re-register whenever the session's active sf_dir changes; a seen-set
    # would serve stale views after interleaving two sf_dirs on one session
    if _CURRENT_SF.get(id(spark)) != sf_dir:
        register_tables(spark, sf_dir)
        _CURRENT_SF[id(spark)] = sf_dir


def _run(user: str, sql: str) -> Callable[[SparkSession, str], DataFrame]:
    def call(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_tables(spark, sf_dir)
        return demo_context(spark).sql(user, sql)
    return call


# --------------------------------------------------------------------------
# Query corpus: (spark SQL through SecurityContext, DuckDB oracle SQL)
# --------------------------------------------------------------------------

_QUERIES: dict[str, tuple[str, str, str]] = {
    # ---- security layer: row filters (SURVEY §2.A4-A6, A9) ----
    "rls_select": (
        USER_FILTER,
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders",
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders "
        "WHERE o_orderpriority = '1-URGENT'",
    ),
    "rls_or_where": (
        USER_FILTER,
        "SELECT o_orderkey, o_totalprice FROM orders "
        "WHERE o_totalprice > 150000 OR o_orderstatus = 'F'",
        "SELECT o_orderkey, o_totalprice FROM orders "
        "WHERE (o_totalprice > 150000 OR o_orderstatus = 'F') "
        "AND o_orderpriority = '1-URGENT'",
    ),
    "rls_join_3way": (
        USER_FILTER,
        "SELECT l_orderkey, l_linenumber, o_totalprice, c_custkey "
        "FROM lineitem "
        "JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey",
        "SELECT l_orderkey, l_linenumber, o_totalprice, c_custkey "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "WHERE o_orderpriority = '1-URGENT' AND c_mktsegment = 'BUILDING'",
    ),
    "rls_subquery": (
        USER_FILTER,
        "SELECT t.o_orderkey, t.o_totalprice FROM "
        "(SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders "
        " WHERE o_orderstatus = 'O') AS t WHERE t.o_totalprice > 100000",
        "SELECT o_orderkey, o_totalprice FROM "
        "(SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders "
        " WHERE o_orderstatus = 'O' AND o_orderpriority = '1-URGENT') t "
        "WHERE t.o_totalprice > 100000",
    ),
    "rls_groupby": (
        USER_FILTER,
        "SELECT o_orderstatus, count(*) AS cnt, "
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
        "FROM orders GROUP BY o_orderstatus",
        "SELECT o_orderstatus, count(*) AS cnt, "
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
        "FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_orderstatus",
    ),
    # set operation: the row filter must inject into EVERY branch (the
    # rewriter visits each SetOp side — fuzz-pinned, now driver-pinned)
    "rls_union": (
        USER_FILTER,
        "SELECT o_orderkey, o_orderstatus FROM orders "
        "WHERE o_totalprice > 100000 "
        "UNION ALL SELECT o_orderkey, o_orderstatus FROM orders "
        "WHERE o_orderstatus = 'F'",
        "SELECT o_orderkey, o_orderstatus FROM orders "
        "WHERE (o_orderpriority = '1-URGENT') AND (o_totalprice > 100000) "
        "UNION ALL SELECT o_orderkey, o_orderstatus FROM orders "
        "WHERE (o_orderpriority = '1-URGENT') AND (o_orderstatus = 'F')",
    ),
    # ---- security layer: data masks (SURVEY §2.A7, §2.9) ----
    "mask_show_first": (
        USER_MASK,
        "SELECT c_custkey, c_name, c_mktsegment FROM customer",
        "SELECT c_custkey, " + _masks.duckdb_mask_show_first_n_sql("c_name")
        + " AS c_name, c_mktsegment FROM customer",
    ),
    "mask_default_supplier": (
        USER_MASK,
        "SELECT s_suppkey, s_name, s_nationkey FROM supplier",
        "SELECT s_suppkey, " + _masks.duckdb_mask_sql("s_name")
        + " AS s_name, s_nationkey FROM supplier",
    ),
    "mask_join": (
        USER_MASK,
        "SELECT o_orderkey, c_name FROM orders "
        "JOIN customer ON o_custkey = c_custkey WHERE o_totalprice > 250000",
        "SELECT o_orderkey, " + _masks.duckdb_mask_show_first_n_sql("c_name")
        + " AS c_name FROM orders JOIN customer ON o_custkey = c_custkey "
        "WHERE o_totalprice > 250000",
    ),
    "mask_hash": (
        USER_HASH,
        "SELECT c_custkey, c_name FROM customer",
        "SELECT c_custkey, sha256(c_name) AS c_name FROM customer",
    ),
    "mask_null": (
        USER_NULL,
        "SELECT c_custkey, c_name, c_acctbal FROM customer",
        "SELECT c_custkey, CAST(NULL AS VARCHAR) AS c_name, c_acctbal FROM customer",
    ),
    "mask_show_last": (
        USER_MASK,
        "SELECT p_partkey, p_name FROM part",
        "SELECT p_partkey, " + _masks.duckdb_mask_show_last_n_sql("p_name")
        + " AS p_name FROM part",
    ),
    "mask_custom_template": (
        USER_CUSTOM,
        "SELECT c_custkey, c_name FROM customer",
        "SELECT c_custkey, concat(substring(c_name, 1, 2), repeat('*', 6)) "
        "AS c_name FROM customer",
    ),
    "mask_date_year": (
        USER_DATE,
        "SELECT o_orderkey, o_orderdate FROM orders",
        "SELECT o_orderkey, CAST(date_trunc('year', o_orderdate) AS TIMESTAMP)"
        " AS o_orderdate FROM orders",
    ),
    # set operation: the mask subquery must wrap the table ref in EVERY
    # branch; UNION (distinct) dedups over MASKED values on both engines
    "mask_union": (
        USER_MASK,
        "SELECT c_custkey, c_name FROM customer "
        "WHERE c_mktsegment = 'BUILDING' "
        "UNION SELECT c_custkey, c_name FROM customer "
        "WHERE c_mktsegment = 'MACHINERY'",
        "SELECT c_custkey, " + _masks.duckdb_mask_show_first_n_sql("c_name")
        + " AS c_name FROM customer WHERE c_mktsegment = 'BUILDING' "
        "UNION SELECT c_custkey, " + _masks.duckdb_mask_show_first_n_sql("c_name")
        + " AS c_name FROM customer WHERE c_mktsegment = 'MACHINERY'",
    ),
    # ---- security layer: mixed (filter-then-mask, SURVEY §2.A10) ----
    "mixed_flagship": (
        USER_MIXED,
        "SELECT c_name, count(*) AS cnt, "
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "GROUP BY c_name",
        "SELECT " + _masks.duckdb_mask_show_first_n_sql("c_name") + " AS c_name, "
        "count(*) AS cnt, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "WHERE o_orderpriority = '1-URGENT' AND c_mktsegment = 'BUILDING' "
        "GROUP BY 1",
    ),
    # ---- relational surface: scan/filter/agg/join/sort (SURVEY §2.B) ----
    "q1_pricing_summary": (
        _NOBODY,
        "SELECT l_returnflag, l_linestatus, "
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, "
        f"CAST(sum({_REVENUE}) AS DOUBLE) AS sum_disc_price, "
        "count(*) AS count_order "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
        "GROUP BY l_returnflag, l_linestatus "
        "ORDER BY l_returnflag, l_linestatus",
        "SELECT l_returnflag, l_linestatus, "
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, "
        f"CAST(sum({_REVENUE}) AS DOUBLE) AS sum_disc_price, "
        "count(*) AS count_order "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
        "GROUP BY l_returnflag, l_linestatus "
        "ORDER BY l_returnflag, l_linestatus",
    ),
    "q3_shipping_priority": (
        _NOBODY,
        "SELECT l_orderkey, "
        f"CAST(sum({_REVENUE}) AS DOUBLE) AS revenue, o_orderdate "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE c_mktsegment = 'BUILDING' "
        "GROUP BY l_orderkey, o_orderdate "
        "ORDER BY revenue DESC, l_orderkey LIMIT 10",
        "SELECT l_orderkey, "
        f"CAST(sum({_REVENUE}) AS DOUBLE) AS revenue, o_orderdate "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE c_mktsegment = 'BUILDING' "
        "GROUP BY l_orderkey, o_orderdate "
        "ORDER BY revenue DESC, l_orderkey LIMIT 10",
    ),
    "q5_regional_revenue": (
        _NOBODY,
        f"SELECT n_name, CAST(sum({_REVENUE}) AS DOUBLE) AS revenue "
        "FROM region JOIN nation ON r_regionkey = n_regionkey "
        "JOIN customer ON n_nationkey = c_nationkey "
        "JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON o_orderkey = l_orderkey "
        "WHERE r_name = 'ASIA' "
        "GROUP BY n_name ORDER BY revenue DESC, n_name",
        f"SELECT n_name, CAST(sum({_REVENUE}) AS DOUBLE) AS revenue "
        "FROM region JOIN nation ON r_regionkey = n_regionkey "
        "JOIN customer ON n_nationkey = c_nationkey "
        "JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON o_orderkey = l_orderkey "
        "WHERE r_name = 'ASIA' "
        "GROUP BY n_name ORDER BY revenue DESC, n_name",
    ),
    "window_topk_orders": (
        _NOBODY,
        "SELECT o_custkey, o_orderkey, o_totalprice FROM "
        "(SELECT o_custkey, o_orderkey, o_totalprice, "
        " row_number() OVER (PARTITION BY o_custkey "
        "   ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) t "
        "WHERE t.rn <= 3",
        "SELECT o_custkey, o_orderkey, o_totalprice FROM "
        "(SELECT o_custkey, o_orderkey, o_totalprice, "
        " row_number() OVER (PARTITION BY o_custkey "
        "   ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) t "
        "WHERE t.rn <= 3",
    ),
    # analytic windows beyond row_number: offset (lag), framed running
    # aggregate, and bucket assignment (ntile) — one windowed pass
    "window_lag_running": (
        _NOBODY,
        "SELECT o_custkey, o_orderkey, "
        "lag(o_totalprice) OVER "
        "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) "
        "AS prev_price, "
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER "
        "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) "
        "AS running_total, "
        "ntile(4) OVER "
        "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) "
        "AS quartile "
        "FROM orders",
        "SELECT o_custkey, o_orderkey, "
        "lag(o_totalprice) OVER "
        "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) "
        "AS prev_price, "
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER "
        "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) "
        "AS running_total, "
        "ntile(4) OVER "
        "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) "
        "AS quartile "
        "FROM orders",
    ),
    "distinct_custkeys": (
        _NOBODY,
        "SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust "
        "FROM orders GROUP BY o_orderpriority",
        "SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust "
        "FROM orders GROUP BY o_orderpriority",
    ),
    "union_customers": (
        _NOBODY,
        "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING' "
        "UNION SELECT c_custkey FROM customer WHERE c_acctbal > 9000",
        "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING' "
        "UNION SELECT c_custkey FROM customer WHERE c_acctbal > 9000",
    ),
    "rollup_nation_region": (
        _NOBODY,
        "SELECT r_name, n_name, count(*) AS cnt "
        "FROM nation JOIN region ON n_regionkey = r_regionkey "
        "GROUP BY ROLLUP(r_name, n_name)",
        "SELECT r_name, n_name, count(*) AS cnt "
        "FROM nation JOIN region ON n_regionkey = r_regionkey "
        "GROUP BY ROLLUP(r_name, n_name)",
    ),
    "exists_semi_join": (
        _NOBODY,
        "SELECT c_custkey, c_name FROM customer WHERE EXISTS "
        "(SELECT 1 AS one FROM orders WHERE o_custkey = c_custkey "
        " AND o_orderpriority = '1-URGENT')",
        "SELECT c_custkey, c_name FROM customer WHERE EXISTS "
        "(SELECT 1 AS one FROM orders WHERE o_custkey = c_custkey "
        " AND o_orderpriority = '1-URGENT')",
    ),
    "not_exists_anti_join": (
        _NOBODY,
        "SELECT c_custkey FROM customer WHERE NOT EXISTS "
        "(SELECT 1 AS one FROM orders WHERE o_custkey = c_custkey "
        " AND o_orderpriority = '1-URGENT')",
        "SELECT c_custkey FROM customer WHERE NOT EXISTS "
        "(SELECT 1 AS one FROM orders WHERE o_custkey = c_custkey "
        " AND o_orderpriority = '1-URGENT')",
    ),
    "case_buckets": (
        _NOBODY,
        "SELECT CASE WHEN o_totalprice < 50000 THEN 'low' "
        "WHEN o_totalprice < 200000 THEN 'mid' ELSE 'high' END AS bucket, "
        "count(*) AS cnt FROM orders GROUP BY 1".replace("GROUP BY 1",
            "GROUP BY CASE WHEN o_totalprice < 50000 THEN 'low' "
            "WHEN o_totalprice < 200000 THEN 'mid' ELSE 'high' END"),
        "SELECT CASE WHEN o_totalprice < 50000 THEN 'low' "
        "WHEN o_totalprice < 200000 THEN 'mid' ELSE 'high' END AS bucket, "
        "count(*) AS cnt FROM orders GROUP BY 1",
    ),
    "having_big_customers": (
        _NOBODY,
        "SELECT o_custkey, count(*) AS n_orders FROM orders "
        "GROUP BY o_custkey HAVING count(*) > 15",
        "SELECT o_custkey, count(*) AS n_orders FROM orders "
        "GROUP BY o_custkey HAVING count(*) > 15",
    ),
    # TPC-H-shaped breadth: EXISTS+date-range agg (q4), 4-way-join top-N
    # (q10), CASE aggregation over a join (q12), conditional-agg ratio (q14),
    # disjunctive multi-predicate join (q19) — same text in both dialects
    "q4_priority_count": (
        _NOBODY,
        "SELECT o_orderpriority, count(*) AS n_orders FROM orders "
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' "
        "AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00' "
        "AND EXISTS (SELECT 1 AS one FROM lineitem "
        " WHERE l_orderkey = o_orderkey AND l_returnflag = 'R') "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority",
        "SELECT o_orderpriority, count(*) AS n_orders FROM orders "
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' "
        "AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00' "
        "AND EXISTS (SELECT 1 AS one FROM lineitem "
        " WHERE l_orderkey = o_orderkey AND l_returnflag = 'R') "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority",
    ),
    "q10_returned_items": (
        _NOBODY,
        "SELECT c_custkey, c_name, "
        f"CAST(sum({_REVENUE}) AS DOUBLE) AS revenue, n_name "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "WHERE l_returnflag = 'R' "
        "GROUP BY c_custkey, c_name, n_name "
        "ORDER BY revenue DESC, c_custkey LIMIT 20",
        "SELECT c_custkey, c_name, "
        f"CAST(sum({_REVENUE}) AS DOUBLE) AS revenue, n_name "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "WHERE l_returnflag = 'R' "
        "GROUP BY c_custkey, c_name, n_name "
        "ORDER BY revenue DESC, c_custkey LIMIT 20",
    ),
    "q12_priority_case": (
        _NOBODY,
        "SELECT l_linestatus, "
        "sum(CASE WHEN o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH' "
        "THEN 1 ELSE 0 END) AS high_line_count, "
        "sum(CASE WHEN o_orderpriority <> '1-URGENT' AND o_orderpriority <> '2-HIGH' "
        "THEN 1 ELSE 0 END) AS low_line_count "
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
        "GROUP BY l_linestatus ORDER BY l_linestatus",
        # DuckDB sums of INTEGER return HUGEINT (float64 in pandas);
        # CAST AS BIGINT aligns with Spark's bigint sums
        "SELECT l_linestatus, "
        "CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH' "
        "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
        "CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT' AND o_orderpriority <> '2-HIGH' "
        "THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count "
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
        "GROUP BY l_linestatus ORDER BY l_linestatus",
    ),
    # ratio of two exact decimal sums, divided as doubles → engine-stable
    "q14_promo_share": (
        _NOBODY,
        "SELECT round(CAST(100.0 AS DOUBLE) * "
        f"CAST(sum(CASE WHEN p_type = 'PROMO' THEN {_REVENUE} "
        "ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) / "
        f"CAST(sum({_REVENUE}) AS DOUBLE), 6) AS promo_pct "
        "FROM lineitem JOIN part ON l_partkey = p_partkey",
        "SELECT round(CAST(100.0 AS DOUBLE) * "
        f"CAST(sum(CASE WHEN p_type = 'PROMO' THEN {_REVENUE} "
        "ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) / "
        f"CAST(sum({_REVENUE}) AS DOUBLE), 6) AS promo_pct "
        "FROM lineitem JOIN part ON l_partkey = p_partkey",
    ),
    "q19_disjunctive_join": (
        _NOBODY,
        f"SELECT CAST(sum({_REVENUE}) AS DOUBLE) AS revenue "
        "FROM lineitem JOIN part ON p_partkey = l_partkey "
        "WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11) "
        "OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20) "
        "OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30)",
        f"SELECT CAST(sum({_REVENUE}) AS DOUBLE) AS revenue "
        "FROM lineitem JOIN part ON p_partkey = l_partkey "
        "WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11) "
        "OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20) "
        "OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30)",
    ),
    # correlated scalar subquery (max is order-independent → exact)
    "corr_max_order": (
        _NOBODY,
        "SELECT o.o_custkey, o.o_orderkey, o.o_totalprice FROM orders AS o "
        "WHERE o.o_totalprice = (SELECT max(o2.o_totalprice) FROM orders AS o2 "
        "WHERE o2.o_custkey = o.o_custkey)",
        "SELECT o.o_custkey, o.o_orderkey, o.o_totalprice FROM orders AS o "
        "WHERE o.o_totalprice = (SELECT max(o2.o_totalprice) FROM orders o2 "
        "WHERE o2.o_custkey = o.o_custkey)",
    ),
    "in_subquery_debtors": (
        _NOBODY,
        "SELECT o_orderkey, o_custkey FROM orders WHERE o_custkey IN "
        "(SELECT c_custkey FROM customer WHERE c_acctbal < 0)",
        "SELECT o_orderkey, o_custkey FROM orders WHERE o_custkey IN "
        "(SELECT c_custkey FROM customer WHERE c_acctbal < 0)",
    ),
    "intersect_building_urgent": (
        _NOBODY,
        "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING' "
        "INTERSECT SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'",
        "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING' "
        "INTERSECT SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'",
    ),
    "except_building_urgent": (
        _NOBODY,
        "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING' "
        "EXCEPT SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'",
        "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING' "
        "EXCEPT SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'",
    ),
    "cube_priority_status": (
        _NOBODY,
        "SELECT o_orderpriority, o_orderstatus, count(*) AS cnt FROM orders "
        "GROUP BY CUBE(o_orderpriority, o_orderstatus)",
        "SELECT o_orderpriority, o_orderstatus, count(*) AS cnt FROM orders "
        "GROUP BY CUBE(o_orderpriority, o_orderstatus)",
    ),
    "grouping_sets_priority": (
        _NOBODY,
        "SELECT o_orderpriority, o_orderstatus, count(*) AS cnt FROM orders "
        "GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())",
        "SELECT o_orderpriority, o_orderstatus, count(*) AS cnt FROM orders "
        "GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())",
    ),
    "events_json_extract": (
        _NOBODY,
        "SELECT event_id, CAST(get_json_object(props, '$.k') AS INT) AS k "
        "FROM events",
        "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k "
        "FROM events",
    ),
    "events_daily": (
        _NOBODY,
        # day stays TIMESTAMP on both sides: Spark DATE → datetime.date vs
        # DuckDB DATE → datetime64 stringify differently in pandas
        "SELECT date_trunc('DAY', ts) AS day, event_type, "
        "count(*) AS cnt, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total "
        "FROM events GROUP BY date_trunc('DAY', ts), event_type",
        "SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type, "
        "count(*) AS cnt, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total "
        "FROM events GROUP BY 1, 2",
    ),
    # ---- TPC-H shapes q6/q7/q13/q15/q17/q18/q22 (reduced schemas) ----
    "q6_forecast_revenue": (
        _NOBODY,
        "SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * "
        "CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
        "AND l_shipdate < TIMESTAMP '1997-01-01' "
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24",
        "SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * "
        "CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
        "AND l_shipdate < TIMESTAMP '1997-01-01' "
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24",
    ),
    # q7: two-nation volume shipping — same nation table joined twice
    "q7_volume_shipping": (
        _NOBODY,
        "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
        f"year(l_shipdate) AS l_year, CAST(sum({_REVENUE}) AS DOUBLE) AS revenue "
        "FROM lineitem "
        "JOIN orders ON o_orderkey = l_orderkey "
        "JOIN customer ON c_custkey = o_custkey "
        "JOIN supplier ON s_suppkey = l_suppkey "
        "JOIN nation AS n1 ON s_nationkey = n1.n_nationkey "
        "JOIN nation AS n2 ON c_nationkey = n2.n_nationkey "
        "WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7') "
        "OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')) "
        "AND l_shipdate BETWEEN TIMESTAMP '1995-01-01' "
        "AND TIMESTAMP '1996-12-31' "
        "GROUP BY n1.n_name, n2.n_name, year(l_shipdate)",
        "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
        f"year(l_shipdate) AS l_year, CAST(sum({_REVENUE}) AS DOUBLE) AS revenue "
        "FROM lineitem "
        "JOIN orders ON o_orderkey = l_orderkey "
        "JOIN customer ON c_custkey = o_custkey "
        "JOIN supplier ON s_suppkey = l_suppkey "
        "JOIN nation n1 ON s_nationkey = n1.n_nationkey "
        "JOIN nation n2 ON c_nationkey = n2.n_nationkey "
        "WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7') "
        "OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')) "
        "AND l_shipdate BETWEEN TIMESTAMP '1995-01-01' "
        "AND TIMESTAMP '1996-12-31' "
        "GROUP BY n1.n_name, n2.n_name, year(l_shipdate)",
    ),
    # q13: order-count distribution — LEFT JOIN with compound ON, nested agg
    "q13_custdist": (
        _NOBODY,
        "SELECT c_count, count(*) AS custdist FROM "
        "(SELECT c_custkey, count(o_orderkey) AS c_count FROM customer "
        "LEFT JOIN orders ON c_custkey = o_custkey "
        "AND o_orderpriority <> '1-URGENT' "
        "GROUP BY c_custkey) AS c_orders GROUP BY c_count",
        "SELECT c_count, count(*) AS custdist FROM "
        "(SELECT c_custkey, count(o_orderkey) AS c_count FROM customer "
        "LEFT JOIN orders ON c_custkey = o_custkey "
        "AND o_orderpriority <> '1-URGENT' "
        "GROUP BY c_custkey) c_orders GROUP BY c_count",
    ),
    # q15: top supplier — derived revenue view + uncorrelated scalar max
    # (DECIMAL sums are exact, so the equality join is engine-stable)
    "q15_top_supplier": (
        _NOBODY,
        "SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue FROM supplier "
        f"JOIN (SELECT l_suppkey, sum({_REVENUE}) AS total_revenue "
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
        "AND l_shipdate < TIMESTAMP '1996-04-01' "
        "GROUP BY l_suppkey) AS revenue0 ON s_suppkey = l_suppkey "
        "WHERE total_revenue = (SELECT max(total_revenue) FROM "
        f"(SELECT l_suppkey, sum({_REVENUE}) AS total_revenue "
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
        "AND l_shipdate < TIMESTAMP '1996-04-01' "
        "GROUP BY l_suppkey) AS r2)",
        "SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue FROM supplier "
        f"JOIN (SELECT l_suppkey, sum({_REVENUE}) AS total_revenue "
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
        "AND l_shipdate < TIMESTAMP '1996-04-01' "
        "GROUP BY l_suppkey) revenue0 ON s_suppkey = l_suppkey "
        "WHERE total_revenue = (SELECT max(total_revenue) FROM "
        f"(SELECT l_suppkey, sum({_REVENUE}) AS total_revenue "
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
        "AND l_shipdate < TIMESTAMP '1996-04-01' "
        "GROUP BY l_suppkey) r2)",
    ),
    # q17: small-quantity revenue. The classic correlated
    # `l_quantity < 0.2 * avg(...)` is decorrelated into a pre-aggregated
    # join, and the avg comparison rewritten exactly:
    # q < 0.2 * (S/C)  ⟺  5*q*C < S  (all DECIMAL/BIGINT, engine-exact)
    "q17_small_qty_revenue": (
        _NOBODY,
        "SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) "
        "AS DOUBLE) / 7.0, 6) AS avg_yearly "
        "FROM lineitem "
        "JOIN part ON p_partkey = l_partkey "
        "JOIN (SELECT l_partkey AS a_partkey, "
        "sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq, count(*) AS cq "
        "FROM lineitem GROUP BY l_partkey) AS agg ON a_partkey = l_partkey "
        "WHERE p_brand = 'Brand#23' "
        "AND CAST(l_quantity AS DECIMAL(18,2)) * 5 * cq < sq",
        "SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) "
        "AS DOUBLE) / 7.0, 6) AS avg_yearly "
        "FROM lineitem "
        "JOIN part ON p_partkey = l_partkey "
        "JOIN (SELECT l_partkey AS a_partkey, "
        "sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq, count(*) AS cq "
        "FROM lineitem GROUP BY l_partkey) agg ON a_partkey = l_partkey "
        "WHERE p_brand = 'Brand#23' "
        "AND CAST(l_quantity AS DECIMAL(18,2)) * 5 * cq < sq",
    ),
    # q18: large orders — IN-subquery with GROUP BY + HAVING
    "q18_large_orders": (
        _NOBODY,
        "SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, "
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty "
        "FROM customer "
        "JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON o_orderkey = l_orderkey "
        "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem "
        "GROUP BY l_orderkey "
        "HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250) "
        "GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice",
        "SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, "
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty "
        "FROM customer "
        "JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON o_orderkey = l_orderkey "
        "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem "
        "GROUP BY l_orderkey "
        "HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250) "
        "GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice",
    ),
    # q22: above-mean-balance customers with no high-value orders (anti-join).
    # `bal > avg(bal)` rewritten exactly as `bal * C > S`; country code is
    # the last two digits of c_name (the reduced schema has no phone col)
    "q22_global_sales": (
        _NOBODY,
        "SELECT cntrycode, count(*) AS numcust, "
        "CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal FROM "
        "(SELECT substring(c_name, 17, 2) AS cntrycode, c_acctbal, c_custkey "
        "FROM customer WHERE c_acctbal > 0.0) AS custsale "
        "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000) "
        "AND CAST(c_acctbal AS DECIMAL(18,2)) * "
        "(SELECT count(*) FROM customer WHERE c_acctbal > 0.0) > "
        "(SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer "
        "WHERE c_acctbal > 0.0) "
        "GROUP BY cntrycode",
        "SELECT cntrycode, count(*) AS numcust, "
        "CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal FROM "
        "(SELECT substring(c_name, 17, 2) AS cntrycode, c_acctbal, c_custkey "
        "FROM customer WHERE c_acctbal > 0.0) custsale "
        "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000) "
        "AND CAST(c_acctbal AS DECIMAL(18,2)) * "
        "(SELECT count(*) FROM customer WHERE c_acctbal > 0.0) > "
        "(SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer "
        "WHERE c_acctbal > 0.0) "
        "GROUP BY cntrycode",
    ),
    # q2: best-balance supplier per part (correlated scalar over a join;
    # lineitem stands in for partsupp — this schema has no supply table, so
    # "supplies p" means "ever shipped p"). DISTINCT collapses repeat
    # shipments of the same (part, supplier) pair.
    "q2_best_supplier": (
        _NOBODY,
        "SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name "
        "FROM part JOIN lineitem ON p_partkey = l_partkey "
        "JOIN supplier ON s_suppkey = l_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "WHERE p_size = 15 AND s_acctbal = ("
        "SELECT max(s2.s_acctbal) FROM supplier AS s2 "
        "JOIN lineitem AS l2 ON s2.s_suppkey = l2.l_suppkey "
        "WHERE l2.l_partkey = p_partkey)",
        "SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name "
        "FROM part JOIN lineitem ON p_partkey = l_partkey "
        "JOIN supplier ON s_suppkey = l_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "WHERE p_size = 15 AND s_acctbal = ("
        "SELECT max(s2.s_acctbal) FROM supplier s2 "
        "JOIN lineitem l2 ON s2.s_suppkey = l2.l_suppkey "
        "WHERE l2.l_partkey = p_partkey)",
    ),
    # q8: market share of one nation per order-year (conditional-agg ratio;
    # exact decimal sums cast to double only for the final division)
    "q8_market_share": (
        _NOBODY,
        "SELECT year(o_orderdate) AS o_year, "
        f"CAST(sum(CASE WHEN n_name = 'NATION_1' THEN {_REVENUE} "
        "ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) / "
        f"CAST(sum({_REVENUE}) AS DOUBLE) AS mkt_share "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "GROUP BY year(o_orderdate)",
        "SELECT year(o_orderdate) AS o_year, "
        f"CAST(sum(CASE WHEN n_name = 'NATION_1' THEN {_REVENUE} "
        "ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) / "
        f"CAST(sum({_REVENUE}) AS DOUBLE) AS mkt_share "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "GROUP BY year(o_orderdate)",
    ),
    # q9: profit by nation and year over a 5-table join with a LIKE scan
    # filter ('red' parts); supply cost approximated as half the quantity
    "q9_product_profit": (
        _NOBODY,
        "SELECT n_name AS nation, year(o_orderdate) AS o_year, "
        f"CAST(sum({_REVENUE} - CAST(0.5 AS DECIMAL(18,2)) * "
        "CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_profit "
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN part ON l_partkey = p_partkey "
        "JOIN orders ON l_orderkey = o_orderkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "WHERE p_name LIKE '%red%' "
        "GROUP BY n_name, year(o_orderdate)",
        "SELECT n_name AS nation, year(o_orderdate) AS o_year, "
        f"CAST(sum({_REVENUE} - CAST(0.5 AS DECIMAL(18,2)) * "
        "CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_profit "
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN part ON l_partkey = p_partkey "
        "JOIN orders ON l_orderkey = o_orderkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "WHERE p_name LIKE '%red%' "
        "GROUP BY n_name, year(o_orderdate)",
    ),
    # q11: parts whose shipped value from one nation exceeds a fraction of
    # that nation's total (scalar subquery in HAVING; all-decimal arithmetic
    # keeps the threshold comparison exact in both engines)
    "q11_important_parts": (
        _NOBODY,
        "SELECT l_partkey, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * "
        "CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS part_value "
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "WHERE n_name = 'NATION_1' GROUP BY l_partkey "
        "HAVING sum(CAST(l_extendedprice AS DECIMAL(18,2)) * "
        "CAST(l_quantity AS DECIMAL(18,2))) > ("
        "SELECT sum(CAST(l_extendedprice AS DECIMAL(18,2)) * "
        "CAST(l_quantity AS DECIMAL(18,2))) * CAST(0.001 AS DECIMAL(6,3)) "
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_1')",
        "SELECT l_partkey, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * "
        "CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS part_value "
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "WHERE n_name = 'NATION_1' GROUP BY l_partkey "
        "HAVING sum(CAST(l_extendedprice AS DECIMAL(18,2)) * "
        "CAST(l_quantity AS DECIMAL(18,2))) > ("
        "SELECT sum(CAST(l_extendedprice AS DECIMAL(18,2)) * "
        "CAST(l_quantity AS DECIMAL(18,2))) * CAST(0.001 AS DECIMAL(6,3)) "
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_1')",
    ),
    # q16: supplier diversity per part attribute (count DISTINCT + NOT LIKE
    # + NOT IN subquery excluding negative-balance suppliers)
    "q16_parts_suppliers": (
        _NOBODY,
        "SELECT p_brand, p_type, p_size, "
        "count(DISTINCT l_suppkey) AS supplier_cnt "
        "FROM lineitem JOIN part ON p_partkey = l_partkey "
        "WHERE p_brand <> 'Brand#12' AND p_type NOT LIKE 'PROMO%' "
        "AND l_suppkey NOT IN "
        "(SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0) "
        "GROUP BY p_brand, p_type, p_size",
        "SELECT p_brand, p_type, p_size, "
        "count(DISTINCT l_suppkey) AS supplier_cnt "
        "FROM lineitem JOIN part ON p_partkey = l_partkey "
        "WHERE p_brand <> 'Brand#12' AND p_type NOT LIKE 'PROMO%' "
        "AND l_suppkey NOT IN "
        "(SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0) "
        "GROUP BY p_brand, p_type, p_size",
    ),
    # q20: nation's suppliers who shipped > 100 units of 'small' parts
    # (IN over a grouped+HAVING subquery; decimal sum keeps the threshold
    # comparison exact)
    "q20_heavy_suppliers": (
        _NOBODY,
        "SELECT s_name, s_acctbal FROM supplier "
        "JOIN nation ON s_nationkey = n_nationkey "
        "WHERE n_name = 'NATION_1' AND s_suppkey IN ("
        "SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey "
        "WHERE p_name LIKE 'small%' GROUP BY l_suppkey "
        "HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 100)",
        "SELECT s_name, s_acctbal FROM supplier "
        "JOIN nation ON s_nationkey = n_nationkey "
        "WHERE n_name = 'NATION_1' AND s_suppkey IN ("
        "SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey "
        "WHERE p_name LIKE 'small%' GROUP BY l_suppkey "
        "HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 100)",
    ),
    # q21: suppliers who were the sole returner on multi-supplier finished
    # orders (correlated EXISTS + NOT EXISTS against self-joined lineitem)
    "q21_waiting_supplier": (
        _NOBODY,
        "SELECT s_name, count(*) AS numwait "
        "FROM supplier JOIN lineitem AS l1 ON s_suppkey = l1.l_suppkey "
        "JOIN orders ON o_orderkey = l1.l_orderkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R' "
        "AND n_name = 'NATION_1' "
        "AND EXISTS (SELECT 1 FROM lineitem AS l2 "
        "WHERE l2.l_orderkey = l1.l_orderkey "
        "AND l2.l_suppkey <> l1.l_suppkey) "
        "AND NOT EXISTS (SELECT 1 FROM lineitem AS l3 "
        "WHERE l3.l_orderkey = l1.l_orderkey "
        "AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R') "
        "GROUP BY s_name",
        "SELECT s_name, count(*) AS numwait "
        "FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey "
        "JOIN orders ON o_orderkey = l1.l_orderkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R' "
        "AND n_name = 'NATION_1' "
        "AND EXISTS (SELECT 1 FROM lineitem l2 "
        "WHERE l2.l_orderkey = l1.l_orderkey "
        "AND l2.l_suppkey <> l1.l_suppkey) "
        "AND NOT EXISTS (SELECT 1 FROM lineitem l3 "
        "WHERE l3.l_orderkey = l1.l_orderkey "
        "AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R') "
        "GROUP BY s_name",
    ),
    # ---- interval (range) join: purchases within 1h after a click ----
    "interval_click_purchase": (
        _NOBODY,
        "SELECT a.event_id AS click_id, b.event_id AS purchase_id, "
        "a.user_id, a.ts AS click_ts, b.ts AS purchase_ts "
        "FROM events AS a JOIN events AS b ON a.user_id = b.user_id "
        "AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL '1' HOUR "
        "WHERE a.event_type = 'click' AND b.event_type = 'purchase'",
        "SELECT a.event_id AS click_id, b.event_id AS purchase_id, "
        "a.user_id, a.ts AS click_ts, b.ts AS purchase_ts "
        "FROM events a JOIN events b ON a.user_id = b.user_id "
        "AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL '1' HOUR "
        "WHERE a.event_type = 'click' AND b.event_type = 'purchase'",
    ),
}


# --------------------------------------------------------------------------
# Training-data pipeline operators (dedup / similarity / text analysis) —
# DataFrame-native, with portable-hash DuckDB oracles. See operators/dedup.py,
# operators/similarity.py, functions/text.py.
# --------------------------------------------------------------------------

_DUCK_SHINGLES = (
    "w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), "
    "sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i+1:i+3], ' ') AS shingle "
    "       FROM w, UNNEST(range(greatest(len(ws)-2, 0))) AS t(i))"
)
# unit-vector CTE matching operators/similarity.unit_vectors: normalize once,
# cosine = plain dot of unit vectors (identical op order → identical doubles)
_DUCK_UNIT = unit_cte()
# cosine finals quantize with the shared floor rule (floor_round in
# functions/text.py) — native round() disagrees across engines when the
# double sits within an ulp of a 6-decimal midpoint. Built FROM the
# helper so a quantum/tie-rule change lands in one place; the {a}/{b}
# placeholders survive the format intact.
_DUCK_UNIT_DOT = _floor_round(_dot("{a}", "{b}"))


def _pipeline_queries() -> dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]]:
    from pyspark.sql import functions as F

    from flink_sql_security_spark.functions import text as T
    import oracles.text
    from flink_sql_security_spark.operators import dedup as D
    import oracles.dedup
    from flink_sql_security_spark.operators import sampling as SM
    import oracles.sampling
    from flink_sql_security_spark.operators import similarity as S
    import oracles.similarity

    def with_tables(builder):
        def call(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_tables(spark, sf_dir)
            return builder(spark)
        return call

    def docs(spark):
        return spark.table("documents")

    def emb(spark):
        return spark.table("embeddings")

    out: dict[str, tuple[Callable, str | None]] = {}

    out["dedup_exact_groups"] = (
        with_tables(lambda s: D.exact_dedup_groups(
            docs(s).select("doc_id", F.substring("text", 1, 30).alias("text")))),
        "SELECT md5(lower(regexp_replace(trim(substring(text,1,30)), '\\s+', ' ', 'g')))"
        " AS dup_key, min(doc_id) AS keep_id, count(*) AS n_dups"
        " FROM documents GROUP BY 1",
    )
    out["dedup_minhash_pairs"] = (
        with_tables(lambda s: D.minhash_lsh_candidate_pairs(
            docs(s), num_hashes=16, bands=4)),
        oracles.dedup.minhash_lsh_duckdb_sql(_DUCK_SHINGLES, num_hashes=16, bands=4),
    )
    # prefix-filtering exact jaccard (operators/dedup.py
    # prefix_jaccard_pairs): the SSJoin/PPJoin candidate strategy —
    # bit-identical output to ngram_jaccard_pairs at the same config,
    # so it shares that entry's oracle VERBATIM (the strictest check a
    # second algorithm can get: a different plan must reproduce the
    # identical hash). mode='prefix' pins the zero-recall-loss exact
    # path (the r11 hot-token auto-route is probed + fuzzed in pytest;
    # the strict entry must never depend on the probabilistic LSH
    # fallback). Windowed r11: born late-r10 after that window closed.
    out["dedup_jaccard_prefix"] = (
        with_tables(lambda s: D.prefix_jaccard_pairs(docs(s),
                                                     threshold=0.05,
                                                     mode="prefix")),
        None,  # placeholder replaced below with dedup_jaccard_pairs SQL
    )
    out["dedup_jaccard_pairs"] = (
        with_tables(lambda s: D.ngram_jaccard_pairs(docs(s), threshold=0.05)),
        "WITH " + _DUCK_SHINGLES + ", "
        "hs AS (SELECT DISTINCT doc_id, CAST(concat('0x', substring(md5(shingle), 1, "
        f"{D.SHINGLE_HASH_HEX})) AS BIGINT) AS h FROM sh), "
        "sizes AS (SELECT doc_id, count(*) AS n_sh FROM hs GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter"
        "          FROM hs a JOIN hs b ON a.h = b.h WHERE a.doc_id < b.doc_id"
        "          GROUP BY 1, 2) "
        "SELECT id_a, id_b, "
        + _floor_round("n_inter / (sa.n_sh + sb.n_sh - n_inter)")
        + " AS jaccard "
        "FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b "
        "WHERE "
        + _floor_round("n_inter / (sa.n_sh + sb.n_sh - n_inter)")
        + " >= 0.05",
    )
    # the prefix-filtered twin answers to the same oracle verbatim
    out["dedup_jaccard_prefix"] = (out["dedup_jaccard_prefix"][0],
                                   out["dedup_jaccard_pairs"][1])
    # asymmetric containment |A∩B|/|A| (Broder 1997 resemblance-vs-
    # containment): catches sub-document duplication — excerpts/quotes
    # fully inside a larger doc — that the Jaccard threshold misses
    # because the union is dominated by the big doc
    out["dedup_containment"] = (
        with_tables(lambda s: D.containment_pairs(docs(s), threshold=0.5)),
        oracles.dedup.containment_pairs_duckdb_sql(_DUCK_SHINGLES, threshold=0.5),
    )
    # the scale path: LSH candidate pruning then exact-Jaccard verification
    # restricted to candidates (prune-then-verify, not all co-shingled pairs)
    out["dedup_lsh_verified"] = (
        with_tables(lambda s: D.lsh_verified_jaccard_pairs(
            docs(s), num_hashes=16, bands=4, threshold=0.05)),
        oracles.dedup.lsh_verified_jaccard_duckdb_sql(_DUCK_SHINGLES, num_hashes=16,
                                                      bands=4, threshold=0.05),
    )
    # ingest-time dedup: the new batch (doc_id >= 250) probes the existing
    # corpus (doc_id < 250) — exact hash semi-join + asymmetric LSH→verify
    out["dedup_incremental_batch"] = (
        with_tables(lambda s: D.incremental_dedup(
            docs(s).where("doc_id >= 250"), docs(s).where("doc_id < 250"),
            num_hashes=16, bands=4, threshold=0.05)),
        oracles.dedup.incremental_dedup_duckdb_sql(250, num_hashes=16, bands=4,
                                                   threshold=0.05),
    )
    # near-dup clustering: components over the jaccard pair graph; the
    # oracle nests the pairs query inside a recursive transitive closure
    out["dedup_components"] = (
        with_tables(lambda s: D.connected_components(
            D.ngram_jaccard_pairs(docs(s), threshold=0.05))),
        oracles.dedup.connected_components_duckdb_sql(out["dedup_jaccard_pairs"][1]),
    )
    # the DISTRIBUTED star-contraction path forced (driver_threshold=0):
    # at test SFs the pair graph sits under the driver threshold, so
    # without this entry the large-star/small-star code would only ever
    # be pytest/probe-checked — same oracle, different execution path
    out["dedup_components_star"] = (
        with_tables(lambda s: D.connected_components(
            D.ngram_jaccard_pairs(docs(s), threshold=0.05),
            driver_threshold=0)),
        oracles.dedup.connected_components_duckdb_sql(out["dedup_jaccard_pairs"][1]),
    )
    # canonical-doc selection (operators/dedup.py keep_best_per_component):
    # the step after clustering — keep the highest-quality copy per
    # near-dup component, ties to lowest id; top-1 and member count ride
    # ONE component_id partitioning
    out["dedup_keep_best"] = (
        with_tables(lambda s: D.keep_best_per_component(
            docs(s), D.ngram_jaccard_pairs(docs(s), threshold=0.05),
            T.quality_score(F.col("text")))),
        oracles.dedup.keep_best_duckdb_sql(out["dedup_jaccard_pairs"][1],
                                           oracles.text.quality_score_sql("text")),
    )

    # eval-set decontamination: docs with doc_id % 50 == 0 stand in for the
    # benchmark; training docs sharing any word 4-gram with them are flagged
    out["dedup_decontaminate"] = (
        with_tables(lambda s: D.decontaminate(
            docs(s).where("doc_id % 50 <> 0"),
            docs(s).where("doc_id % 50 = 0"), n=4)),
        oracles.dedup.decontaminate_duckdb_sql("doc_id % 50 = 0", n=4),
    )
    # Gopher-style repetition gates, computed shuffle-free per row
    out["text_repetition"] = (
        with_tables(lambda s: T.repetition_select(docs(s))),
        "SELECT doc_id, "
        + oracles.text.repetition_sql("text")["dup_word_frac"] + " AS dup_word_frac, "
        + oracles.text.repetition_sql("text")["dup_gram_frac"] + " AS dup_gram_frac, "
        + oracles.text.repetition_sql("text")["top_word_frac"] + " AS top_word_frac "
        "FROM documents",
    )
    out["dedup_simhash"] = (
        with_tables(lambda s: D.simhash(docs(s))),
        oracles.dedup.simhash_duckdb_sql(),
    )
    # banded-LSH hamming pairs (Spark side); brute-force self-join oracle.
    # k=4 on 48 bits is the realistic near-dup threshold: at sf0.01 it
    # yields 132 pairs where k=8 yields 4.5k mostly-random collisions —
    # and 5 wide bands keep the candidate join ~100x sparser than 9
    # narrow ones (pigeonhole width = 48/(k+1) bits).
    out["dedup_simhash_pairs"] = (
        with_tables(lambda s: D.simhash_hamming_pairs(docs(s), max_hamming=4)),
        oracles.dedup.simhash_hamming_pairs_duckdb_sql(max_hamming=4),
    )
    out["split_hash_assign"] = (
        with_tables(lambda s: SM.hash_split(docs(s).select("doc_id"))),
        oracles.sampling.hash_split_duckdb_sql(select="doc_id"),
    )
    # leakage-safe split (operators/sampling.py component_safe_split):
    # assignment keys on the NEAR-DUP COMPONENT, so no dup cluster
    # straddles train/test — the eval-contamination guard plain
    # hash_split can't give. Oracle nests the recursive-closure
    # components under the identical integer bucket arithmetic.
    out["split_component_safe"] = (
        with_tables(lambda s: SM.component_safe_split(
            docs(s), D.ngram_jaccard_pairs(docs(s), threshold=0.05))),
        oracles.sampling.component_safe_split_duckdb_sql(out["dedup_jaccard_pairs"][1]),
    )
    out["sample_hash_fraction"] = (
        with_tables(lambda s: SM.stratified_hash_sample(
            docs(s).select("doc_id", "source"), 0.25)),
        oracles.sampling.stratified_hash_sample_duckdb_sql(0.25, select="doc_id, source"),
    )
    # deterministic global training shuffle: content-hash shard + in-shard
    # rank — the reproducible "shuffle the corpus into ordered shards"
    # step between curation and the trainer's data loader
    out["corpus_shard_shuffle"] = (
        with_tables(lambda s: SM.shard_shuffle(
            docs(s).select("doc_id"), n_shards=8)),
        oracles.sampling.shard_shuffle_duckdb_sql(n_shards=8),
    )
    # multimodal plumbing through the driver: a deterministic media table
    # derived from documents (text bytes as the opaque payload) runs the
    # real Arrow mapInPandas feature pipeline; the oracle recomputes the
    # metadata outputs (payload size) relationally
    from flink_sql_security_spark.operators import multimodal as MM

    def media(s):
        d = docs(s)
        return d.select(
            F.col("doc_id").cast("string").alias("media_id"),
            F.when(F.col("doc_id") % 3 == 0, "image")
             .when(F.col("doc_id") % 3 == 1, "audio")
             .otherwise("video").alias("kind"),
            F.encode("text", "UTF-8").alias("content"),
            F.lit("application/octet-stream").alias("mime"),
            # deterministic dims for image rows (drive the resize planner)
            F.when(F.col("doc_id") % 3 == 0,
                   ((F.col("doc_id") % 8 + 4) * 64).cast("int"))
             .otherwise(F.lit(None).cast("int")).alias("width"),
            F.when(F.col("doc_id") % 3 == 0,
                   ((F.col("doc_id") % 5 + 2) * 100).cast("int"))
             .otherwise(F.lit(None).cast("int")).alias("height"),
            (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
        )

    out["multimodal_features"] = (
        with_tables(lambda s: MM.extract_features(media(s), fake=True)
                    .select("media_id", "kind",
                            F.col("n_bytes").cast("long").alias("n_bytes"))),
        "SELECT CAST(doc_id AS VARCHAR) AS media_id, "
        "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' "
        "ELSE 'video' END AS kind, "
        "octet_length(encode(text)) AS n_bytes FROM documents",
    )
    # aspect-preserving resize planning: metadata-only arithmetic (the pixel
    # kernel is decode_media→resize_media, exercised in test_pipeline_ops)
    out["multimodal_resize_plan"] = (
        with_tables(lambda s: MM.resize_plan(media(s), max_side=224)),
        "SELECT CAST(doc_id AS VARCHAR) AS media_id, 'image' AS kind, "
        "w AS width, h AS height, "
        "CASE WHEN greatest(w, h) > 224 THEN greatest(1, "
        "CAST(floor(w * 224 / greatest(w, h)) AS INT)) ELSE w END AS out_width, "
        "CASE WHEN greatest(w, h) > 224 THEN greatest(1, "
        "CAST(floor(h * 224 / greatest(w, h)) AS INT)) ELSE h END AS out_height "
        "FROM (SELECT doc_id, CAST((doc_id % 8 + 4) * 64 AS INT) AS w, "
        "CAST((doc_id % 5 + 2) * 100 AS INT) AS h FROM documents "
        "WHERE doc_id % 3 = 0) t",
    )
    out["multimodal_frame_plan"] = (
        with_tables(lambda s: MM.frame_sample_plan(media(s), every_ms=1000)
                    .select("media_id",
                            F.col("frame_ts_ms").cast("long")
                            .alias("frame_ts_ms"))),
        "SELECT CAST(doc_id AS VARCHAR) AS media_id, t.ts AS frame_ts_ms "
        "FROM documents, UNNEST(generate_series(0, n_chars * 10, 1000)) "
        "AS t(ts) WHERE doc_id % 3 = 2",
    )
    # audio-clip segmenter: hop-stride windows clipped to the clip end —
    # the audio analogue of the frame planner (metadata arithmetic only)
    out["multimodal_audio_segments"] = (
        with_tables(lambda s: MM.audio_segment_plan(
            media(s), window_ms=2000, hop_ms=1000)
            .select("media_id",
                    F.col("seg_start_ms").cast("long").alias("seg_start_ms"),
                    F.col("seg_end_ms").cast("long").alias("seg_end_ms"))),
        "SELECT CAST(doc_id AS VARCHAR) AS media_id, t.ts AS seg_start_ms, "
        "least(t.ts + 2000, n_chars * 10) AS seg_end_ms "
        "FROM documents, UNNEST(generate_series(0, n_chars * 10, 1000)) "
        "AS t(ts) WHERE doc_id % 3 = 1 AND t.ts < n_chars * 10",
    )
    # benchmark-contamination check: near-dup pairs straddling splits
    out["split_contamination"] = (
        with_tables(lambda s: SM.cross_split_contamination(
            docs(s), threshold=0.05)),
        "WITH pairs AS (" + out["dedup_jaccard_pairs"][1] + "), "
        "assign AS (" + oracles.sampling.hash_split_duckdb_sql(select="doc_id") + ") "
        "SELECT p.id_a, a.split AS split_a, p.id_b, b.split AS split_b, "
        "p.jaccard "
        "FROM pairs p JOIN assign a ON p.id_a = a.doc_id "
        "JOIN assign b ON p.id_b = b.doc_id WHERE a.split <> b.split",
    )
    out["quota_per_source"] = (
        with_tables(lambda s: SM.per_key_quota(
            docs(s).select("doc_id", "source"), "source", n=20)),
        oracles.sampling.per_key_quota_duckdb_sql("documents", "source", n=20,
                                                  select="doc_id, source"),
    )
    # temperature-scaled domain mixing (operators/sampling.py
    # temperature_mix): per-source rate ∝ count^α — the mT5/XLM-R
    # alpha-sampling recipe as an exact-integer md5-bucket threshold;
    # both engines apply thresholds from the SAME Python float pass
    import os as _os_t
    _doc_path_t = _os_t.path.join(
        _os_t.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
        "documents.parquet")
    out["sample_temperature_mix"] = (
        with_tables(lambda s: SM.temperature_mix(
            docs(s), alpha=0.5, target_rows=200)),
        oracles.sampling.temperature_mix_duckdb_sql(_doc_path_t, alpha=0.5,
                                                    target_rows=200),
    )
    # data mixing: fill each source's token budget in deterministic
    # content-hash order (training-recipe mixture weights, in tokens)
    out["sample_token_budget"] = (
        with_tables(lambda s: SM.token_budget_sample(docs(s), 800)),
        oracles.sampling.token_budget_sample_duckdb_sql(800),
    )
    # mixture repeat factors: per-source fractional epochs, content-hash
    # deterministic extra-copy draw (operators/sampling.py)
    _FACTOR = ("CAST(1.0 + (CAST(substring(source, 4) AS INT) % 4) * 0.5 "
               "AS DOUBLE)")

    out["sample_epoch_upsample"] = (
        with_tables(lambda s: SM.epoch_upsample(
            docs(s).select("doc_id", "source",
                           F.expr(_FACTOR).alias("factor")),
            "factor")),
        oracles.sampling.epoch_upsample_duckdb_sql(
            "factor",
            table=f"(SELECT doc_id, source, {_FACTOR} AS factor "
                  f"FROM documents)",
            select="doc_id, source, factor"),
    )

    # weighted sampling without replacement (A-ES): longer docs favored
    out["sample_weighted"] = (
        with_tables(lambda s: SM.weighted_sample(
            docs(s), n=200, weight_col="n_chars")
            .select("doc_id", "source", "n_chars")),
        oracles.sampling.weighted_sample_duckdb_sql(
            200, "n_chars", select="doc_id, source, n_chars"),
    )
    # exact-substring-dedup signal: per-doc fraction of word 6-gram spans
    # appearing in >= 2 documents (Lee et al. 2022 boilerplate detection)
    out["dedup_span_stats"] = (
        with_tables(lambda s: D.duplicate_span_stats(docs(s), n=6, min_df=2)),
        oracles.dedup.duplicate_span_stats_duckdb_sql(n=6, min_df=2),
    )
    # ...and the transform itself: strip the duplicated spans from the text
    out["dedup_span_trim"] = (
        with_tables(lambda s: D.trim_duplicate_spans(docs(s), n=6, min_df=2)),
        oracles.dedup.trim_duplicate_spans_duckdb_sql(n=6, min_df=2),
    )
    out["emb_cosine_pairs"] = (
        with_tables(lambda s: S.cosine_pairs(emb(s), threshold=0.4)),
        "WITH " + _DUCK_UNIT + ", "
        "scored AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
        + _DUCK_UNIT_DOT.format(a="a.unit", b="b.unit") + " AS cosine"
        " FROM u a, u b WHERE a.vec_id < b.vec_id) "
        "SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.4",
    )
    # embedding-space near-dup removal: cosine pairs -> components -> keep
    _dup_pairs_sql = (
        "WITH " + _DUCK_UNIT + ", "
        "scored AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
        + _DUCK_UNIT_DOT.format(a="a.unit", b="b.unit") + " AS cosine"
        " FROM u a, u b WHERE a.vec_id < b.vec_id) "
        "SELECT id_a, id_b FROM scored WHERE cosine >= 0.4"
    )
    out["emb_semantic_dedup"] = (
        with_tables(lambda s: S.semantic_dedup(emb(s), threshold=0.4)),
        "SELECT e.vec_id, coalesce(c.component_id, e.vec_id) AS component_id,"
        " (coalesce(c.component_id, e.vec_id) = e.vec_id) AS is_kept"
        " FROM embeddings e LEFT JOIN ("
        + oracles.dedup.connected_components_duckdb_sql(_dup_pairs_sql)
        + ") c ON e.vec_id = c.doc_id",
    )
    out["emb_cosine_topk"] = (
        with_tables(lambda s: S.cosine_topk(
            emb(s), emb(s).where("vec_id < 20"), k=5)),
        "WITH " + _DUCK_UNIT + ", "
        "scored AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id, "
        + _DUCK_UNIT_DOT.format(a="q.unit", b="n.unit") + " AS cosine"
        " FROM u q, u n WHERE q.vec_id < 20 AND q.vec_id <> n.vec_id), "
        "ranked AS (SELECT q_id, n_id, cosine,"
        " row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank FROM scored) "
        "SELECT q_id, n_id, cosine, rank FROM ranked WHERE rank <= 5",
    )
    # filtered vector search (pre-filter semantics — the predicate prunes
    # the corpus scan BEFORE any distance math; post-filtering a top-k'
    # list is not equivalent and under-returns on selective filters).
    # Oracle: same unit-dot scoring with the label predicate on the
    # corpus side only — queries come from the unfiltered table.
    out["emb_filtered_topk"] = (
        with_tables(lambda s: S.filtered_topk(
            emb(s), emb(s).where("vec_id < 15"), "label = 3", k=5)),
        "WITH x AS (SELECT vec_id, label, "
        "list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd, "
        "sqrt(list_sum(list_transform(embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n "
        "FROM embeddings), "
        "u AS (SELECT vec_id, label, "
        "list_transform(xd, v -> v / n) AS unit FROM x), "
        "scored AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, "
        + _DUCK_UNIT_DOT.format(a="q.unit", b="c.unit") + " AS cosine"
        " FROM u q, u c WHERE q.vec_id < 15 AND c.label = 3"
        " AND q.vec_id <> c.vec_id), "
        "ranked AS (SELECT q_id, n_id, cosine,"
        " row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank FROM scored) "
        "SELECT q_id, n_id, cosine, rank FROM ranked WHERE rank <= 5",
    )
    # Matryoshka two-stage search (Kusupati et al. 2022): 32/64-dim
    # prefix shortlist (the scan reads half the vector bytes — the
    # memory-bandwidth lever at 100 TB), exact full-dim rerank via the
    # shared refine stage. shortlist='auto' sizes the shortlist
    # max(8k, ceil(5·sqrt(n))) — the binary tier's sqrt law — lifting
    # recall on these isotropic vectors (a prefix keeps ~p/d of the
    # signal — the worst case) from 0.72 at the old fixed ×8 to ≥0.9;
    # MRL-trained embeddings front-load the spectrum and need less.
    # Strict oracle: prefix-unit shortlist membership is floor-rounded
    # + id-tie-broken and the sqrt cutoff is IEEE-identical in-query,
    # so both engines pick the same set.
    out["emb_matryoshka_topk"] = (
        with_tables(lambda s: S.matryoshka_topk(
            emb(s), emb(s).where("vec_id < 12"),
            prefix_dims=32, shortlist="auto", k=5)),
        oracles.similarity.matryoshka_topk_duckdb_sql(
            "embeddings", "vec_id < 12", prefix_dims=32,
            shortlist="auto", k=5),
    )
    # ANN (LSH-bucketed), fully hash-checked: the deterministic hyperplanes
    # embed as literals in the DuckDB oracle, and the Spark side's
    # near-zero sequential recheck makes bucket ids fold-order-exact.
    # 24 OR-amplification tables: ~0.98 recall at the loose 0.4 threshold
    # (vectorized candidate scoring makes table count nearly free)
    out["emb_ann_pairs"] = (
        with_tables(lambda s: S.ann_candidate_pairs(
            emb(s), bits=4, tables=24, threshold=0.4)),
        oracles.similarity.ann_candidate_pairs_duckdb_sql(bits=4, tables=24, threshold=0.4),
    )
    # IVF (centroid-probe) ANN, fully hash-checked: centroids + probe sets
    # are deterministic driver-side artifacts, so the oracle re-derives
    # them with the same numpy code from the parquet and embeds literals;
    # the SQL verifies assignment + scoring + ranking. The correctness
    # harness runs at sf0.01 (driver contract), hence the default path.
    import os as _os
    _emb_path = _os.path.join(
        _os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
        "embeddings.parquet")
    out["emb_ivf_topk"] = (
        with_tables(lambda s: S.ivf_topk(
            emb(s), emb(s).where("vec_id < 20"), k=5,
            n_cells=16, n_probe=12)),
        oracles.similarity.ivf_topk_duckdb_sql(_emb_path, query_pred="vec_id < 20", k=5,
                                               n_cells=16, n_probe=12),
    )
    # full-corpus distributed k-means (operators/clustering.py): decimal-
    # exact centroid updates make the fit partitioning-independent, so the
    # oracle re-derives bit-identical centroids with the Python replica
    from flink_sql_security_spark.operators import clustering as CL
    import oracles.clustering

    out["emb_kmeans_cells"] = (
        with_tables(lambda s: CL.kmeans_cells(emb(s), k=8, iters=3)),
        oracles.clustering.kmeans_duckdb_sql(_emb_path, k=8, iters=3),
    )
    # topic-balanced subsample (operators/clustering.py
    # cluster_balanced_sample): k-means cells + the md5-ordered per-cell
    # quota — keeps a training mix from being dominated by its densest
    # embedding regions; deterministic on any partitioning.
    out["sample_cluster_balanced"] = (
        with_tables(lambda s: CL.cluster_balanced_sample(
            emb(s), k=8, iters=3, n_per_cell=20)),
        oracles.clustering.cluster_balanced_sample_duckdb_sql(_emb_path, k=8, iters=3,
                                                              n_per_cell=20),
    )
    # int8 scalar quantization (operators/quantize.py): exact min/max
    # codebook + fixed-op-order affine codes — engine-identical ints
    from flink_sql_security_spark.operators import quantize as QZ
    import oracles.quantize

    # stringify_codes=True: the driver's pandas canonicalizer sorts columns
    # with sort_values, which raises on list-valued cells — CSV-joined codes
    # are hash-identical information and sortable on both engines.
    out["emb_quantize_int8"] = (
        with_tables(lambda s: QZ.quantize_int8(emb(s), stringify_codes=True)),
        oracles.quantize.quantize_int8_duckdb_sql(_emb_path, stringify_codes=True),
    )
    # product quantization (operators/pq.py): subspace codebooks train
    # deterministically on the lowest-id sample (driver numpy — the oracle
    # re-derives them from the parquet with the same code); encode is
    # narrow JVM expressions, ADC search an m-step lookup fold. m=32/k=64
    # is the measured recall point for this corpus (0.87 @10 on random
    # vectors, the hard case — clustered spaces do far better).
    from flink_sql_security_spark.operators import pq as PQm
    import oracles.pq

    _pq_books = None

    def _books(s):
        nonlocal _pq_books
        if _pq_books is None:
            _pq_books = PQm.pq_train(emb(s), m=32, k=64, iters=3)
        return _pq_books

    out["emb_pq_codes"] = (
        with_tables(lambda s: PQm.pq_encode(
            emb(s), _books(s), stringify_codes=True)),
        oracles.pq.pq_encode_duckdb_sql(_emb_path, m=32, k=64, iters=3,
                                        stringify_codes=True),
    )
    out["emb_pq_topk"] = (
        # mode='auto' is safe to drive since r9: the flat→IVF gate keys
        # on the EXACT corpus row count (layout/compression-independent
        # — pq.py pq_topk), so every test SF (500/500/2k rows, far
        # under the 500k threshold) deterministically resolves to the
        # flat exhaustive scan the oracle below re-derives
        with_tables(lambda s: PQm.pq_topk(
            emb(s), emb(s).where("vec_id < 10"), _books(s), k=5,
            mode="auto")),
        oracles.pq.pq_topk_duckdb_sql(_emb_path, query_pred="vec_id < 10",
                                      m=32, k_cb=64, iters=3, k=5),
    )
    # IVF-PQ (operators/pq.py ivfpq_topk): the coarse quantizer routes
    # code rows to cells and queries to their n_probe nearest cells, so
    # ADC scores ~n_probe/n_cells of the code table per query instead of
    # all of it — the 100 TB search shape. Coarse centroids are the same
    # deterministic lowest-id-sample Lloyd as the codebooks; the oracle
    # re-derives both and verifies cell assignment + encode + the
    # cell-keyed ADC join + ranking, all hash-strict.
    _pq_coarse = None

    def _coarse(s):
        nonlocal _pq_coarse
        if _pq_coarse is None:
            _pq_coarse = PQm.coarse_train(emb(s), n_cells=16, iters=3)
        return _pq_coarse

    # PQ decode (operators/pq.py pq_reconstruct): the quantized
    # approximation of every vector — centroid-literal concat, one
    # narrow projection. explode=True ((id, dim, val) DOUBLE rows)
    # ahead of this entry's r10 windowing: the driver's canonicalizer
    # cannot sort list cells, and stringify's CSV forms text-diverge
    # (Spark scientific vs DuckDB decimal notation).
    out["emb_pq_reconstruct"] = (
        with_tables(lambda s: PQm.pq_reconstruct(emb(s), _books(s),
                                                 explode=True)),
        oracles.pq.pq_reconstruct_duckdb_sql(_emb_path, m=32, k=64, iters=3,
                                             explode=True),
    )
    out["emb_ivfpq_topk"] = (
        with_tables(lambda s: PQm.ivfpq_topk(
            emb(s), emb(s).where("vec_id < 10"), _coarse(s), _books(s),
            k=5, n_probe=4)),
        oracles.pq.ivfpq_topk_duckdb_sql(_emb_path, query_pred="vec_id < 10",
                                         m=32, k_cb=64, iters=3,
                                         n_cells=16, n_probe=4, k=5),
    )
    # OPQ (operators/opq.py): Ge et al. 2013 learned rotation before
    # PQ — the rotation decorrelates the subspaces so the same code
    # budget quantizes ~12-19% less distortion (pytest-pinned); the
    # rotation applies as ONE narrow literal-matrix projection and
    # everything downstream is pq_topk verbatim. Oracle re-derives
    # (R, codebooks) with the same numpy and recomputes the rotation
    # in SQL with the identical fold + floor rule.
    from flink_sql_security_spark.operators import opq as OPQ
    import oracles.pq

    _opq_art = None

    def _opq(s):
        nonlocal _opq_art
        if _opq_art is None:
            _opq_art = OPQ.opq_train(emb(s), m=8, k=16, iters=2,
                                     opq_iters=2)
        return _opq_art

    out["emb_opq_topk"] = (
        with_tables(lambda s: OPQ.opq_topk(
            emb(s), emb(s).where("vec_id < 10"), _opq(s)[0], _opq(s)[1],
            k=5)),
        oracles.pq.opq_topk_duckdb_sql(_emb_path, query_pred="vec_id < 10",
                                       m=8, k_cb=16, iters=2, opq_iters=2,
                                       k=5),
    )
    # OPQ → IVF-PQ (opq_ivf_topk): the faiss "OPQ,IVF,PQ" recipe —
    # rotation fused into the one-pass encode, then the cell-keyed ADC
    # join touches ~n_probe/n_cells of the ROTATED code table per query.
    _opq_ivf_art = None

    def _opq_ivf(s):
        nonlocal _opq_ivf_art
        if _opq_ivf_art is None:
            _opq_ivf_art = OPQ.opq_ivf_train(
                emb(s), m=8, k=16, iters=2, opq_iters=2, n_cells=8)
        return _opq_ivf_art

    out["emb_opq_ivf_topk"] = (
        with_tables(lambda s: OPQ.opq_ivf_topk(
            emb(s), emb(s).where("vec_id < 10"), *_opq_ivf(s),
            k=5, n_probe=4)),
        oracles.pq.opq_ivf_topk_duckdb_sql(_emb_path, query_pred="vec_id < 10",
                                           m=8, k_cb=16, iters=2, opq_iters=2,
                                           n_cells=8, n_probe=4, k=5),
    )
    # JL sign projection (operators/projection.py): 64→16-dim
    # database-friendly random projection — md5-derived ±1 matrix,
    # unrolled codegen-able ± chains, zero shuffle; the pre-ANN cost
    # lever (LSH/IVF/rerank all get a 4× work cut on reduced vectors)
    from flink_sql_security_spark.operators import projection as RPJ
    import oracles.projection

    # explode=True ahead of this entry's r10 windowing — see the
    # emb_pca_project note (list cells break the driver canonicalizer)
    out["emb_rp_project"] = (
        with_tables(lambda s: RPJ.rp_project(emb(s), in_dim=64,
                                             out_dim=16, explode=True)),
        oracles.projection.rp_project_duckdb_sql(in_dim=64, out_dim=16, explode=True),
    )
    # PCA (trained, data-aware) beside the oblivious JL projection:
    # artifacts re-derived by the oracle emitter with the same numpy on
    # the same lowest-id sample (the OPQ pattern), projection is the
    # identical quantized-literal multiply-add fold in both engines.
    _pca_art = None

    def _pca(s):
        nonlocal _pca_art
        if _pca_art is None:
            _pca_art = RPJ.pca_train(emb(s), out_dim=8, sample=512)
        return _pca_art

    # explode=True (one (id, dim, val) DOUBLE row per component): the
    # window-safe shape — the driver's pandas canonicalizer cannot sort
    # list cells, and CSV stringification text-diverges across engines
    # (Spark scientific vs DuckDB decimal notation).
    out["emb_pca_project"] = (
        with_tables(lambda s: RPJ.pca_project(emb(s), _pca(s)[0],
                                              _pca(s)[1], explode=True)),
        oracles.projection.pca_project_duckdb_sql(_emb_path, out_dim=8, sample=512,
                                                  explode=True),
    )
    # binary (sign-bit) quantization + hamming prefilter → exact rerank
    # (operators/binary.py): 32× compression, xor+bit_count scan with
    # zero float math, shortlist-only cosine refine. Pure-SQL oracle
    # (integer packing needs no driver-side artifacts). Recall@10 on
    # this near-random corpus: 0.27 raw / 0.40 / 0.59 / 0.78 at
    # rerank 0/2/4/8 — the expected 1-bit/dim curve; clustered
    # embedding spaces do far better.
    from flink_sql_security_spark.operators import binary as BIN
    import oracles.binary

    out["emb_binary_topk"] = (
        with_tables(lambda s: BIN.hamming_topk(
            emb(s), emb(s).where("vec_id < 20"), k=5, rerank="auto",
            d=64)),
        oracles.binary.hamming_topk_duckdb_sql(query_pred="vec_id < 20", k=5,
                                               rerank="auto", d=64),
    )
    # IVF-pruned binary search (operators/binary.py ivf_hamming_topk):
    # the coarse quantizer routes code rows to cells and queries to
    # n_probe nearest cells, so the xor/bit_count scan joins ON cell
    # and touches ~n_probe/n_cells of the code table — IVF-PQ's
    # pruning on codes 2× smaller still. Same deterministic coarse
    # centroids/probe rule as the PQ tier; oracle re-derives both and
    # verifies assignment + cell-keyed scan + rerank. Recall@10 at
    # sf0.01: 0.62 / 0.76 / 0.84 at (n_probe,rerank) (4,8)/(8,8)/(8,16).
    out["emb_binary_ivf_topk"] = (
        with_tables(lambda s: BIN.ivf_hamming_topk(
            emb(s), emb(s).where("vec_id < 10"), _coarse(s), k=5,
            n_probe=4, rerank=4, d=64)),
        oracles.binary.ivf_hamming_topk_duckdb_sql(
            _emb_path, query_pred="vec_id < 10", k=5, n_cells=16,
            n_probe=4, rerank=4, iters=3, d=64),
    )
    # learned quality filter (operators/classifier.py): closed-form
    # ridge linear probe — ONE distributed pass computes quantized
    # integer normal-equation sums (order-independent, DECIMAL-merged),
    # a pure-Python solve gives bit-identical weights on both engines,
    # and scoring is an unrolled codegen projection. The oracle
    # re-derives the weights from the parquet with the same code and
    # verifies the scoring pass value-exactly. Probe quality on this
    # corpus (class 0 vs rest, train): AUC 0.82, acc 0.80 @ thr 0.2 —
    # the labels genuinely correlate with the vectors.
    from flink_sql_security_spark.operators import classifier as CLF
    import oracles.classifier

    out["classifier_probe_score"] = (
        with_tables(lambda s: CLF.linear_probe(emb(s), positive=0,
                                               threshold=0.2)),
        oracles.classifier.linear_probe_duckdb_sql(_emb_path, positive=0, threshold=0.2),
    )
    # MMR diversity re-ranking (operators/retrieval.py mmr_rerank):
    # greedy maximal-marginal-relevance over the distributed exact
    # top-shortlist — relevance traded against redundancy with the
    # already-selected set. One applyInPandas greedy per query group
    # (shortlist cost, not corpus cost); the oracle unrolls the k
    # greedy stages as CTEs (PageRank's fixed-iteration pattern).
    from flink_sql_security_spark.operators.retrieval import mmr_rerank
    from oracles.retrieval import mmr_rerank_duckdb_sql

    out["retrieval_mmr_topk"] = (
        with_tables(lambda s: mmr_rerank(
            emb(s), emb(s).where("vec_id < 10"), k=5, shortlist=20,
            lam=0.7)),
        mmr_rerank_duckdb_sql(query_pred="vec_id < 10", k=5,
                              shortlist=20, lam=0.7),
    )
    # two-stage search (operators/pq.py ivfpq_rerank): IVF-PQ shortlist
    # widened to k·rerank, then exact-L2 re-scoring of ONLY the
    # shortlist — faiss's IndexRefine shape; recall recovers the ADC
    # ordering error at shortlist cost, not corpus cost
    out["emb_ivfpq_rerank"] = (
        with_tables(lambda s: PQm.ivfpq_rerank(
            emb(s), emb(s).where("vec_id < 10"), _coarse(s), _books(s),
            k=5, n_probe=4, rerank=4)),
        oracles.pq.ivfpq_rerank_duckdb_sql(_emb_path, query_pred="vec_id < 10",
                                           m=32, k_cb=64, iters=3,
                                           n_cells=16, n_probe=4, k=5, rerank=4),
    )
    # concat-then-chunk sequence packing (operators/packing.py): two-phase
    # integer prefix sum — no single-partition window anywhere
    from flink_sql_security_spark.operators import packing as PKG
    import oracles.packing

    out["pack_sequences"] = (
        with_tables(lambda s: PKG.pack_sequences(
            docs(s), T.bpe_token_count(F.col("text")), budget=512)),
        oracles.packing.pack_sequences_duckdb_sql(
            oracles.text.bpe_token_count_sql("text"), budget=512),
    )
    # the inverse op: fixed-size overlapping context-window chunks
    from flink_sql_security_spark.operators.corpus import chunk_tokens
    from oracles.corpus import chunk_tokens_duckdb_sql

    out["chunk_fixed_tokens"] = (
        with_tables(lambda s: chunk_tokens(docs(s), size=32, stride=24)),
        chunk_tokens_duckdb_sql(size=32, stride=24),
    )
    # boundary-preserving chunking (operators/corpus.py
    # chunk_sentences): greedy prefix-DIV assignment of consecutive
    # sentences to token-budget chunks — a break never lands
    # mid-sentence. The synthetic corpus has no '. ' sentence
    # boundaries, so the entry drives the IDENTICAL machinery (split →
    # per-segment counts → one-exchange running-total window → DIV
    # assignment → order-fixed re-concat) on the ' a ' token boundary,
    # where the chunk structure is non-degenerate (255/500 docs
    # multi-chunk at sf0.01); production calls pass the real delimiter.
    from flink_sql_security_spark.operators.corpus import chunk_sentences
    from oracles.corpus import chunk_sentences_duckdb_sql

    out["chunk_sentence_budget"] = (
        with_tables(lambda s: chunk_sentences(
            docs(s), budget=24, delim=" a ")),
        chunk_sentences_duckdb_sql(budget=24, delim=" a "),
    )
    # content-defined chunking (operators/corpus.py
    # chunk_content_defined): rolling w-gram md5 boundaries
    # (hash % 2^mask_bits == 0) — the storage-dedup CDC technique at
    # token level; boundaries are local, so edits don't re-shift the
    # tail chunks (the edit-stability pytest pins it). Expected chunk
    # length 2^4 = 16 tokens on the ~60-token synthetic docs.
    from flink_sql_security_spark.operators.corpus import chunk_content_defined
    from oracles.corpus import chunk_content_defined_duckdb_sql

    out["chunk_content_defined"] = (
        with_tables(lambda s: chunk_content_defined(
            docs(s), w=3, mask_bits=4)),
        chunk_content_defined_duckdb_sql(w=3, mask_bits=4),
    )

    def text_stats(s):
        return docs(s).select(
            "doc_id",
            T.word_count(F.col("text")).alias("n_words"),
            T.bpe_token_count(F.col("text")).alias("n_bpe"),
            T.quality_score(F.col("text")).alias("quality"),
        )

    out["text_stats"] = (
        with_tables(text_stats),
        f"SELECT doc_id, {oracles.text.word_count_sql('text')} AS n_words, "
        f"{oracles.text.bpe_token_count_sql('text')} AS n_bpe, "
        f"{oracles.text.quality_score_sql('text')} AS quality FROM documents",
    )
    out["text_langid"] = (
        with_tables(lambda s: docs(s).select(
            "doc_id", T.lang_id(F.col("text")).alias("lang_pred"))),
        f"SELECT doc_id, {oracles.text.lang_id_sql('text')} AS lang_pred FROM documents",
    )

    # Gopher quality rules (functions/text.py gopher_flags): the
    # published Rae et al. 2021 A1.1 heuristics — the de-facto public
    # pretraining-corpus gate — as a pure projection (regexes in the
    # dialect-common subset, zero exchanges; the keep filter fuses
    # into the scan at 100 TB). Per-doc metrics + the 7-rule keep.
    def gopher(s):
        from flink_sql_security_spark.functions.text import gopher_select
        return gopher_select(docs(s))

    from oracles.text import gopher_select_sql
    out["text_gopher_quality"] = (
        with_tables(gopher),
        gopher_select_sql("documents"),
    )

    # C4 line-level cleaning (functions/text.py c4_clean): the
    # published Raffel et al. 2020 §2.2 recipe — terminal-punctuation
    # / ≥5-word / no-javascript line filter, ≥3-line / no-lorem-ipsum
    # / no-brace page gate — the line-level companion to the Gopher
    # document gate. The sf documents are single unpunctuated lines
    # (every rule would be constant-false), so the entry derives a
    # deterministic multi-line variant first — periods+newlines
    # injected at token boundaries, the same leftmost-non-overlapping
    # regexp_replace on both engines — giving 326 kept / 174 dropped
    # pages with 0-8 kept lines at sf0.01. The hashed result includes
    # the REWRITTEN text, so the oracle pins the transform, not just
    # the flags. Pure projection, fuses into the scan.
    _C4_SENT_RE = " (table|query|window) "

    def c4(s):
        from flink_sql_security_spark.functions.text import c4_select
        lined = docs(s).select(
            "doc_id",
            F.concat(F.regexp_replace("text", _C4_SENT_RE, ".\n"),
                     F.lit(".")).alias("text"))
        return c4_select(lined)

    from oracles.text import c4_select_sql
    out["text_c4_clean"] = (
        with_tables(c4),
        c4_select_sql(
            f"(SELECT doc_id, regexp_replace(text, '{_C4_SENT_RE}', "
            f"'.' || chr(10), 'g') || '.' AS text FROM documents)"),
    )

    # within-document duplicate-line removal (operators/corpus.py
    # dedup_lines): the RefinedWeb-class boilerplate scrub — repeated
    # lines after their first occurrence drop, survivors re-join in
    # position order, so the oracle hashes the REWRITTEN text. Same
    # derivation idea as text_c4_clean (single-line sf docs), with a
    # DENSER 8-token break set so the short lines genuinely repeat
    # within documents — 87/500 docs shrink at sf0.01 (the C4 3-token
    # set left only 3 biting docs). ONE doc-key exchange.
    _LINE_BREAK_RE = " (table|query|window|value|scan|fast|key|row) "

    def line_dedup(s):
        from flink_sql_security_spark.operators.corpus import dedup_lines
        lined = docs(s).select(
            "doc_id",
            F.regexp_replace("text", _LINE_BREAK_RE, "\n").alias("text"))
        return dedup_lines(lined)

    from oracles.corpus import dedup_lines_duckdb_sql
    out["text_line_dedup"] = (
        with_tables(line_dedup),
        dedup_lines_duckdb_sql(
            f"(SELECT doc_id, regexp_replace(text, '{_LINE_BREAK_RE}', "
            f"chr(10), 'g') AS text FROM documents)"),
    )
    out["text_fingerprint"] = (
        with_tables(lambda s: docs(s).select(
            "doc_id", T.fingerprint(F.col("text")).alias("fp"))),
        f"SELECT doc_id, {oracles.text.fingerprint_sql('text')} AS fp FROM documents",
    )

    def salted(s):
        from flink_sql_security_spark.operators.skew import salted_groupby_agg
        base = s.table("orders").select(
            "o_orderpriority",
            F.col("o_totalprice").cast("decimal(18,2)").alias("val"))
        out = salted_groupby_agg(base, ["o_orderpriority"], "val",
                                 salt_buckets=16)
        # exact decimal aggregation inside, DOUBLE at the surface (stable
        # pandas dtype on both sides of the oracle hash)
        return out.select(
            "o_orderpriority",
            F.col("sum_val").cast("double").alias("sum_val"),
            "count_val",
            F.col("min_val").cast("double").alias("min_val"),
            F.col("max_val").cast("double").alias("max_val"))

    # salted two-phase agg must equal the plain GROUP BY (oracle) — the
    # salt is pure physical redistribution, invisible in the result
    out["skew_salted_agg"] = (
        with_tables(salted),
        "SELECT o_orderpriority, "
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_val, "
        "count(CAST(o_totalprice AS DECIMAL(18,2))) AS count_val, "
        "CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_val, "
        "CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_val "
        "FROM orders GROUP BY o_orderpriority",
    )

    from flink_sql_security_spark.operators import profile as P
    import oracles.profile
    _PROF_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    out["profile_lineitem"] = (
        with_tables(lambda s: P.profile_numeric(
            s.table("lineitem"), _PROF_COLS)),
        oracles.profile.profile_numeric_duckdb_sql("lineitem", _PROF_COLS),
    )
    # exact=True pinned (not the 'auto' default): the driver row must
    # hash-match the exact quantile_cont oracle regardless of how the
    # environment's size statistics resolve — the auto switchover is
    # pytest-pinned instead (test_profile_quantiles_auto_switchover)
    out["profile_quantiles"] = (
        with_tables(lambda s: P.profile_quantiles(
            s.table("lineitem"), _PROF_COLS, exact=True)),
        oracles.profile.profile_quantiles_duckdb_sql("lineitem", _PROF_COLS),
    )
    out["vocab_top_tokens"] = (
        with_tables(lambda s: T.top_tokens(docs(s), k=50)),
        oracles.text.top_tokens_sql(k=50),
    )
    out["text_tfidf_terms"] = (
        with_tables(lambda s: T.tfidf_top_terms(docs(s), k=3)),
        oracles.text.tfidf_top_terms_sql(k=3),
    )
    out["text_lm_score"] = (
        with_tables(lambda s: T.lm_score(docs(s))),
        oracles.text.lm_score_sql(),
    )

    # ---- quality-curriculum deciles: lm scores → exact rank buckets
    # (ntile-like, tie-preserving, no global row sort — sampling.py) ----
    out["sample_quality_curriculum"] = (
        with_tables(lambda s: SM.rank_buckets(
            T.lm_score(docs(s)), "avg_logprob", 10, "decile")),
        oracles.sampling.rank_buckets_duckdb_sql(oracles.text.lm_score_sql(), "avg_logprob",
                                                 10, "decile"),
    )

    def cleaned(s):
        from flink_sql_security_spark.operators.corpus import clean_corpus
        return clean_corpus(docs(s))

    from oracles.corpus import clean_corpus_duckdb_sql
    out["pipeline_clean_corpus"] = (
        with_tables(cleaned),
        clean_corpus_duckdb_sql(),
    )

    # the watermark-windowed streaming aggregate, checked on batch input
    # (watermark is a no-op there; the window arithmetic is what the oracle
    # verifies — time_bucket aligns to the same epoch-hour boundaries)
    def windowed(s):
        from flink_sql_security_spark.streaming import windowed_event_counts
        return windowed_event_counts(s.table("events"), window="1 hour")

    out["events_hourly_window"] = (
        with_tables(windowed),
        "SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, "
        "time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end, "
        "event_type, count(*) AS cnt, "
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total "
        "FROM events GROUP BY 1, 2, 3",
    )

    # the repo's thesis in one query: the SECURITY layer gates what the
    # TRAINING-DATA pipeline may even see — clean_corpus runs over the
    # user's policy-filtered view of the corpus, and Catalyst pushes the
    # injected source gate beneath the shingling stages to the scan
    def secured_cleaned(s):
        from flink_sql_security_spark.operators.corpus import clean_corpus
        from flink_sql_security_spark.presets import USER_DOCS
        return clean_corpus(demo_context(s).table(USER_DOCS, "documents"))

    from oracles.corpus import clean_corpus_duckdb_sql
    out["secured_clean_corpus"] = (
        with_tables(secured_cleaned),
        clean_corpus_duckdb_sql(
            table="(SELECT * FROM documents WHERE source <> 'src0') AS d0"),
    )

    def sessionized(s):
        from flink_sql_security_spark.streaming.sessionize import sessionize_batch
        ev = s.table("events").select(
            "user_id", "ts", F.col("value").cast("decimal(18,2)").alias("value"))
        out = sessionize_batch(ev, gap_minutes=30)
        return out.withColumn("total_value",
                              F.col("total_value").cast("double"))

    out["sessionize_events"] = (
        with_tables(sessionized),
        # identical gap/cumsum arithmetic; floor(epoch) matches Spark's
        # unix_timestamp seconds; decimal sums are engine-stable
        """
WITH e AS (SELECT user_id, ts, CAST(value AS DECIMAL(18,2)) AS value FROM events),
b AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
         THEN 1 ELSE 0 END AS new_session
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT *, sum(new_session) OVER (
    PARTITION BY user_id ORDER BY ts
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM b
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       CAST(count(*) AS INTEGER) AS n_events,
       CAST(sum(value) AS DOUBLE) AS total_value
FROM s GROUP BY user_id, session_id
""",
    )

    # association rules (operators/assoc.py basket_rules): pairwise
    # support/confidence/lift over order baskets — integer counts, two
    # floor-rounded divides; the support floor prunes before the
    # projection
    def rules(s):
        from flink_sql_security_spark.operators.assoc import basket_rules
        return basket_rules(s.table("lineitem"),
                            basket_col="l_orderkey",
                            item_col="l_partkey", min_support=2)

    from oracles.assoc import basket_rules_duckdb_sql
    out["basket_rules"] = (
        with_tables(rules),
        basket_rules_duckdb_sql(
            "lineitem", basket_col="l_orderkey", item_col="l_partkey",
            min_support=2),
    )

    # 2→1 association rules (operators/assoc.py basket_rules_2to1):
    # Apriori level 3 restricted to pair-antecedent rules — frequent
    # pairs seed the triple count (monotonicity prune), three rules
    # per frequent triple, integer counts, floor-rounded divides.
    def rules_2to1(s):
        from flink_sql_security_spark.operators.assoc import (
            basket_rules_2to1)
        return basket_rules_2to1(s.table("lineitem"),
                                 basket_col="l_orderkey",
                                 item_col="l_suppkey", min_support=3)

    from oracles.assoc import basket_rules_2to1_duckdb_sql
    out["basket_rules_2to1"] = (
        with_tables(rules_2to1),
        basket_rules_2to1_duckdb_sql(
            "lineitem", basket_col="l_orderkey", item_col="l_suppkey",
            min_support=3),
    )

    # 3→1 association rules (operators/assoc.py basket_rules_3to1) —
    # VERDICT-r10 task 8: one more Apriori level behind the same
    # capped machinery; frequent triples (persisted occurrences) seed
    # the quadruple count, four rules per frequent quad. The ladder
    # deliberately stops here (docstring).
    def rules_3to1(s):
        from flink_sql_security_spark.operators.assoc import (
            basket_rules_3to1)
        return basket_rules_3to1(s.table("lineitem"),
                                 basket_col="l_orderkey",
                                 item_col="l_suppkey", min_support=2)

    from oracles.assoc import basket_rules_3to1_duckdb_sql
    out["basket_rules_3to1"] = (
        with_tables(rules_3to1),
        basket_rules_3to1_duckdb_sql(
            "lineitem", basket_col="l_orderkey", item_col="l_suppkey",
            min_support=2),
    )

    # SCD Type-2 history (operators/cdc.py scd2_history): every version
    # of every key with sequence-valued validity intervals — ONE window
    # pass on the key partitioning (lead bound + last-op flag), no
    # joins; deletes close intervals and emit no version. Carried
    # values only → strict.
    from flink_sql_security_spark.operators import cdc as C
    import oracles.cdc

    out["cdc_scd2"] = (
        with_tables(lambda s: C.scd2_history(
            s.table("events"), ["user_id"], "ts", ["value"],
            op_col="event_type", delete_op="error",
            tiebreak_cols=["event_id"])),
        oracles.cdc.scd2_history_duckdb_sql(
            "events", ["user_id"], "ts", ["value"],
            op_col="event_type", delete_op="error",
            tiebreak_cols=["event_id"]),
    )

    # Debezium-envelope CDC decode (sources/debezium.py) — the
    # reference's actual wire format ('connector'='mysql-cdc',
    # AbstractBasicTest.java:179-187): a deterministic mutation script
    # over orders is serialized as envelope JSON IN-QUERY with
    # dialect-common concat (inserts bare, updates payload-wrapped
    # with a source.pos tiebreak, deletes before-image-only), then
    # decoded with from_json and compacted with upsert_latest. The
    # oracle runs the SAME serializer text through DuckDB's
    # independent JSON parser — the decode machinery is what's under
    # test, not the strings. Doubles stay out of the payload (engine
    # string formats diverge); BIGINT/VARCHAR fields round-trip
    # exactly.
    _DEB_KEY = "CAST(o_orderkey AS VARCHAR(32))"
    _DEB_CUST = "CAST(o_custkey AS VARCHAR(32))"
    _DEB_CHANGELOG = f"""
SELECT concat('{{"before":null,"after":{{"o_orderkey":', {_DEB_KEY},
  ',"o_custkey":', {_DEB_CUST},
  ',"o_orderstatus":"', o_orderstatus,
  '","o_orderpriority":"', o_orderpriority,
  '"}},"op":"c","ts_ms":1000}}') AS value
FROM orders
UNION ALL
SELECT concat('{{"payload":{{"before":null,"after":{{"o_orderkey":',
  {_DEB_KEY}, ',"o_custkey":', {_DEB_CUST},
  ',"o_orderstatus":"X","o_orderpriority":"', o_orderpriority,
  '"}},"op":"u","ts_ms":2000,"source":{{"pos":', {_DEB_KEY}, '}}}}}}')
FROM orders WHERE o_orderkey % 10 = 0
UNION ALL
SELECT concat('{{"before":{{"o_orderkey":', {_DEB_KEY},
  ',"o_custkey":', {_DEB_CUST},
  ',"o_orderstatus":"', o_orderstatus,
  '","o_orderpriority":"', o_orderpriority,
  '"}},"after":null,"op":"d","ts_ms":3000}}')
FROM orders WHERE o_orderkey % 100 = 0
""".strip()
    _DEB_DDL = ("o_orderkey BIGINT, o_custkey BIGINT, "
                "o_orderstatus STRING, o_orderpriority STRING")

    def deb_state(s):
        from flink_sql_security_spark.operators.skew import (
            spread_partitions)
        from flink_sql_security_spark.sources.debezium import (
            debezium_state)

        # the envelope CONCAT is itself expensive narrow work and the
        # single-row-group orders file scans as one task — serialize
        # the changelog from a spread view so the JSON build
        # parallelizes too (the decode's own spread covers only the
        # from_json side); same strings, same rows
        spread_partitions(s.table("orders")).createOrReplaceTempView(
            "_deb_orders_spread")
        raw = s.sql(_DEB_CHANGELOG.replace("FROM orders",
                                           "FROM _deb_orders_spread"))
        return debezium_state(raw, row_ddl=_DEB_DDL,
                              key_cols=["o_orderkey"],
                              tiebreak_field="pos")

    from oracles.cdc import debezium_state_duckdb_sql
    out["cdc_debezium_state"] = (
        with_tables(deb_state),
        debezium_state_duckdb_sql(
            f"({_DEB_CHANGELOG})",
            fields=[("o_orderkey", "BIGINT"), ("o_custkey", "BIGINT"),
                    ("o_orderstatus", "VARCHAR"),
                    ("o_orderpriority", "VARCHAR")],
            key_cols=["o_orderkey"], tiebreak_path="pos"),
    )

    # cohort retention (operators/timeseries.py retention_cohorts):
    # high-value purchaser cohorts by first-activity week — integer-
    # exact truncated-epoch offsets, one floor-rounded rate divide
    def retained(s):
        from flink_sql_security_spark.operators.timeseries import (
            retention_cohorts)
        return retention_cohorts(
            s.table("events")
            .where("event_type = 'purchase' AND value > 100"))

    from oracles.timeseries import retention_cohorts_sql
    out["events_retention"] = (
        with_tables(retained),
        retention_cohorts_sql(
            "(SELECT * FROM events "
            "WHERE event_type = 'purchase' AND value > 100)"),
    )

    # funnel analysis (operators/funnel.py): earliest ordered
    # view→click→purchase chain per user within 72h of funnel entry —
    # k entity-keyed exchanges for k steps, carried MIN timestamps
    # (no float arithmetic) → strict oracle by construction
    def funneled(s):
        from flink_sql_security_spark.operators.funnel import funnel
        return funnel(s.table("events"), ["view", "click", "purchase"],
                      within_hours=72)

    from oracles.funnel import funnel_duckdb_sql
    out["events_funnel"] = (
        with_tables(funneled),
        funnel_duckdb_sql("events", ["view", "click", "purchase"],
                          within_hours=72),
    )

    # per-attempt (re-anchored) funnel (operators/funnel.py
    # funnel_attempts): one chain per step-1 EVENT — the semantics
    # ADVICE-r09 noted diverges from the entry-anchored op; a tighter
    # 24h horizon makes the re-anchoring visibly bite (later attempts
    # convert where the first times out)
    def funnel_per_attempt(s):
        from flink_sql_security_spark.operators.funnel import (
            funnel_attempts)
        return funnel_attempts(s.table("events"),
                               ["view", "click", "purchase"],
                               within_hours=24)

    from oracles.funnel import funnel_attempts_duckdb_sql
    out["events_funnel_attempts"] = (
        with_tables(funnel_per_attempt),
        funnel_attempts_duckdb_sql("events",
                                   ["view", "click", "purchase"],
                                   within_hours=24),
    )

    # funnel step-conversion report (operators/funnel.py
    # funnel_summary): per-step reach + step-over-step + from-entry
    # rates — ONE aggregation over the funnel table, k projections of
    # the 1-row counts. NOT windowed (documented composition
    # precedent, emb_binary_ivf_topk): it composes the funnel chain
    # (in-window via events_funnel_attempts + secured_funnel, r9 row
    # for events_funnel) with a count-sum agg pinned by q1.
    def funnel_report(s):
        from flink_sql_security_spark.operators.funnel import (
            funnel_summary)
        return funnel_summary(s.table("events"),
                              ["view", "click", "purchase"],
                              within_hours=72)

    from oracles.funnel import funnel_summary_duckdb_sql
    out["events_funnel_summary"] = (
        with_tables(funnel_report),
        funnel_summary_duckdb_sql("events",
                                  ["view", "click", "purchase"],
                                  within_hours=72),
    )

    # STREAMING funnel end state (streaming/funnel.py
    # funnel_state_stream + latest_funnel_state) — VERDICT-r10 task 5:
    # the stream≡batch parity that previously lived only in pytest,
    # made driver-checkable. The events table is re-written as a
    # 3-file stream in REVERSE funnel order (all purchases, then all
    # clicks, then all views — maximal cross-batch out-of-order:
    # every completion arrives before its entry), drained through the
    # applyInPandasWithState operator one file per micro-batch, and
    # compacted to the max-upd row per user. The pruning-exactness
    # contract says that end state equals the BATCH funnel regardless
    # of arrival order, so the entry answers to the batch op's oracle
    # verbatim — the strictest check the streaming twin can get.
    _STREAM_SINK_SEQ = [0]

    def _parallel_writes(write_fns):
        """Run the independent batch-file prep writes of a streaming
        drain concurrently: each is a single-task job owning its own
        directory, and submitting them from one thread serialized the
        job-scheduling round-trips behind each other (measured ~0.2 s
        per write at sf0.1). Spark's scheduler is thread-safe; the
        produced file layout is byte-identical either way."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(write_fns)) as pool:
            list(pool.map(lambda f: f(), write_fns))

    def stream_funnel_end_state(spark):
        import os
        import shutil
        import tempfile

        from flink_sql_security_spark.streaming.funnel import (
            funnel_state_stream, latest_funnel_state)

        steps = ["view", "click", "purchase"]
        ev = spark.table("events").select("user_id", "ts", "event_type")
        path = tempfile.mkdtemp(prefix="fss_stream_entry_")
        _STREAM_SINK_SEQ[0] += 1
        name = f"fss_stream_funnel_sink_{_STREAM_SINK_SEQ[0]}"
        # state tasks allocate per shuffle partition per micro-batch
        # (and per-task the Python state runner pays a fixed worker
        # round-trip); at this drain size the 32-partition default is
        # pure scheduling overhead — the streaming_interval_state
        # precedent, scoped to the drain and restored after. The end
        # state is partition-count-invariant (pruning-exactness
        # contract + the determinism suite's rule). Floor 8, not 4,
        # for THIS drain: the per-micro-batch cost here is ~|users|
        # sequential per-group Python state calls divided across the
        # state tasks (the JVM-native dropDuplicates drains keep 4) —
        # measured sweep 4/8/16 → drain 4.2/3.2/3.2 s, so 8 captures
        # the parallelism win and 16 only adds task startups. The
        # count itself DERIVES from the drained input's size estimate
        # (drain_state_partitions): same number at the local SFs, and
        # a corpus-sized drain scales its state store up to the
        # cluster parallelism instead of funneling through the floor.
        from flink_sql_security_spark.streaming import (
            drain_state_partitions)
        sp_before = spark.conf.get("spark.sql.shuffle.partitions")
        n_state = drain_state_partitions(ev, 8)
        spark.conf.set("spark.sql.shuffle.partitions", str(n_state))
        try:
            _parallel_writes([
                (lambda et=et, i=i:
                 ev.where(F.col("event_type") == et).coalesce(1)
                 .write.parquet(os.path.join(path, f"b{i}")))
                for i, et in enumerate(["purchase", "click", "view"])])
            src = (spark.readStream.schema(ev.schema)
                   .option("maxFilesPerTrigger", "1")
                   .parquet(os.path.join(path, "b*")))
            # coarse state keying (r12, VERDICT item 7): the Python
            # state runner pays a fixed per-GROUP round-trip, so
            # per-user keying costs ~0.16 ms · |users| per micro-batch
            # (measured: trivial-fn drain 0.72 s/batch at 1.5k user
            # groups vs 0.50 s at 64 coarse groups, same state
            # volume). 8 groups per state task keeps every task fed
            # while bounding the per-group tax by the group count —
            # derived from the same scale-adaptive n_state, so a
            # corpus-sized drain grows its group count with the
            # cluster. Emitted rows are identical per the
            # coarse-keying parity pytest.
            q = (funnel_state_stream(src, steps, within_hours=72,
                                     coarse_groups=8 * n_state)
                 .writeStream.format("memory").queryName(name)
                 .outputMode("update").start())
            q.processAllAvailable()
            q.stop()
        finally:
            shutil.rmtree(path, ignore_errors=True)
            spark.conf.set("spark.sql.shuffle.partitions", sp_before)
        # the memory sink holds the drained updates driver-side; the
        # compaction below is sink-shaped (≤ |users|·3 rows)
        return latest_funnel_state(spark.table(name))

    out["streaming_funnel_state"] = (
        with_tables(stream_funnel_end_state),
        funnel_duckdb_sql("events", ["view", "click", "purchase"],
                          within_hours=72),
    )

    # STREAMING retention state (streaming/funnel.py
    # retention_activity_stream), driver-checkable like the funnel
    # twin: the filtered purchaser events stream in as 3 user-hash
    # micro-batches, built-in stateful dropDuplicates maintains the
    # DISTINCT (user, period) table (the complete state cohort
    # retention needs — cohort = min period per user), and the batch
    # retention_cohorts finalizes the drained snapshot with
    # ts_col='period' (date_trunc is idempotent). Answers the batch
    # op's oracle over the raw filtered events — same filter as the
    # events_retention entry, so the two entries pin the
    # maintain/finalize split against one oracle shape.
    def stream_retention_end_state(spark):
        import os
        import shutil
        import tempfile

        from flink_sql_security_spark.operators.timeseries import (
            retention_cohorts)
        from flink_sql_security_spark.streaming.funnel import (
            retention_activity_stream)

        ev = (spark.table("events")
              .where("event_type = 'purchase' AND value > 100")
              .select("user_id", "ts", "event_id", "value"))
        path = tempfile.mkdtemp(prefix="fss_stream_ret_")
        _STREAM_SINK_SEQ[0] += 1
        name = f"fss_stream_retention_sink_{_STREAM_SINK_SEQ[0]}"
        # scoped state-partition sizing — the streaming_interval_state
        # precedent (see that entry); dropDuplicates state is
        # partition-count-invariant. Floor 4 (JVM-native state, no
        # Python round-trip), derived so a corpus-sized drain scales
        # (see the funnel twin's comment).
        from flink_sql_security_spark.streaming import (
            drain_state_partitions)
        sp_before = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(drain_state_partitions(ev, 4)))
        try:
            _parallel_writes([
                (lambda i=i:
                 ev.where(F.pmod(F.col("user_id"), F.lit(3)) == i)
                 .coalesce(1)
                 .write.parquet(os.path.join(path, f"b{i}")))
                for i in range(3)])
            src = (spark.readStream.schema(ev.schema)
                   .option("maxFilesPerTrigger", "1")
                   .parquet(os.path.join(path, "b*")))
            q = (retention_activity_stream(src)
                 .writeStream.format("memory").queryName(name)
                 .outputMode("append").start())
            q.processAllAvailable()
            q.stop()
        finally:
            shutil.rmtree(path, ignore_errors=True)
            spark.conf.set("spark.sql.shuffle.partitions", sp_before)
        return retention_cohorts(spark.table(name), ts_col="period")

    out["streaming_retention_state"] = (
        with_tables(stream_retention_end_state),
        retention_cohorts_sql(
            "(SELECT * FROM events "
            "WHERE event_type = 'purchase' AND value > 100)"),
    )

    # STREAMING exact-dedup state (streaming/dedup.py dedup_stream),
    # the third driver-checkable streaming twin: documents stream in
    # as 3 doc_id-hash micro-batches (duplicate content deliberately
    # split ACROSS batches), built-in dropDuplicates state emits each
    # normalized-content key exactly once across the whole drain. The
    # emitted KEY SET is deterministic (which duplicate row carries a
    # key is not — batch arrival picks it — so the entry releases
    # keys, not rows) and equals batch DISTINCT fingerprint: the same
    # md5-normalization the text_fingerprint entry already pins, so
    # the streaming state answers a proven oracle shape.
    def stream_dedup_end_state(spark):
        import os
        import shutil
        import tempfile

        from flink_sql_security_spark.streaming.dedup import dedup_stream

        ds = spark.table("documents").select("doc_id", "text")
        path = tempfile.mkdtemp(prefix="fss_stream_dedup_")
        _STREAM_SINK_SEQ[0] += 1
        name = f"fss_stream_dedup_sink_{_STREAM_SINK_SEQ[0]}"
        # scoped state-partition sizing — the streaming_interval_state
        # precedent; dropDuplicates key-set state is partition-count-
        # invariant. Floor 4, derived (see the funnel twin's comment).
        from flink_sql_security_spark.streaming import (
            drain_state_partitions)
        sp_before = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(drain_state_partitions(ds, 4)))
        try:
            _parallel_writes([
                (lambda i=i:
                 ds.where(F.pmod(F.col("doc_id"), F.lit(3)) == i)
                 .coalesce(1)
                 .write.parquet(os.path.join(path, f"b{i}")))
                for i in range(3)])
            src = (spark.readStream.schema(ds.schema)
                   .option("maxFilesPerTrigger", "1")
                   .parquet(os.path.join(path, "b*")))
            q = (dedup_stream(src).select("dup_key")
                 .writeStream.format("memory").queryName(name)
                 .outputMode("append").start())
            q.processAllAvailable()
            q.stop()
        finally:
            shutil.rmtree(path, ignore_errors=True)
            spark.conf.set("spark.sql.shuffle.partitions", sp_before)
        return spark.table(name).select("dup_key")

    from oracles.text import fingerprint_sql
    out["streaming_dedup_state"] = (
        with_tables(stream_dedup_end_state),
        f"SELECT DISTINCT {fingerprint_sql('text')} AS dup_key "
        f"FROM documents",
    )

    # k-anonymity suppression (operators/privacy.py k_anonymize): the
    # third classic privacy primitive after the reference's row
    # filters and masks — release only rows whose quasi-identifier
    # equivalence class holds >= k members. ONE class groupBy + a
    # null-safe broadcastable join back; integer gate → strict.
    _CUST_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                  "c_mktsegment"]

    def k_release(s):
        from flink_sql_security_spark.operators.privacy import k_anonymize
        # k=6: bites at sf0.001 (min class 1) and sf0.01 (min 5),
        # full pass-through at sf0.1 (min 93) — the keeps-everything
        # case is itself a correctness case
        return k_anonymize(s.table("customer"),
                           ["c_nationkey", "c_mktsegment"], k=6)

    from oracles.privacy import anonymity_report_duckdb_sql, k_anonymize_duckdb_sql
    out["privacy_k_anonymize"] = (
        with_tables(k_release),
        k_anonymize_duckdb_sql("customer",
                               ["c_nationkey", "c_mktsegment"], k=6,
                               select_cols=_CUST_COLS),
    )

    # release-audit report (operators/privacy.py anonymity_report):
    # k_effective / l_effective / singleton exposure in one row —
    # l-diversity over the customer key closes the homogeneity attack
    # a bare k-anonymity gate allows
    def k_audit(s):
        from flink_sql_security_spark.operators.privacy import (
            anonymity_report)
        return anonymity_report(s.table("orders"),
                                ["o_orderstatus", "o_orderpriority"],
                                sensitive_col="o_custkey")

    out["privacy_report"] = (
        with_tables(k_audit),
        anonymity_report_duckdb_sql(
            "orders", ["o_orderstatus", "o_orderpriority"],
            sensitive_col="o_custkey"),
    )

    # generalization + suppression release (operators/privacy.py
    # generalize → k_anonymize) — VERDICT-r10 task 6: suppression
    # alone discards rows a generalization keeps (raw c_name/c_acctbal
    # are near-unique → k_effective 1 → everything suppressed). The
    # rung: c_name through the mask library's MASK_SHOW_FIRST
    # (SURVEY §2.9 composed as a generalizer — 'Customer#000000042' →
    # 'Customer#xxxxxxxxx') and c_acctbal bucketed to 2000-wide bands;
    # then the k=3 class gate. Pure projection + ONE class groupBy +
    # null-safe join back; gradient across SFs like privacy_k_anonymize
    # (partial suppression at sf0.001/0.01, high retention at sf0.1).
    _GEN_SPEC = {"c_name": ("mask_show_first", 9),
                 "c_acctbal": ("bucket", 2000)}
    _GEN_QUASI = ["c_nationkey", "c_mktsegment", "c_acctbal", "c_name"]

    def gen_release(s):
        from flink_sql_security_spark.operators.privacy import (
            generalize, k_anonymize)
        return k_anonymize(
            generalize(s.table("customer").select(*_CUST_COLS),
                       _GEN_SPEC),
            _GEN_QUASI, k=3)

    from oracles.privacy import generalization_report_duckdb_sql, generalize_duckdb_select
    out["privacy_generalize"] = (
        with_tables(gen_release),
        k_anonymize_duckdb_sql(
            f"(SELECT {generalize_duckdb_select(_CUST_COLS, _GEN_SPEC)} "
            f"FROM customer)",
            _GEN_QUASI, k=3, select_cols=_CUST_COLS),
    )

    # the suppression/utility tradeoff table (operators/privacy.py
    # generalization_report): one row per ladder rung — k_effective and
    # the rows a k=6 release would keep, walked raw → mask → +bucket →
    # coarse (suppress nation). The readout that picks the rung BEFORE
    # releasing; |ladder| single-row class-aggregates over one
    # persisted quasi projection.
    _GEN_LADDER = [
        ("raw", {}),
        ("name_masked", {"c_name": ("mask_show_first", 9)}),
        ("bal_2k", {"c_name": ("mask_show_first", 9),
                    "c_acctbal": ("bucket", 2000)}),
        ("coarse", {"c_name": ("mask_show_first", 9),
                    "c_acctbal": ("bucket", 5000),
                    "c_nationkey": ("suppress", "int")}),
    ]

    def gen_ladder(s):
        from flink_sql_security_spark.operators.privacy import (
            generalization_report)
        return generalization_report(s.table("customer"), _GEN_QUASI,
                                     _GEN_LADDER, k=6)

    out["privacy_ladder_report"] = (
        with_tables(gen_ladder),
        generalization_report_duckdb_sql("customer", _GEN_QUASI,
                                         _GEN_LADDER, k=6),
    )

    # t-closeness audit (operators/privacy.py t_closeness_report):
    # the third rung of the privacy ladder — per-class total-variation
    # distance between the class's sensitive mix (market segment) and
    # the population's, catching the skewness attack k/l let through.
    # Exact-integer TVD numerator (DECIMAL(38,0) / HUGEINT twins), one
    # floor-rounded division per class; one wide exchange beyond the
    # class-value groupBy.
    def t_audit(s):
        from flink_sql_security_spark.operators.privacy import (
            t_closeness_report)
        return t_closeness_report(s.table("customer"),
                                  ["c_nationkey"], "c_mktsegment")

    from oracles.privacy import t_closeness_report_duckdb_sql
    out["privacy_t_closeness"] = (
        with_tables(t_audit),
        t_closeness_report_duckdb_sql("customer", ["c_nationkey"],
                                      "c_mktsegment"),
    )

    # seeded ε-DP release (operators/privacy.py dp_count + dp_sum):
    # the fourth privacy rung — noisy order counts and clipped noisy
    # revenue per (status, priority), Laplace noise drawn from the
    # md5-bucket uniform (reproducible given the per-release seed; the
    # seed is the secret). Sums quantized to integer micro-units
    # before the noise lands → partition-order-exact; one groupBy per
    # aggregate, released table is |groups| rows. threshold=5 shows
    # the suppression plumbing (all 15 groups clear it at every SF —
    # the biting case is pinned in pytest on a singleton group).
    def dp_release(s):
        from flink_sql_security_spark.operators.privacy import (
            dp_count, dp_sum)
        counts = dp_count(s.table("orders"),
                          ["o_orderstatus", "o_orderpriority"],
                          epsilon=1.0, seed="r11-release",
                          threshold=5.0)
        sums = dp_sum(s.table("orders"),
                      ["o_orderstatus", "o_orderpriority"],
                      "o_totalprice", clip=100000.0, epsilon=1.0,
                      seed="r11-release-sum")
        return counts.join(sums, ["o_orderstatus", "o_orderpriority"])

    from oracles.privacy import dp_count_duckdb_sql, dp_sum_duckdb_sql
    _DP_GRP = ["o_orderstatus", "o_orderpriority"]
    out["privacy_dp_release"] = (
        with_tables(dp_release),
        f"SELECT c.o_orderstatus, c.o_orderpriority, c.n_noisy, "
        f"s.sum_noisy FROM ({dp_count_duckdb_sql('orders', _DP_GRP, epsilon=1.0, seed='r11-release', threshold=5.0)}) c "
        f"JOIN ({dp_sum_duckdb_sql('orders', _DP_GRP, 'o_totalprice', clip=100000.0, epsilon=1.0, seed='r11-release-sum')}) s "
        f"USING (o_orderstatus, o_orderpriority)",
    )

    # robust per-group outlier detection (operators/profile.py
    # robust_outliers): median/MAD flags on the heavy-tailed events.value
    # — exact lower-median order statistics (no interpolation, no float
    # parity risk), the whole operator ONE hash exchange on the group key
    def outliers(s):
        from flink_sql_security_spark.operators.profile import robust_outliers
        return robust_outliers(
            s.table("events"), value_col="value",
            group_cols=["event_type"], id_cols=["event_id"], k=3.0)

    from oracles.profile import robust_outliers_duckdb_sql
    out["profile_outliers"] = (
        with_tables(outliers),
        robust_outliers_duckdb_sql(
            "events", value_col="value", group_cols=["event_type"],
            id_cols=["event_id"], k=3.0),
    )

    # SECURED funnel: the reference's RLS rewrite composing with the
    # analytics tier — the funnel runs over ctx.table(USER_EVENTS,
    # "events"), so the injected consent gate (user_id % 10 != 0, a
    # predicate that BITES: every tenth user disappears from the
    # conversion report) prunes every per-step scan BEFORE the chain
    # joins; the oracle applies the same predicate to the source
    def secured_funneled(s):
        from flink_sql_security_spark.operators.funnel import funnel
        from flink_sql_security_spark.presets import USER_EVENTS
        ev = demo_context(s).table(USER_EVENTS, "events")
        return funnel(ev, ["view", "click", "purchase"], within_hours=72)

    from oracles.funnel import funnel_duckdb_sql

    out["secured_funnel"] = (
        with_tables(secured_funneled),
        funnel_duckdb_sql(
            "(SELECT * FROM events WHERE user_id % 10 != 0)",
            ["view", "click", "purchase"], within_hours=72),
    )

    # SECURED ε-DP release: the reference's RLS rewrite feeding the
    # DP tier — the rows the consent gate removes (user_id % 10 = 0)
    # change the TRUE counts before the seeded noise lands, so the
    # two release-privacy layers compose: who may be counted (RLS),
    # then how the counts leave (DP). Same rewrite path as
    # secured_funnel; oracle applies the identical predicate to the
    # source subquery.
    def secured_dp(s):
        from flink_sql_security_spark.operators.privacy import dp_count
        from flink_sql_security_spark.presets import USER_EVENTS
        ev = demo_context(s).table(USER_EVENTS, "events")
        return dp_count(ev, ["event_type"], epsilon=1.0,
                        seed="r11-consented", threshold=5.0)

    out["secured_dp_release"] = (
        with_tables(secured_dp),
        dp_count_duckdb_sql(
            "(SELECT * FROM events WHERE user_id % 10 != 0)",
            ["event_type"], epsilon=1.0, seed="r11-consented",
            threshold=5.0),
    )

    # STREAMING stream-stream interval join end state
    # (streaming/interval_join.py interval_join_streams), the fourth
    # driver-checkable streaming twin and the first JOIN one: clicks
    # and purchases stream as SEPARATE file sources, purchases split
    # by user hash, clicks by REVERSED user hash — so most matches
    # pair rows from different micro-batches and the state store must
    # hold each side until its partner arrives. The watermark delay
    # deliberately covers the whole event-time horizon (no eviction):
    # with eviction live, which matches survive depends on arrival
    # order — the non-determinism the delay removes; production uses
    # tight delays and accepts the documented drop semantics. The
    # drained match SET equals the batch interval join, so the entry
    # answers the interval_click_purchase oracle verbatim.
    def stream_interval_end_state(spark):
        import os
        import shutil
        import tempfile

        from flink_sql_security_spark.streaming.interval_join import (
            interval_join_streams)

        # pin the session zone for the NTZ→LTZ→NTZ round trip below:
        # watermarks demand LTZ event time, and on a DST-observing
        # host zone a data span crossing a transition would shift wall
        # times (02:30→03:30) and split physical-vs-wall interval
        # semantics between this entry and the NTZ batch oracle. UTC
        # has no transitions, so the round trip is the identity.
        tz_before = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # stream-stream joins allocate STATE tasks per shuffle
        # partition per micro-batch on BOTH sides; at this data size
        # the 32-partition default is pure scheduling overhead (~17 s
        # → ~5 s at 4). Scoped to this query — the conf is read at
        # stream start and restored after the drain; results are
        # partition-count-invariant (the determinism suite's rule).
        # Floor 4, derived from the drained input's size estimate
        # (see the funnel twin's comment).
        from flink_sql_security_spark.streaming import (
            drain_state_partitions)
        sp_before = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(drain_state_partitions(
                           spark.table("events"), 4)))
        # the drain ends with a NO-DATA micro-batch (watermark advance
        # + state eviction only): an APPEND-mode INNER stream-stream
        # join emits rows exclusively from data batches, so that final
        # batch writes nothing to the sink by construction — measured
        # 0.8 s of pure trigger overhead. Scoped + restored, same rule
        # as shuffle.partitions above. (Do NOT blanket this for the
        # applyInPandasWithState twins: an event-time timeout there
        # could flush state from a no-data batch; the funnel twin is
        # NoTimeout today, but each drain opts in deliberately.)
        ndb_before = spark.conf.get(
            "spark.sql.streaming.noDataMicroBatches.enabled")
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", "false")
        ev = spark.table("events")
        # watermarks demand TIMESTAMP (LTZ) event time — the parquet
        # ts is NTZ; cast in, cast back out before hashing
        clicks = (ev.where("event_type = 'click'")
                  .select(F.col("event_id").alias("click_id"),
                          "user_id",
                          F.col("ts").cast("timestamp")
                          .alias("click_ts")))
        purchases = (ev.where("event_type = 'purchase'")
                     .select(F.col("event_id").alias("purchase_id"),
                             F.col("user_id").alias("p_user_id"),
                             F.col("ts").cast("timestamp")
                             .alias("purchase_ts")))
        path = tempfile.mkdtemp(prefix="fss_stream_ij_")
        _STREAM_SINK_SEQ[0] += 1
        name = f"fss_stream_ij_sink_{_STREAM_SINK_SEQ[0]}"
        try:
            _parallel_writes(
                [(lambda i=i:
                  clicks.where(F.pmod(F.col("user_id"), F.lit(3))
                               == (2 - i)).coalesce(1)
                  .write.parquet(os.path.join(path, "c", f"b{i}")))
                 for i in range(3)]
                + [(lambda i=i:
                    purchases.where(F.pmod(F.col("p_user_id"),
                                           F.lit(3)) == i).coalesce(1)
                    .write.parquet(os.path.join(path, "p", f"b{i}")))
                   for i in range(3)])
            src_c = (spark.readStream.schema(clicks.schema)
                     .option("maxFilesPerTrigger", "1")
                     .parquet(os.path.join(path, "c", "b*")))
            src_p = (spark.readStream.schema(purchases.schema)
                     .option("maxFilesPerTrigger", "1")
                     .parquet(os.path.join(path, "p", "b*")))
            joined = interval_join_streams(
                src_c.withColumn("user_key", F.col("user_id")),
                src_p.withColumn("user_key", F.col("p_user_id")),
                on="user_key", left_ts="click_ts",
                right_ts="purchase_ts", window="1 hour",
                delay="87600 hours")
            q = (joined.select(
                     "click_id", "purchase_id", "user_id",
                     F.col("click_ts").cast("timestamp_ntz")
                     .alias("click_ts"),
                     F.col("purchase_ts").cast("timestamp_ntz")
                     .alias("purchase_ts"))
                 .writeStream.format("memory").queryName(name)
                 .outputMode("append").start())
            q.processAllAvailable()
            q.stop()
        finally:
            shutil.rmtree(path, ignore_errors=True)
            spark.conf.set("spark.sql.session.timeZone", tz_before)
            spark.conf.set("spark.sql.shuffle.partitions", sp_before)
            spark.conf.set(
                "spark.sql.streaming.noDataMicroBatches.enabled",
                ndb_before)
        return spark.table(name)

    out["streaming_interval_state"] = (
        with_tables(stream_interval_end_state),
        "SELECT a.event_id AS click_id, b.event_id AS purchase_id, "
        "a.user_id, a.ts AS click_ts, b.ts AS purchase_ts "
        "FROM events a JOIN events b ON a.user_id = b.user_id "
        "AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL '1' HOUR "
        "WHERE a.event_type = 'click' AND b.event_type = 'purchase'",
    )

    # pairwise Pearson correlation matrix (operators/profile.py
    # profile_correlations): ONE groupless agg computes every
    # decimal-exact Σx/Σx²/Σxy; the matrix is per-pair expressions over
    # the 1-row stats frame. NOT windowed (r10 incoming list): the
    # decimal-sum core rides in-window q1_pricing_summary.
    def correlated(s):
        from flink_sql_security_spark.operators.profile import (
            profile_correlations)
        return profile_correlations(
            s.table("lineitem"),
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"])

    from oracles.profile import profile_correlations_duckdb_sql
    out["profile_correlations"] = (
        with_tables(correlated),
        profile_correlations_duckdb_sql(
            "lineitem",
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]),
    )

    # embedding-corpus QA profile (operators/profile.py
    # profile_embeddings): per-dim stats + L2-norm distribution +
    # centroid-norm anisotropy — the readout that runs BEFORE the ANN
    # tiers (a dominant bias direction degrades cosine search and
    # semantic dedup). Not windowed (composition precedent): the
    # decimal Σv/Σv² recipe is in-window via profile_zscore +
    # profile_correlations and the norm fold is the similarity tier's
    # pinned sequential-sum convention.
    def emb_profile(s):
        from flink_sql_security_spark.operators.profile import (
            profile_embeddings)
        return profile_embeddings(emb(s))

    from oracles.profile import profile_embeddings_duckdb_sql
    out["emb_profile_stats"] = (
        with_tables(emb_profile),
        profile_embeddings_duckdb_sql(dim=64),
    )

    # per-group z-score normalization (operators/profile.py
    # feature_scale): decimal-exact Σv/Σv² make the distributed
    # mean/variance order-independent — the ML feature-prep step. NOT
    # windowed (joins the r10 incoming list): strict here at all 3 SFs,
    # with minmax/rank variants pinned by pytest + config fuzz.
    def zscored(s):
        from flink_sql_security_spark.operators.profile import feature_scale
        return feature_scale(
            s.table("events"), value_col="value",
            group_cols=["event_type"], id_cols=["event_id"],
            method="zscore")

    from oracles.profile import feature_scale_duckdb_sql
    out["profile_zscore"] = (
        with_tables(zscored),
        feature_scale_duckdb_sql(
            "events", value_col="value", group_cols=["event_type"],
            id_cols=["event_id"], method="zscore"),
    )

    # time-series gap-fill (operators/timeseries.py): hourly resample of
    # each user's purchase values with forward-fill — the join-free
    # formulation (lead + sequence-explode, two shuffles on the user key,
    # no calendar join). Values are carried, never recomputed → strict.
    def gapfilled(s):
        from flink_sql_security_spark.operators.timeseries import resample_ffill
        return resample_ffill(
            s.table("events").where(F.col("event_type") == "purchase"))

    from oracles.timeseries import resample_ffill_sql
    out["events_gapfill"] = (
        with_tables(gapfilled),
        resample_ffill_sql(
            "(SELECT * FROM events WHERE event_type = 'purchase')"),
    )

    # calendar-window rolling stats (operators/timeseries.py
    # rolling_daily_stats): per-type daily counts/revenue with
    # trailing-7-CALENDAR-day aggregates — the integer epoch-day RANGE
    # frame, so missing days contribute nothing (a ROWS frame would
    # silently stretch across gaps). DECIMAL(18,2) daily + rolling
    # sums (order-independent), one exchange on the type key.
    def rolling(s):
        from flink_sql_security_spark.operators.timeseries import (
            rolling_daily_stats)
        return rolling_daily_stats(s.table("events"), window_days=7)

    from oracles.timeseries import rolling_daily_stats_sql
    out["events_rolling_7d"] = (
        with_tables(rolling),
        rolling_daily_stats_sql("events", window_days=7),
    )

    # as-of join: each purchase attributed to the user's most recent prior
    # click (operators/asof.py: union + ordered-window, one shuffle). The
    # right side is deduped per (user_id, ts) so ties are deterministic;
    # DuckDB's native ASOF JOIN is the oracle.
    def asof_attrib(spark):
        from flink_sql_security_spark.operators.asof import asof_join

        ev = spark.table("events")
        purchases = ev.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            # pass-through double (no aggregation → already exact)
            F.col("value").alias("purchase_value"),
        )
        clicks = (
            ev.where(F.col("event_type") == "click")
            .groupBy("user_id", F.col("ts").alias("click_ts"))
            .agg(F.max("event_id").alias("click_id"))
        )
        return asof_join(purchases, clicks, on="user_id",
                         left_ts="purchase_ts", right_ts="click_ts",
                         how="inner")

    # free-text PII scrubbing (functions/text.py redact_pii): the blob is
    # built deterministically from customer fields so the redaction has
    # real work to do on every row; both engines build the identical blob
    def pii_redacted(spark):
        c = spark.table("customer")
        blob = F.concat(
            F.lit("reach "), F.col("c_name"), F.lit(" at "),
            F.lower(F.regexp_replace(F.col("c_name"), "#", ".")),
            F.lit("@example.com or 555-"),
            F.substring(F.col("c_name"), 13, 3), F.lit("-"),
            F.substring(F.col("c_name"), 15, 4),
            F.lit(" ip 10.0."),
            (F.col("c_custkey") % 256).cast("string"),
            F.lit(".77 ssn 123-45-6789"),
        )
        return c.select("c_custkey", T.redact_pii(blob).alias("contact"))

    _DUCK_BLOB = (
        "concat('reach ', c_name, ' at ', lower(replace(c_name, '#', '.')), "
        "'@example.com or 555-', substring(c_name, 13, 3), '-', "
        "substring(c_name, 15, 4), ' ip 10.0.', "
        "CAST(c_custkey % 256 AS VARCHAR), '.77 ssn 123-45-6789')"
    )
    out["text_pii_redact"] = (
        with_tables(pii_redacted),
        "SELECT c_custkey, " + oracles.text.redact_pii_sql(_DUCK_BLOB)
        + " AS contact FROM customer",
    )

    out["asof_purchase_click"] = (
        with_tables(asof_attrib),
        "WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,"
        " value AS purchase_value FROM events"
        " WHERE event_type = 'purchase'), "
        "c AS (SELECT user_id, ts AS click_ts, max(event_id) AS click_id"
        " FROM events WHERE event_type = 'click' GROUP BY user_id, ts) "
        "SELECT purchase_id, p.user_id, purchase_ts, purchase_value,"
        " click_ts, click_id "
        "FROM p ASOF JOIN c ON p.user_id = c.user_id"
        " AND p.purchase_ts >= c.click_ts",
    )

    # ---- contrastive triplet mining: near-dup pairs → training triplets
    # with deterministic hash-bucketed negatives (operators/contrastive.py)
    from flink_sql_security_spark.operators import contrastive as CT
    import oracles.contrastive

    out["contrastive_triplets"] = (
        with_tables(lambda s: CT.contrastive_triplets(
            D.ngram_jaccard_pairs(docs(s), threshold=0.05),
            docs(s).select("doc_id"), n_neg=2, buckets=50)),
        oracles.contrastive.contrastive_triplets_duckdb_sql(
            out["dedup_jaccard_pairs"][1],
            "SELECT doc_id FROM documents", n_neg=2, buckets=50),
    )

    # ---- BPE tokenizer: distributed train + narrow encode (operators/
    # bpe.py). Oracle re-derives the merge list from the parquet with the
    # shared driver-side loop (kmeans/IVF literal-embedding pattern).
    from flink_sql_security_spark.operators import bpe as BP
    import oracles.bpe

    def bpe_tokens(s):
        d = docs(s)
        return BP.bpe_encode(d, BP.bpe_train(d, n_merges=24))

    import os as _os2
    _doc_path = _os2.path.join(
        _os2.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
        "documents.parquet")
    out["bpe_tokens"] = (
        with_tables(bpe_tokens),
        oracles.bpe.bpe_encode_duckdb_sql(
            oracles.bpe.bpe_train_replica(_doc_path, n_merges=24)),
    )

    # ---- padding-efficient bucketed batching (operators/packing.py) ----
    from flink_sql_security_spark.operators import packing as PK
    import oracles.packing

    out["pack_length_batches"] = (
        with_tables(lambda s: PK.length_bucketed_batches(
            docs(s).select("doc_id", "n_chars"), "n_chars", batch_docs=8)),
        oracles.packing.length_bucketed_batches_duckdb_sql(
            "SELECT doc_id, n_chars AS n_tokens FROM documents",
            batch_docs=8),
    )

    # ---- cardinality sketch: deterministic HLL (operators/sketch.py) ----
    from flink_sql_security_spark.operators import sketch as SK
    import oracles.sketch

    _HLL_COLS = ["l_orderkey", "l_partkey", "l_suppkey"]
    out["sketch_distinct_hll"] = (
        with_tables(lambda s: SK.approx_distinct_hll(
            s.table("lineitem"), _HLL_COLS)),
        oracles.sketch.approx_distinct_hll_duckdb_sql("lineitem", _HLL_COLS),
    )
    # per-key cardinality profile (sketch.py grouped_distinct_hll):
    # mergeable registers keyed by (key, bucket) — a skewed key costs m
    # register rows, never its raw distinct set
    out["sketch_hll_by_key"] = (
        with_tables(lambda s: SK.grouped_distinct_hll(
            s.table("events"), "event_type", "user_id")),
        oracles.sketch.grouped_distinct_hll_duckdb_sql("events", "event_type",
                                                       "user_id"),
    )

    # ---- histogram quantile sketch (operators/sketch.py): the mergeable
    # fixed-grid alternative to exact percentile — estimates from ≤256
    # binwise-summable counters, interpolated inside the covering bin ----
    out["sketch_hist_quantiles"] = (
        with_tables(lambda s: SK.histogram_quantiles(
            s.table("lineitem"), "l_extendedprice")),
        oracles.sketch.histogram_quantiles_duckdb_sql("lineitem", "l_extendedprice"),
    )

    # ---- Z-order layout key (operators/zorder.py) ----
    from flink_sql_security_spark.operators import zorder as Z
    import oracles.zorder

    def zorder_orders(s):
        o = s.table("orders").select(
            "o_orderkey", "o_custkey",
            F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .alias("cents"))
        return Z.zorder_key(o, ["o_custkey", "cents"]) \
                .select("o_orderkey", "zkey")

    out["zorder_orders"] = (
        with_tables(zorder_orders),
        oracles.zorder.zorder_key_duckdb_sql(
            "(SELECT o_orderkey, o_custkey, "
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents "
            "FROM orders)",
            cols=["o_custkey", "cents"], key_cols=["o_orderkey"]),
    )

    # ---- CDC changelog compaction (operators/cdc.py): events as an
    # upsert/delete stream keyed by user — 'error' rows are tombstones ----
    from flink_sql_security_spark.operators import cdc as C

    out["cdc_upsert_latest"] = (
        with_tables(lambda s: C.upsert_latest(
            s.table("events"), ["user_id"], "ts",
            op_col="event_type", delete_op="error",
            tiebreak_cols=["event_id"])
            .select("user_id", "event_id", "ts", "event_type", "value")),
        oracles.cdc.upsert_latest_duckdb_sql(
            "events", ["user_id"], "ts",
            select_cols=["user_id", "event_id", "ts", "event_type", "value"],
            op_col="event_type", delete_op="error",
            tiebreak_cols=["event_id"]),
    )

    # ---- source-overlap matrix (operators/dedup.py): which sources
    # near-duplicate each other — curation diagnostic over the verified
    # LSH pair table ----
    out["dedup_source_overlap"] = (
        with_tables(lambda s: D.source_overlap_matrix(
            D.ngram_jaccard_pairs(docs(s), threshold=0.05),
            docs(s))),
        oracles.dedup.source_overlap_matrix_duckdb_sql(out["dedup_jaccard_pairs"][1]),
    )

    # ---- corpus snapshot diff (operators/cdc.py): version audit between
    # documents and a deterministic mutation of it (drop %7, rewrite %11,
    # add shifted ids for %13) — added/removed/changed/unchanged per key ----
    def _new_version(s):
        d = docs(s)
        kept = d.where("doc_id % 7 != 0").select(
            "doc_id",
            F.expr("CASE WHEN doc_id % 11 = 0 THEN concat(text, ' rev2') "
                   "ELSE text END").alias("text"))
        added = d.where("doc_id % 13 = 0").select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
        return kept.unionByName(added)

    _NEW_SQL = (
        "SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN text || ' rev2' "
        "ELSE text END AS text FROM documents WHERE doc_id % 7 != 0 "
        "UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents "
        "WHERE doc_id % 13 = 0")

    out["cdc_snapshot_diff"] = (
        with_tables(lambda s: C.snapshot_diff(
            docs(s).select("doc_id", "text"), _new_version(s),
            ["doc_id"], "text")),
        oracles.cdc.snapshot_diff_duckdb_sql(
            "SELECT doc_id, text FROM documents", _NEW_SQL,
            ["doc_id"], "text"),
    )

    # ---- pivot: Spark's native PIVOT operator (CASE-sum oracle) ----
    _EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

    def pivot_daily(s):
        ev = s.table("events")
        return (
            ev.groupBy(F.date_trunc("DAY", "ts").alias("day"))
            .pivot("event_type", _EVENT_TYPES)
            .count()
            .na.fill(0, subset=_EVENT_TYPES)
        )

    out["pivot_daily_events"] = (
        with_tables(pivot_daily),
        "SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, "
        + ", ".join(
            f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) "
            f"AS BIGINT) AS {t}" for t in _EVENT_TYPES)
        + " FROM events GROUP BY 1",
    )

    # ---- FIM transform (operators/corpus.py): fill-in-the-middle
    # training-sample rewrite, PSM format, hash-gated rate + hash-drawn
    # split points (Bavarian et al. 2022) ----
    from flink_sql_security_spark.operators import corpus as CP
    import oracles.corpus

    out["fim_psm_transform"] = (
        with_tables(lambda s: CP.fim_transform(docs(s), rate=0.5)),
        oracles.corpus.fim_transform_duckdb_sql("documents", rate=0.5),
    )

    # ---- Bloom-filter decontamination (operators/sketch.py): the
    # broadcast-bit-set membership path — held-out set = src0/src1 docs;
    # verdicts carry the exact membership next to the sketch's (bounded-FP,
    # zero-FN) answer ----
    out["sketch_bloom_decon"] = (
        with_tables(lambda s: SK.bloom_decontaminate(
            docs(s), docs(s).where(F.col("source").isin("src0", "src1")))),
        oracles.sketch.bloom_decontaminate_duckdb_sql(
            "SELECT * FROM documents",
            "SELECT * FROM documents WHERE source IN ('src0', 'src1')"),
    )

    # ---- Count-Min token-frequency sketch (operators/sketch.py): CMS
    # estimates next to exact counts for every corpus token with exact
    # frequency ≥ 100 (one-sided error: n_est ≥ n_exact always) ----
    out["sketch_cms_tokens"] = (
        with_tables(lambda s: SK.cms_token_counts(docs(s), min_count=100)),
        oracles.sketch.cms_token_counts_duckdb_sql("documents", min_count=100),
    )

    # ---- DSIR importance weights (operators/dsir.py): score every doc by
    # hashed-unigram target-likeness against the English slice as the
    # target domain (Xie et al. 2023) ----
    from flink_sql_security_spark.operators import dsir as DSR
    import oracles.dsir

    out["sample_dsir_weights"] = (
        with_tables(lambda s: DSR.dsir_weights(
            docs(s), docs(s).where(F.col("lang") == "en"))),
        oracles.dsir.dsir_weights_duckdb_sql(
            "SELECT * FROM documents",
            "SELECT * FROM documents WHERE lang = 'en'"),
    )

    # ---- BM25 lexical retrieval (operators/retrieval.py): top-k docs
    # for a fixed probe-term bag — targeted decontamination / topic-slice
    # mining; term filter lands pre-shuffle, one exchange end-to-end ----
    from flink_sql_security_spark.operators import retrieval as RT
    import oracles.retrieval

    _BM25_TERMS = ["vector", "stream", "hash"]
    out["text_bm25_topk"] = (
        with_tables(lambda s: RT.bm25_topk(docs(s), _BM25_TERMS, k=20)),
        oracles.retrieval.bm25_topk_sql(_BM25_TERMS, k=20),
    )
    # BM25 from a prebuilt inverted index (build-once / probe-many — the
    # serving shape at corpus scale: tokenize once, each probe reads only
    # its terms' posting lists). Scores are bit-identical to the scan
    # path (shared _bm25_score_tail), so the SAME oracle checks it; a
    # different term set keeps the two windowed entries non-redundant.
    _BM25_IDX_TERMS = ["data", "query", "merge"]

    def _bm25_indexed(s):
        postings, stats = RT.bm25_build_index(docs(s))
        return RT.bm25_topk_indexed(postings, stats, _BM25_IDX_TERMS, k=20)

    out["text_bm25_indexed"] = (
        with_tables(_bm25_indexed),
        oracles.retrieval.bm25_topk_sql(_BM25_IDX_TERMS, k=20),
    )

    # ---- reciprocal-rank fusion (operators/retrieval.py rrf_fuse):
    # hybrid retrieval — BM25 lexical ranks fused with exact-cosine
    # semantic ranks by 1/(k0+rank) sums (Cormack et al., SIGIR 2009).
    # doc_id and vec_id are the driver corpus's shared key. Strictly
    # oracle-checkable: only integer RANKS enter the formula (one IEEE
    # divide each, fixed-order sum, floor rule once on the final) ----
    def _rrf_hybrid(s):
        lex = RT.bm25_topk(docs(s), _BM25_TERMS, k=50)
        sem = (S.cosine_topk(emb(s), emb(s).where("vec_id = 7"), k=50)
               .select(F.col("n_id").alias("doc_id"), "rank"))
        return RT.rrf_fuse([("lex", lex), ("sem", sem)], k0=60, k=20)

    _rrf_sem_sql = (
        "WITH " + _DUCK_UNIT + ", "
        "scored AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id, "
        + _DUCK_UNIT_DOT.format(a="q.unit", b="n.unit") + " AS cosine"
        " FROM u q, u n WHERE q.vec_id = 7 AND q.vec_id <> n.vec_id), "
        "rk AS (SELECT n_id, row_number() OVER (PARTITION BY q_id "
        "ORDER BY cosine DESC, n_id) AS rank FROM scored) "
        "SELECT n_id AS doc_id, rank FROM rk WHERE rank <= 50")
    out["retrieval_rrf_hybrid"] = (
        with_tables(_rrf_hybrid),
        oracles.retrieval.rrf_fuse_sql(
            [("lex", "SELECT doc_id, rank FROM ("
              + oracles.retrieval.bm25_topk_sql(_BM25_TERMS, k=50) + ") b"),
             ("sem", _rrf_sem_sql)], k0=60, k=20),
    )

    # grouped + weighted fusion — the million-query scale shape:
    # per-query ranked lists from TWO index tiers (exact cosine and
    # the binary hamming prefilter) fuse per q_id with arm weights
    # (cosine trusted 2×), one shuffle keyed on (q_id, vec_id). Covers
    # the group_col and weights surfaces at driver level.
    def _rrf_grouped(s):
        q = emb(s).where("vec_id < 5")
        cos = (S.cosine_topk(emb(s), q, k=20)
               .select("q_id", F.col("n_id").alias("vec_id"), "rank"))
        ham = (BIN.hamming_topk(emb(s), q, k=20, d=64)
               .select("q_id", F.col("n_id").alias("vec_id"), "rank"))
        return RT.rrf_fuse([("cos", cos), ("ham", ham)],
                           id_col="vec_id", group_col="q_id",
                           k0=60, k=5, weights=[2.0, 1.0])

    _rrf_cos_g_sql = (
        "WITH " + _DUCK_UNIT + ", "
        "scored AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id, "
        + _DUCK_UNIT_DOT.format(a="q.unit", b="n.unit") + " AS cosine"
        " FROM u q, u n WHERE q.vec_id < 5 AND q.vec_id <> n.vec_id), "
        "rk AS (SELECT q_id, n_id AS vec_id, row_number() OVER "
        "(PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank "
        "FROM scored) SELECT q_id, vec_id, rank FROM rk "
        "WHERE rank <= 20")
    _rrf_ham_g_sql = (
        "SELECT q_id, n_id AS vec_id, rank FROM ("
        + oracles.binary.hamming_topk_duckdb_sql(query_pred="vec_id < 5", k=20,
                                                 rerank=0, d=64) + ") h")
    out["retrieval_rrf_grouped"] = (
        with_tables(_rrf_grouped),
        oracles.retrieval.rrf_fuse_sql(
            [("cos", _rrf_cos_g_sql), ("ham", _rrf_ham_g_sql)],
            id_col="vec_id", group_col="q_id", k0=60, k=5,
            weights=[2.0, 1.0]),
    )

    # ---- blocked fuzzy matching (operators/fuzzy.py): edit-distance
    # near-dup pairs of document "titles" (40-char prefixes) under a
    # first-token block key — the block→verify linkage shape; threshold
    # 18 sits in the measured gap between true near-dups (d ≤ 18) and
    # the unrelated-pair noise floor (d ≥ 19) on this corpus ----
    from flink_sql_security_spark.operators import fuzzy as FZ
    import oracles.fuzzy

    def fuzzy_titles(s):
        titled = docs(s).select(
            "doc_id", F.substring("text", 1, 40).alias("title"))
        return FZ.fuzzy_name_pairs(
            titled, id_col="doc_id", name_col="title", max_dist=18)

    out["fuzzy_title_pairs"] = (
        with_tables(fuzzy_titles),
        oracles.fuzzy.fuzzy_name_pairs_sql(
            table="(SELECT doc_id, substring(text, 1, 40) AS title "
                  "FROM documents) t",
            id_col="doc_id", name_col="title", max_dist=18),
    )

    # ---- PageRank (operators/graph.py): 5 power iterations over the
    # symmetrized customer↔supplier trade graph (suppliers offset by
    # 1e6); quantized integer contributions make the distributed sums
    # order-independent, so the oracle is strict despite floats ----
    from flink_sql_security_spark.operators import graph as G
    import oracles.graph

    _EDGES_SQL = (
        "WITH pairs AS (SELECT DISTINCT o.o_custkey AS c, "
        "l.l_suppkey + 1000000 AS s FROM orders o "
        "JOIN lineitem l ON o.o_orderkey = l.l_orderkey) "
        "SELECT c AS src, s AS dst FROM pairs "
        "UNION ALL SELECT s AS src, c AS dst FROM pairs")

    def trade_pagerank(s):
        pairs = (
            s.table("orders")
            .join(s.table("lineitem"),
                  F.col("o_orderkey") == F.col("l_orderkey"))
            .select(F.col("o_custkey").alias("c"),
                    (F.col("l_suppkey") + F.lit(1000000)).alias("s"))
            .distinct())
        edges = (pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
                 .union(pairs.select(F.col("s").alias("src"),
                                     F.col("c").alias("dst"))))
        return G.pagerank(edges, iters=5)

    out["graph_pagerank"] = (
        with_tables(trade_pagerank),
        oracles.graph.pagerank_sql(_EDGES_SQL, iters=5),
    )

    # HITS on the DIRECTED bipartite trade graph (customer → supplier):
    # the two-score ranking — supplier authority vs customer hub weight
    # — that symmetrized PageRank conflates. Same quantized-integer
    # determinism recipe; strict oracle unrolls the identical mutual
    # recursion.
    _DIRECTED_EDGES_SQL = (
        "SELECT DISTINCT o.o_custkey AS src, "
        "l.l_suppkey + 1000000 AS dst FROM orders o "
        "JOIN lineitem l ON o.o_orderkey = l.l_orderkey")

    # iters=3 (vs pagerank's 5): HITS runs TWO edge passes + one
    # checkpoint job per iteration, so the entry pins the mutual
    # recursion at ~the same bench budget as the single-score entry;
    # the operator takes any depth and the oracle is parameterized.
    def trade_hits(s):
        edges = (
            s.table("orders")
            .join(s.table("lineitem"),
                  F.col("o_orderkey") == F.col("l_orderkey"))
            .select(F.col("o_custkey").alias("src"),
                    (F.col("l_suppkey") + F.lit(1000000)).alias("dst"))
            .distinct())
        return G.hits(edges, iters=3)

    out["graph_hits"] = (
        with_tables(trade_hits),
        oracles.graph.hits_sql(_DIRECTED_EDGES_SQL, iters=3),
    )

    # Personalized PageRank: teleport to a 3-customer seed set over the
    # directed trade graph — "suppliers related to THESE customers".
    # NOT windowed (same precedent as emb_binary_ivf_topk): the
    # quantized power-iteration core holds its driver pin via in-window
    # graph_pagerank; the seed-teleport delta is a literal CASE both
    # engines fold identically, strictly checked here at all SFs.
    _PPR_SEEDS = [1, 2, 3]

    def trade_ppr(s):
        edges = (
            s.table("orders")
            .join(s.table("lineitem"),
                  F.col("o_orderkey") == F.col("l_orderkey"))
            .select(F.col("o_custkey").alias("src"),
                    (F.col("l_suppkey") + F.lit(1000000)).alias("dst"))
            .distinct())
        return G.pagerank(edges, iters=4, seeds=_PPR_SEEDS)

    out["graph_ppr"] = (
        with_tables(trade_ppr),
        oracles.graph.pagerank_sql(_DIRECTED_EDGES_SQL, iters=4, seeds=_PPR_SEEDS),
    )

    # Weighted PageRank: trade volume (lineitem count per customer→
    # supplier pair) as edge weight — an edge seen 50× carries 50× the
    # rank share. NOT windowed (the graph_ppr precedent): the quantized
    # power-iteration core holds its driver pin via in-window
    # graph_pagerank; the weighted delta is a decimal-exact per-edge
    # fraction column, strictly checked here at all SFs.
    _WEIGHTED_EDGES_SQL = (
        "SELECT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst, "
        "CAST(count(*) AS BIGINT) AS w FROM orders o "
        "JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
        "GROUP BY 1, 2")

    def trade_pagerank_weighted(s):
        edges = (
            s.table("orders")
            .join(s.table("lineitem"),
                  F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy(F.col("o_custkey").alias("src"),
                     (F.col("l_suppkey") + F.lit(1000000)).alias("dst"))
            .agg(F.count("*").alias("w")))
        return G.pagerank(edges, iters=4, weight_col="w")

    out["graph_pagerank_weighted"] = (
        with_tables(trade_pagerank_weighted),
        oracles.graph.pagerank_sql(_WEIGHTED_EDGES_SQL, iters=4, weight="w"),
    )

    # k-core of the trade graph (operators/graph.py k_core): the
    # cohesive kernel — customers and suppliers that keep ≥ 10
    # trading partners after iterative peeling (a peeled node drags
    # neighbors below k, so degrees recompute per round). Converges
    # in 2 rounds here at every SF; max_rounds=4 gives headroom, and
    # converged rounds are no-ops on both engines so the unrolled
    # oracle matches wherever the early exit fires. Per round: one
    # degree agg + two broadcast semi-joins.
    def trade_kcore(s):
        edges = (
            s.table("orders")
            .join(s.table("lineitem"),
                  F.col("o_orderkey") == F.col("l_orderkey"))
            .select(F.col("o_custkey").alias("src"),
                    (F.col("l_suppkey") + F.lit(1000000)).alias("dst"))
            .distinct())
        return G.k_core(edges, k=10, max_rounds=4)

    out["graph_kcore"] = (
        with_tables(trade_kcore),
        oracles.graph.k_core_sql(_DIRECTED_EDGES_SQL, k=10, max_rounds=4),
    )

    # Triangle counting + local clustering coefficient over the part
    # CO-PURCHASE graph (parts bought together in the same urgent
    # order) — the community-density companion to the rank family
    # above; the urgent-priority slice bounds the graph at ~240k edges
    # at sf0.1 (full corpus would be ~1.2M edges / 70M wedges — a
    # cluster job, not a bench entry). Degree-oriented wedge join, so
    # integer-exact counts survive any partitioning; strict oracle.
    _COPURCHASE_EDGES_SQL = (
        "SELECT a.l_partkey AS src, b.l_partkey AS dst "
        "FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey "
        "AND a.l_partkey < b.l_partkey "
        "JOIN orders o ON a.l_orderkey = o.o_orderkey "
        "WHERE o.o_orderpriority = '1-URGENT'")

    def part_triangles(s):
        li = s.table("lineitem").select("l_orderkey", "l_partkey")
        urgent = (s.table("orders")
                  .where(F.col("o_orderpriority") == "1-URGENT")
                  .select("o_orderkey"))
        a, b = li.alias("a"), li.alias("b")
        edges = (
            a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                   & (F.col("a.l_partkey") < F.col("b.l_partkey")))
            .join(urgent, F.col("a.l_orderkey") == F.col("o_orderkey"))
            .select(F.col("a.l_partkey").alias("src"),
                    F.col("b.l_partkey").alias("dst")))
        return G.triangle_count(edges)

    out["graph_triangles"] = (
        with_tables(part_triangles),
        oracles.graph.triangle_sql(_COPURCHASE_EDGES_SQL),
    )

    # Label-propagation communities (Raghavan et al. 2007, the
    # deterministic synchronous variant — count DESC / label ASC total
    # order, so the unrolled oracle is strict) over the same urgent
    # co-purchase graph: product communities without the transitive
    # over-merge of connected components (one spurious edge merges two
    # CCs; LPA needs a neighbor majority).
    def part_lpa(s):
        li = s.table("lineitem").select("l_orderkey", "l_partkey")
        urgent = (s.table("orders")
                  .where(F.col("o_orderpriority") == "1-URGENT")
                  .select("o_orderkey"))
        a, b = li.alias("a"), li.alias("b")
        edges = (
            a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                   & (F.col("a.l_partkey") < F.col("b.l_partkey")))
            .join(urgent, F.col("a.l_orderkey") == F.col("o_orderkey"))
            .select(F.col("a.l_partkey").alias("src"),
                    F.col("b.l_partkey").alias("dst")))
        return G.label_propagation(edges, iters=3)

    out["graph_lpa"] = (
        with_tables(part_lpa),
        oracles.graph.label_propagation_sql(_COPURCHASE_EDGES_SQL, iters=3),
    )

    # BFS hop-distance from a 3-customer seed set over the directed
    # trade graph — the expansion-radius primitive ("everything within
    # 3 hops of THESE"); min-distance integers → strict by construction.
    _BFS_SEEDS = [1, 2, 3]

    def trade_bfs(s):
        edges = (
            s.table("orders")
            .join(s.table("lineitem"),
                  F.col("o_orderkey") == F.col("l_orderkey"))
            .select(F.col("o_custkey").alias("src"),
                    (F.col("l_suppkey") + F.lit(1000000)).alias("dst"))
            .distinct())
        # symmetrize so hops can alternate customer↔supplier
        both = edges.union(edges.select(F.col("dst").alias("src"),
                                        F.col("src").alias("dst")))
        return G.bfs_levels(both, _BFS_SEEDS, max_hops=3)

    _BFS_EDGES_SQL = (
        "WITH pairs AS (SELECT DISTINCT o.o_custkey AS c, "
        "l.l_suppkey + 1000000 AS s FROM orders o "
        "JOIN lineitem l ON o.o_orderkey = l.l_orderkey) "
        "SELECT c AS src, s AS dst FROM pairs "
        "UNION ALL SELECT s AS src, c AS dst FROM pairs")

    out["graph_bfs"] = (
        with_tables(trade_bfs),
        oracles.graph.bfs_levels_sql(_BFS_EDGES_SQL, _BFS_SEEDS, max_hops=3),
    )
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    register_tables(spark, "/root/testdata/sf0.001")
    user, sql, _ = _QUERIES["mixed_flagship"]
    return demo_context(spark).sql(user, sql)


# The driver's correctness gate checks queries in dict order with a finite
# budget (round 1 stopped after 50). Order the dict so the budgeted prefix
# covers every operator family: the full security layer, the relational
# queries, then one entry per pipeline-operator family — breadth first,
# near-duplicates of already-covered families last.
_CHECK_ORDER = [
    # ------------------------------------------------------------------
    # r11 ROTATION — slot budget (50 = driver budget measured in
    # round 1): 11 + 3 + 15 + 4 + 17 =
    #   11 security entries (the reference's whole surface — never
    #      rotated out),
    #    3 late-r10 entries born after the r10 window closed — the
    #      only ones without a driver row, union r01-r10 = 169/172
    #      (VERDICT-r10 task 1; after this window the ever-checked
    #      union is every pre-r11 entry),
    #   14 r11 newcomers (birth-round window, the r7 lesson):
    #      streaming_funnel_state + streaming_retention_state
    #      (task 5 — both driver-checkable streaming twins),
    #      privacy_generalize + privacy_ladder_report (task 6),
    #      basket_rules_3to1 (task 8), privacy_t_closeness (the
    #      third privacy rung, late r11), text_gopher_quality (the
    #      published Gopher A1.1 gate, late r11), graph_kcore (the
    #      iterative-peel density kernel, late r11),
    #      privacy_dp_release (seeded Laplace mechanism, late r11),
    #      streaming_dedup_state (third streaming twin, late r11 —
    #      its slot came from r7-veteran text_stats, whose word-count
    #      and ratio machinery the in-window gopher entry re-pins),
    #      text_c4_clean (published C4 line recipe, late r11 — slot
    #      from r7-veteran text_repetition, pinned by its own fuzz +
    #      goldens), text_line_dedup (within-doc boilerplate scrub,
    #      late r11 — slot from r7-veteran fuzzy_title_pairs, pinned
    #      by its own fuzz + probe), secured_dp_release (RLS → DP
    #      composition, late r11 — slot from r7-veteran emb_pq_codes,
    #      pinned by the PQ probes + pytest),
    #      streaming_interval_state (fourth streaming twin — the
    #      first stream-stream JOIN one; slot from r7-veteran
    #      zorder_orders, pytest-pinned), events_rolling_7d
    #      (calendar-window rolling stats, late r11 — slot from
    #      r7-veteran sketch_hist_quantiles, pinned by the quantile
    #      pytest + probe suite),
    #    4 re-pins for entries whose IMPLEMENTATION changed in r11:
    #      events_funnel_attempts (built-in max_attempts cap, task 2),
    #      graph_hits (L1-total fusion, task 3), basket_rules +
    #      basket_rules_2to1 (_capped_items now carries the pre-cap
    #      basket size for the truncation warning),
    #   17 stalest veterans — every r2/r4-stale entry (2+9), the 3
    #      r7-stale entries that kept slots (cdc_snapshot_diff,
    #      dedup_span_stats, emb_ann_pairs — the other 6 r7 veterans
    #      ceded theirs to late-r11 newcomers, each holding a green
    #      r7 row + pins), plus 2 family-diverse r8 veterans and
    #      multimodal_features (stalest of its family, r9 — the window
    #      contract requires every core family present, and the first
    #      r11 cut dropped all multimodal entries:
    #      test_check_order_is_prefix_and_covers_families), so window
    #      coverage keeps cycling through the corpus instead of
    #      re-checking last round's set. bpe_tokens and
    #      cdc_upsert_latest ceded their r8-veteran slots (both hold
    #      green r8 rows + pytest pins; cdc_snapshot_diff keeps CDC in
    #      the window).
    # Validated before commit with tools/driver_sim.py (50/50 hash==
    # at sf0.01) and tools/check_oracles.py --sf all. Every r10-window
    # veteran that exits holds its green r10 driver row; the full
    # r01-r10 rotation history is preserved in git
    # (36c6155:__spark_entry__.py:2721 and da14b5c:__spark_entry__.py:2508).
    # ------------------------------------------------------------------
    # security layer (the reference's whole surface):
    "rls_or_where", "rls_join_3way", "rls_subquery",
    "rls_groupby", "rls_union", "mask_show_first", "mask_default_supplier",
    "mask_join", "mask_union", "mask_custom_template",
    "mixed_flagship",
    # late-r10, first driver rows (task 1):
    "dedup_jaccard_prefix", "emb_profile_stats", "events_funnel_summary",
    # r11 newcomers (birth-round window):
    "streaming_funnel_state", "streaming_retention_state",
    "privacy_generalize", "privacy_ladder_report", "basket_rules_3to1",
    "privacy_t_closeness", "text_gopher_quality", "graph_kcore",
    "privacy_dp_release", "streaming_dedup_state", "text_c4_clean",
    "text_line_dedup", "secured_dp_release", "streaming_interval_state",
    "events_rolling_7d",
    # r11 implementation re-pins:
    "events_funnel_attempts", "graph_hits",
    "basket_rules", "basket_rules_2to1",
    # stalest veterans: last row r2
    "dedup_simhash_pairs", "text_langid",
    # last row r4
    "emb_ivf_topk", "emb_kmeans_cells", "emb_quantize_int8",
    "events_hourly_window", "profile_lineitem", "secured_clean_corpus",
    "sketch_cms_tokens", "split_hash_assign", "text_pii_redact",
    # last row r7
    "cdc_snapshot_diff", "dedup_span_stats", "emb_ann_pairs",
    # last row r8 (family-diverse two: components driver-path, exact
    # ANN; text_tfidf_terms, bpe_tokens, cdc_upsert_latest,
    # sessionize_events, retrieval_mmr_topk and sample_dsir_weights
    # ceded their r8-veteran slots to late-r11 newcomers — each holds
    # a green r8 row + pytest pins/probes) + the stalest multimodal
    # (r9, family contract)
    "dedup_components", "emb_cosine_topk", "multimodal_features",
]


def _ordered(merged: dict) -> dict:
    ordered = {n: merged[n] for n in _CHECK_ORDER if n in merged}
    ordered.update({n: v for n, v in merged.items() if n not in ordered})
    return ordered


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out = {name: _run(user, sql) for name, (user, sql, _) in _QUERIES.items()}
    out.update({name: fn for name, (fn, _) in _pipeline_queries().items()})
    return _ordered(out)


def oracle_sql() -> dict[str, str]:
    out = {name: oracle for name, (_, _, oracle) in _QUERIES.items()}
    out.update({
        name: oracle
        for name, (_, oracle) in _pipeline_queries().items()
        if oracle is not None
    })
    return _ordered(out)
