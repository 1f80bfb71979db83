"""Seeded SQL fuzz parity: randomly generated queries through the full
SecurityContext path on Spark, cross-checked value-for-value against
DuckDB on the same parquet fixtures.

The curated driver corpus pins 100+ known shapes; this suite walks a
grammar of projections / predicates / aggregates / joins (incl. 3-way
chains) / derived-table subqueries / group-bys / order-limits with deterministic seeds, so every run checks the same ~170
generated queries and a parity break in ANY of them fails loudly. All
aggregates follow the repo's engine-portable arithmetic rules (DECIMAL
sums widened to DOUBLE, BIGINT counts) — the generator is itself a test
that those rules compose.
"""

import datetime
import decimal
import math
import random

import duckdb
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"
TABLES = ("region", "nation", "customer", "orders", "lineitem")

INT_COLS = {
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey", "c_nationkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"],
    "nation": ["n_nationkey", "n_regionkey"],
    "region": ["r_regionkey"],
}
STR_COLS = {
    "orders": ["o_orderstatus", "o_orderpriority"],
    "customer": ["c_mktsegment", "c_name"],
    "lineitem": ["l_returnflag", "l_linestatus"],
    "nation": ["n_name"],
    "region": ["r_name"],
}
NUM_COLS = {  # money/quantity doubles; aggregate via DECIMAL(18,2)
    "orders": ["o_totalprice"],
    "customer": ["c_acctbal"],
    "lineitem": ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    "nation": [],
    "region": [],
}
JOINS = [
    ("orders", "customer", "o_custkey = c_custkey"),
    ("lineitem", "orders", "l_orderkey = o_orderkey"),
    ("customer", "nation", "c_nationkey = n_nationkey"),
    ("nation", "region", "n_regionkey = r_regionkey"),
]


@pytest.fixture(scope="module")
def engines(spark):
    from flink_sql_security_spark.sources import register_tables
    from flink_sql_security_spark.presets import demo_context

    register_tables(spark, SF_DIR)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")
    # seed literal pools from the actual data (deterministic)
    pools = {}
    for t in TABLES:
        pools[t] = {}
        for c in STR_COLS[t]:
            vals = [r[0] for r in con.execute(
                f"SELECT DISTINCT {c} FROM {t} ORDER BY 1 LIMIT 8").fetchall()]
            pools[t][c] = vals
        for c in INT_COLS[t] + NUM_COLS[t]:
            lo, hi = con.execute(
                f"SELECT min({c}), max({c}) FROM {t}").fetchone()
            pools[t][c] = (lo, hi)
    return demo_context(spark), con, pools


def _pred(rng, t, pools, depth=0):
    kind = rng.choice(["int_cmp", "str_eq", "num_cmp", "in", "between",
                       "and", "or", "not"] if depth < 2 else
                      ["int_cmp", "str_eq", "num_cmp", "in", "between"])
    if kind == "and" or kind == "or":
        return (f"({_pred(rng, t, pools, depth + 1)} {kind.upper()} "
                f"{_pred(rng, t, pools, depth + 1)})")
    if kind == "not":
        return f"(NOT {_pred(rng, t, pools, depth + 1)})"
    if kind == "str_eq" and STR_COLS[t]:
        c = rng.choice(STR_COLS[t])
        v = rng.choice(pools[t][c])
        return f"{c} {rng.choice(['=', '<>'])} '{v}'"
    if kind == "in" and STR_COLS[t]:
        c = rng.choice(STR_COLS[t])
        vs = rng.sample(pools[t][c], min(len(pools[t][c]), 3))
        return f"{c} IN ({', '.join(repr(v) for v in vs)})"
    if kind == "between" and INT_COLS[t]:
        c = rng.choice(INT_COLS[t])
        lo, hi = pools[t][c]
        a = rng.randint(int(lo), int(hi))
        b = rng.randint(a, int(hi))
        return f"{c} BETWEEN {a} AND {b}"
    if kind == "num_cmp" and NUM_COLS[t]:
        c = rng.choice(NUM_COLS[t])
        lo, hi = pools[t][c]
        v = round(rng.uniform(float(lo), float(hi)), 2)
        return f"{c} {rng.choice(['<', '>', '<=', '>='])} {v}"
    c = rng.choice(INT_COLS[t])
    lo, hi = pools[t][c]
    v = rng.randint(int(lo), int(hi))
    return f"{c} {rng.choice(['<', '>', '=', '<=', '>='])} {v}"


def _aggs(rng, t):
    out = ["count(*) AS cnt"]
    if NUM_COLS[t] and rng.random() < 0.8:
        c = rng.choice(NUM_COLS[t])
        out.append(f"CAST(sum(CAST({c} AS DECIMAL(18,2))) AS DOUBLE) "
                   f"AS sum_{c}")
    if INT_COLS[t] and rng.random() < 0.5:
        c = rng.choice(INT_COLS[t])
        out.append(f"min({c}) AS min_{c}")
        out.append(f"max({c}) AS max_{c}")
    return out


def gen_query(rng):
    shape = rng.random()
    if shape < 0.12:  # LEFT JOIN (null-extension parity)
        t1, t2, on = rng.choice(JOINS)
        cols = (rng.sample(INT_COLS[t1] + STR_COLS[t1], 2)
                + rng.sample(INT_COLS[t2] + STR_COLS[t2], 1))
        # filter only the LEFT side: a right-side predicate on a LEFT
        # JOIN is the classic user footgun, out of scope here
        where = f" WHERE {_pred(rng, t1, GEN_POOLS)}" if rng.random() < 0.7 else ""
        return (f"SELECT {', '.join(cols)} FROM {t1} "
                f"LEFT JOIN {t2} ON {on}{where}")
    if shape < 0.2:  # correlated EXISTS / NOT EXISTS semi/anti shape
        t1, t2, on = rng.choice(JOINS)
        cols = rng.sample(INT_COLS[t1] + STR_COLS[t1], 2)
        neg = "NOT " if rng.random() < 0.5 else ""
        inner = f" AND {_pred(rng, t2, GEN_POOLS)}" if rng.random() < 0.5 else ""
        return (f"SELECT {', '.join(cols)} FROM {t1} WHERE {neg}EXISTS "
                f"(SELECT 1 FROM {t2} WHERE {on}{inner})")
    if shape < 0.27:  # derived-table FROM (exercises A6 subquery recursion)
        t = rng.choice(TABLES)
        inner_cols = rng.sample(INT_COLS[t] + STR_COLS[t],
                                rng.randint(2, min(4, len(INT_COLS[t]
                                                          + STR_COLS[t]))))
        inner_where = (f" WHERE {_pred(rng, t, GEN_POOLS)}"
                       if rng.random() < 0.6 else "")
        outer_cols = rng.sample(inner_cols, rng.randint(1, len(inner_cols)))
        outer_ints = [c for c in inner_cols if c in INT_COLS[t]]
        outer_where = ""
        if outer_ints and rng.random() < 0.5:
            c = rng.choice(outer_ints)
            lo, hi = GEN_POOLS[t][c]
            outer_where = f" WHERE {c} >= {rng.randint(int(lo), int(hi))}"
        return (f"SELECT {', '.join(outer_cols)} FROM "
                f"(SELECT {', '.join(inner_cols)} FROM {t}{inner_where}) "
                f"_dt{outer_where}")
    if shape < 0.34:  # 3-way join chain (exercises A5 join recursion)
        chain = rng.choice([
            (("lineitem", "orders", "l_orderkey = o_orderkey"),
             ("orders", "customer", "o_custkey = c_custkey")),
            (("customer", "nation", "c_nationkey = n_nationkey"),
             ("nation", "region", "n_regionkey = r_regionkey")),
        ])
        (t1, t2, on1), (_, t3, on2) = chain
        cols = (rng.sample(INT_COLS[t1] + STR_COLS[t1], 1)
                + rng.sample(INT_COLS[t2] + STR_COLS[t2], 1)
                + rng.sample(INT_COLS[t3] + STR_COLS[t3], 1))
        where = (f" WHERE {_pred(rng, t1, GEN_POOLS)}"
                 if rng.random() < 0.6 else "")
        return (f"SELECT {', '.join(cols)} FROM {t1} "
                f"JOIN {t2} ON {on1} JOIN {t3} ON {on2}{where}")
    if shape < 0.4:  # inner join shape
        t1, t2, on = rng.choice(JOINS)
        cols = (rng.sample(INT_COLS[t1] + STR_COLS[t1], 2)
                + rng.sample(INT_COLS[t2] + STR_COLS[t2], 1))
        where = f" WHERE {_pred(rng, t1, GEN_POOLS)}" if rng.random() < 0.7 else ""
        return (f"SELECT {', '.join(cols)} FROM {t1} "
                f"JOIN {t2} ON {on}{where}")
    if shape < 0.46:  # set operation: both branches get their own filter
        t = rng.choice(TABLES)
        cols = rng.sample(INT_COLS[t] + STR_COLS[t],
                          rng.randint(1, min(3, len(INT_COLS[t]
                                                    + STR_COLS[t]))))
        op = rng.choice(["UNION ALL", "UNION"])
        sel = ", ".join(cols)
        w1 = f" WHERE {_pred(rng, t, GEN_POOLS)}"
        w2 = f" WHERE {_pred(rng, t, GEN_POOLS)}"
        return f"SELECT {sel} FROM {t}{w1} {op} SELECT {sel} FROM {t}{w2}"
    if shape < 0.51:  # IN (subquery) semi shape
        t1, t2, on = rng.choice(JOINS)
        lcol, rcol = [s.strip() for s in on.split("=")]
        cols = rng.sample(INT_COLS[t1] + STR_COLS[t1], 2)
        inner = (f" WHERE {_pred(rng, t2, GEN_POOLS)}"
                 if rng.random() < 0.6 else "")
        neg = "NOT " if rng.random() < 0.3 else ""
        return (f"SELECT {', '.join(cols)} FROM {t1} WHERE {lcol} {neg}IN "
                f"(SELECT {rcol} FROM {t2}{inner})")
    if shape < 0.56:  # CASE projection (full parse/qualify/print round-trip)
        t = rng.choice(TABLES)
        key = rng.choice(INT_COLS[t])
        cols = rng.sample(INT_COLS[t] + STR_COLS[t], 2)
        where = (f" WHERE {_pred(rng, t, GEN_POOLS)}"
                 if rng.random() < 0.6 else "")
        return (f"SELECT {', '.join(cols)}, CASE WHEN "
                f"{_pred(rng, t, GEN_POOLS)} THEN 'hi' "
                f"WHEN {key} IS NULL THEN 'na' ELSE 'lo' END AS band "
                f"FROM {t}{where}")
    t = rng.choice(TABLES)
    if rng.random() < 0.5 and STR_COLS[t]:  # grouped aggregate
        g = rng.sample(STR_COLS[t], rng.randint(1, min(2, len(STR_COLS[t]))))
        where = f" WHERE {_pred(rng, t, GEN_POOLS)}" if rng.random() < 0.6 else ""
        having = " HAVING count(*) > 1" if rng.random() < 0.3 else ""
        return (f"SELECT {', '.join(g)}, {', '.join(_aggs(rng, t))} "
                f"FROM {t}{where} GROUP BY {', '.join(g)}{having}")
    cols = rng.sample(INT_COLS[t] + STR_COLS[t],
                      rng.randint(1, min(4, len(INT_COLS[t] + STR_COLS[t]))))
    where = f" WHERE {_pred(rng, t, GEN_POOLS)}" if rng.random() < 0.8 else ""
    order = ""
    if rng.random() < 0.4 and INT_COLS[t]:
        keys = ", ".join(cols)
        order = f" ORDER BY {keys} LIMIT {rng.randint(5, 50)}"
    return f"SELECT {', '.join(cols)} FROM {t}{where}{order}"


GEN_POOLS = None  # bound in the fixture-driven test


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return ("null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        return ("f", repr(v))
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v))
    if isinstance(v, datetime.datetime):
        return ("ts", str(v))
    if isinstance(v, datetime.date):
        return ("d", v.isoformat())
    return ("s", str(v))


@pytest.mark.parametrize("seed", range(10))
def test_fuzz_parity(engines, seed):
    global GEN_POOLS
    ctx, con, pools = engines
    GEN_POOLS = pools
    rng = random.Random(1000 + seed)
    for i in range(10):
        sql = gen_query(rng)
        got = sorted(
            tuple(_norm(v) for v in row)
            for row in ctx.sql("user_nobody", sql).collect())
        want = sorted(
            tuple(_norm(v) for v in row)
            for row in con.execute(sql).fetchall())
        # ORDER BY ... LIMIT n: both engines sort on ALL projected columns
        # (deterministic total order), so sorted row sets still compare
        assert got == want, f"seed={seed} i={i} sql={sql}"


def _inject(sql: str, cond: str) -> str:
    """Independent reference injection: AND the condition into the WHERE
    (before grouping), parenthesizing both sides — the semantics the
    rewriter must reproduce, built WITHOUT the rewriter. Set operations
    inject into EVERY branch (the rewriter visits each SetOp side)."""
    for op in (" UNION ALL ", " UNION ", " INTERSECT ", " EXCEPT "):
        if op in sql:
            return op.join(_inject(part, cond) for part in sql.split(op))
    if " WHERE " in sql:
        head, rest = sql.split(" WHERE ", 1)
        # close the parenthesized original predicate before any trailing
        # GROUP BY / ORDER BY clause
        cut = len(rest)
        for kw in (" GROUP BY", " ORDER BY"):
            if kw in rest:
                cut = min(cut, rest.index(kw))
        return (f"{head} WHERE ({cond}) AND ({rest[:cut]}){rest[cut:]}")
    for kw in (" GROUP BY", " ORDER BY"):
        if kw in sql:
            return sql.replace(kw, f" WHERE {cond}{kw}", 1)
    return f"{sql} WHERE {cond}"


@pytest.mark.parametrize("seed", range(6))
def test_fuzz_security_rewrite_parity(spark, engines, seed):
    """Fuzz the ROW-FILTER REWRITER: random single-table queries under a
    random policy condition must equal the manually injected oracle."""
    from flink_sql_security_spark import (
        PolicyManager, RowFilterPolicy, SecurityContext,
    )

    global GEN_POOLS
    _, con, pools = engines
    GEN_POOLS = pools
    rng = random.Random(9000 + seed)
    for i in range(8):
        t = rng.choice(TABLES)
        # single-table query (grouped or plain) over t
        while True:
            sql = gen_query(rng)
            # single-table shapes only (incl. set ops over t); IN-subquery
            # is excluded: a policy on the INNER table is A6 semantics
            # with its own dedicated family
            if (sql.startswith(f"SELECT") and f"FROM {t}" in sql
                    and " JOIN " not in sql and "EXISTS" not in sql
                    and "FROM (" not in sql and "IN (SELECT" not in sql):
                break
        policy_cond = _pred(rng, t, pools)
        ctx = SecurityContext(spark, PolicyManager())
        ctx.add_policy(RowFilterPolicy("fuzzer", t, policy_cond))
        got = sorted(
            tuple(_norm(v) for v in row)
            for row in ctx.sql("fuzzer", sql).collect())
        want = sorted(
            tuple(_norm(v) for v in row)
            for row in con.execute(_inject(sql, policy_cond)).fetchall())
        assert got == want, (
            f"seed={seed} i={i} cond={policy_cond} sql={sql}")


ALL_COLS = {t: INT_COLS[t] + STR_COLS[t] + NUM_COLS[t] for t in TABLES}
# add the non-generated passthrough columns so the mask wrap re-emits
# complete tables (schema order from the parquet fixtures)
FULL_COLS = {
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "region": ["r_regionkey", "r_name"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"],
}


@pytest.mark.parametrize("seed", range(6))
def test_fuzz_mask_rewrite_parity(spark, engines, seed):
    """Fuzz the DATA-MASK REWRITER: random single-table queries with a
    random masked string column must equal DuckDB over a manually built
    masked-subquery wrap (independent of the rewriter)."""
    from flink_sql_security_spark import (
        DataMaskPolicy, PolicyManager, SecurityContext,
    )
    from flink_sql_security_spark.functions import masks as MK

    duck_mask = {
        "MASK": lambda c: MK.duckdb_mask_sql(c),
        "MASK_SHOW_FIRST_4": lambda c: MK.duckdb_mask_show_first_n_sql(c),
        "MASK_SHOW_LAST_4": lambda c: MK.duckdb_mask_show_last_n_sql(c),
        "MASK_HASH": lambda c: MK.duckdb_mask_hash_sql(c),
        "MASK_NULL": lambda c: "CAST(NULL AS VARCHAR)",
        "MASK_NONE": lambda c: c,
    }

    global GEN_POOLS
    _, con, pools = engines
    GEN_POOLS = pools
    rng = random.Random(7000 + seed)
    for i in range(8):
        t = rng.choice(TABLES)
        while True:
            sql = gen_query(rng)
            if (sql.startswith(f"SELECT") and f"FROM {t}" in sql
                    and " JOIN " not in sql and "EXISTS" not in sql
                    and "FROM (" not in sql and "IN (SELECT" not in sql):
                break
        col = rng.choice(STR_COLS[t])
        mtype = rng.choice(sorted(duck_mask))
        ctx = SecurityContext(spark, PolicyManager())
        ctx.add_policy(DataMaskPolicy("fuzzer", t, col, mtype))
        inner = ", ".join(
            f"{duck_mask[mtype](c)} AS {c}" if c == col else c
            for c in FULL_COLS[t])
        # replace EVERY occurrence: set-operation branches each read the
        # table and the rewriter wraps each one
        wrapped = sql.replace(f"FROM {t}",
                              f"FROM (SELECT {inner} FROM {t}) {t}")
        got = sorted(
            tuple(_norm(v) for v in row)
            for row in ctx.sql("fuzzer", sql).collect())
        want = sorted(
            tuple(_norm(v) for v in row)
            for row in con.execute(wrapped).fetchall())
        assert got == want, (
            f"seed={seed} i={i} mask={mtype} col={col} sql={sql}")


@pytest.mark.parametrize("seed", range(4))
def test_fuzz_rls_inside_derived_table(spark, engines, seed):
    """Fuzz A6 (subquery skip): for SELECT ... FROM (SELECT ... FROM t
    [WHERE p]) _dt, the row filter must land INSIDE the derived table.
    The oracle injects it there manually, independent of the rewriter."""
    from flink_sql_security_spark import (
        PolicyManager, RowFilterPolicy, SecurityContext,
    )

    global GEN_POOLS
    _, con, pools = engines
    GEN_POOLS = pools
    rng = random.Random(5000 + seed)
    for i in range(8):
        t = rng.choice(TABLES)
        inner_cols = rng.sample(INT_COLS[t] + STR_COLS[t],
                                rng.randint(2, min(4, len(INT_COLS[t]
                                                          + STR_COLS[t]))))
        inner_where = (f" WHERE {_pred(rng, t, pools)}"
                       if rng.random() < 0.6 else "")
        outer_cols = rng.sample(inner_cols, rng.randint(1, len(inner_cols)))
        sql = (f"SELECT {', '.join(outer_cols)} FROM "
               f"(SELECT {', '.join(inner_cols)} FROM {t}{inner_where}) _dt")
        cond = _pred(rng, t, pools)
        ctx = SecurityContext(spark, PolicyManager())
        ctx.add_policy(RowFilterPolicy("fuzzer", t, cond))
        inner = f"SELECT {', '.join(inner_cols)} FROM {t}{inner_where}"
        oracle = (f"SELECT {', '.join(outer_cols)} FROM "
                  f"({_inject(inner, cond)}) _dt")
        got = sorted(
            tuple(_norm(v) for v in row)
            for row in ctx.sql("fuzzer", sql).collect())
        want = sorted(
            tuple(_norm(v) for v in row)
            for row in con.execute(oracle).fetchall())
        assert got == want, f"seed={seed} i={i} cond={cond} sql={sql}"


@pytest.mark.parametrize("seed", range(4))
def test_fuzz_rls_join_both_sides(spark, engines, seed):
    """Fuzz A5 (join recursion): with policies on BOTH sides of an inner
    join, every table's filter lands in the one top-level WHERE. The
    oracle ANDs both conditions in manually."""
    from flink_sql_security_spark import (
        PolicyManager, RowFilterPolicy, SecurityContext,
    )

    global GEN_POOLS
    _, con, pools = engines
    GEN_POOLS = pools
    rng = random.Random(6000 + seed)
    for i in range(8):
        t1, t2, on = rng.choice(JOINS)
        cols = (rng.sample(INT_COLS[t1] + STR_COLS[t1], 2)
                + rng.sample(INT_COLS[t2] + STR_COLS[t2], 1))
        where = (f" WHERE {_pred(rng, t1, pools)}"
                 if rng.random() < 0.5 else "")
        sql = f"SELECT {', '.join(cols)} FROM {t1} JOIN {t2} ON {on}{where}"
        c1, c2 = _pred(rng, t1, pools), _pred(rng, t2, pools)
        ctx = SecurityContext(spark, PolicyManager())
        ctx.add_policy(RowFilterPolicy("fuzzer", t1, c1))
        ctx.add_policy(RowFilterPolicy("fuzzer", t2, c2))
        oracle = _inject(_inject(sql, c2), c1)
        got = sorted(
            tuple(_norm(v) for v in row)
            for row in ctx.sql("fuzzer", sql).collect())
        want = sorted(
            tuple(_norm(v) for v in row)
            for row in con.execute(oracle).fetchall())
        assert got == want, f"seed={seed} i={i} c1={c1} c2={c2} sql={sql}"


@pytest.mark.parametrize("seed", range(4))
def test_fuzz_mask_inside_derived_table(spark, engines, seed):
    """Fuzz the MASK rewriter through a derived table: the masked-subquery
    wrap must land on the base-table ref INSIDE the derived table. The
    oracle substitutes the wrap there manually."""
    from flink_sql_security_spark import (
        DataMaskPolicy, PolicyManager, SecurityContext,
    )
    from flink_sql_security_spark.functions import masks as MK

    duck_mask = {
        "MASK": lambda c: MK.duckdb_mask_sql(c),
        "MASK_SHOW_FIRST_4": lambda c: MK.duckdb_mask_show_first_n_sql(c),
        "MASK_HASH": lambda c: MK.duckdb_mask_hash_sql(c),
        "MASK_NULL": lambda c: "CAST(NULL AS VARCHAR)",
    }

    global GEN_POOLS
    _, con, pools = engines
    GEN_POOLS = pools
    rng = random.Random(8000 + seed)
    for i in range(8):
        t = rng.choice(TABLES)
        inner_cols = rng.sample(INT_COLS[t] + STR_COLS[t],
                                rng.randint(2, min(4, len(INT_COLS[t]
                                                          + STR_COLS[t]))))
        inner_where = (f" WHERE {_pred(rng, t, pools)}"
                       if rng.random() < 0.6 else "")
        outer_cols = rng.sample(inner_cols, rng.randint(1, len(inner_cols)))
        sql = (f"SELECT {', '.join(outer_cols)} FROM "
               f"(SELECT {', '.join(inner_cols)} FROM {t}{inner_where}) _dt")
        col = rng.choice(STR_COLS[t])
        mtype = rng.choice(sorted(duck_mask))
        ctx = SecurityContext(spark, PolicyManager())
        ctx.add_policy(DataMaskPolicy("fuzzer", t, col, mtype))
        wrap = ", ".join(
            f"{duck_mask[mtype](c)} AS {c}" if c == col else c
            for c in FULL_COLS[t])
        oracle = sql.replace(f"FROM {t}",
                             f"FROM (SELECT {wrap} FROM {t}) {t}", 1)
        got = sorted(
            tuple(_norm(v) for v in row)
            for row in ctx.sql("fuzzer", sql).collect())
        want = sorted(
            tuple(_norm(v) for v in row)
            for row in con.execute(oracle).fetchall())
        assert got == want, (
            f"seed={seed} i={i} mask={mtype} col={col} sql={sql}")


@pytest.mark.parametrize("seed", range(4))
def test_fuzz_mixed_filter_then_mask(spark, engines, seed):
    """Fuzz A10 (mixed ordering): a row filter AND a mask on the SAME
    table compose as filter-first-then-mask (SecurityContext.java:154-167)
    — the mask subquery replaces the table ref, so the injected WHERE
    evaluates over the MASKED columns (load-bearing when the policy
    condition touches the masked column). Oracle: wrap the table with the
    mask subquery in every branch, then inject the condition into the
    outer WHERE — built without the rewriter."""
    from flink_sql_security_spark import (
        DataMaskPolicy, PolicyManager, RowFilterPolicy, SecurityContext,
    )
    from flink_sql_security_spark.functions import masks as MK

    duck_mask = {
        "MASK": lambda c: MK.duckdb_mask_sql(c),
        "MASK_SHOW_FIRST_4": lambda c: MK.duckdb_mask_show_first_n_sql(c),
        "MASK_HASH": lambda c: MK.duckdb_mask_hash_sql(c),
        "MASK_NULL": lambda c: "CAST(NULL AS VARCHAR)",
        "MASK_NONE": lambda c: c,
    }

    global GEN_POOLS
    _, con, pools = engines
    GEN_POOLS = pools
    rng = random.Random(11000 + seed)
    for i in range(8):
        t = rng.choice(TABLES)
        while True:
            sql = gen_query(rng)
            if (sql.startswith("SELECT") and f"FROM {t}" in sql
                    and " JOIN " not in sql and "EXISTS" not in sql
                    and "FROM (" not in sql and "IN (SELECT" not in sql):
                break
        col = rng.choice(STR_COLS[t])
        mtype = rng.choice(sorted(duck_mask))
        cond = _pred(rng, t, pools)
        ctx = SecurityContext(spark, PolicyManager())
        ctx.add_policy(RowFilterPolicy("fuzzer", t, cond))
        ctx.add_policy(DataMaskPolicy("fuzzer", t, col, mtype))
        wrap = ", ".join(
            f"{duck_mask[mtype](c)} AS {c}" if c == col else c
            for c in FULL_COLS[t])
        oracle = _inject(sql, cond).replace(
            f"FROM {t}", f"FROM (SELECT {wrap} FROM {t}) {t}")
        got = sorted(
            tuple(_norm(v) for v in row)
            for row in ctx.sql("fuzzer", sql).collect())
        want = sorted(
            tuple(_norm(v) for v in row)
            for row in con.execute(oracle).fetchall())
        assert got == want, (
            f"seed={seed} i={i} mask={mtype} col={col} cond={cond} sql={sql}")


# -- one enforcement path: SQL ≡ DataFrame ≡ stream ---------------------------

PARITY_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings")
USER_MASKED_FILTER = "user_masked_filter"  # filters on the column it masks
USER_SUBQUERY = "user_subquery"  # condition with a subquery of its own


@pytest.fixture(scope="module")
def parity_ctx(spark, tmp_path_factory):
    """The demo preset plus two users that pin the order and the scope of
    enforcement: a row filter on a masked column (it must compare the
    masked values, so nothing passes) and a condition whose subquery
    names the filtered column (only the one allowed order passes)."""
    from flink_sql_security_spark import DataMaskPolicy, RowFilterPolicy
    from flink_sql_security_spark import presets
    from flink_sql_security_spark.sources import register_tables

    register_tables(spark, SF_DIR)
    ctx = presets.demo_context(spark)
    name = spark.table("customer").orderBy("c_custkey").first()["c_name"]
    ctx.add_policy(RowFilterPolicy(USER_MASKED_FILTER, "customer",
                                   f"c_name = '{name}'"))
    ctx.add_policy(DataMaskPolicy(USER_MASKED_FILTER, "customer", "c_name",
                                  "MASK"))
    spark.sql("SELECT min(o_orderkey) AS o_orderkey FROM orders"
              ).createOrReplaceTempView("allowed_orders")
    ctx.add_policy(RowFilterPolicy(
        USER_SUBQUERY, "orders",
        "o_orderkey IN (SELECT o_orderkey FROM allowed_orders)"))
    users = sorted(v for k, v in vars(presets).items()
                   if k.startswith("USER_"))
    return ctx, users + [USER_MASKED_FILTER, USER_SUBQUERY], \
        tmp_path_factory.mktemp("parity_streams")


def _rows(rows) -> list:
    return sorted(tuple(_norm(v) for v in r) for r in rows)


@pytest.mark.parametrize("table", PARITY_TABLES)
def test_sql_dataframe_stream_parity(spark, parity_ctx, table):
    """Every preset user reads the same rows of ``table`` through
    ``ctx.sql``, ``ctx.table`` and ``secure_stream`` over a file stream of
    the table: the three APIs share one enforcement path."""
    from flink_sql_security_spark.sources import register_tables
    from flink_sql_security_spark.streaming import (
        fetch_stream_rows, secure_stream,
    )

    ctx, users, stream_root = parity_ctx
    register_tables(spark, SF_DIR)
    path = str(stream_root / table)
    spark.table(table).write.parquet(path)
    stream = spark.readStream.schema(spark.table(table).schema).parquet(path)
    # one streaming query per table: every user's secured stream, tagged
    tagged = None
    for u in users:
        s = secure_stream(ctx, u, stream, table).withColumn("_user", F.lit(u))
        tagged = s if tagged is None else tagged.unionByName(s)
    streamed: dict[str, list] = {u: [] for u in users}
    for r in fetch_stream_rows(tagged, size=1 << 30, timeout_sec=120):
        streamed[r["_user"]].append(tuple(r)[:-1])
    for u in users:
        via_sql = ctx.sql(u, f"SELECT * FROM {table}")
        via_df = ctx.table(u, table)
        assert via_sql.dtypes == via_df.dtypes, (u, table)
        got = _rows(via_sql.collect())
        assert got == _rows(via_df.collect()), (u, table, "DataFrame")
        assert got == _rows(streamed[u]), (u, table, "stream")
        if u == USER_MASKED_FILTER and table == "customer":
            assert got == []
        if u == USER_SUBQUERY and table == "orders":
            assert len(got) == 1
