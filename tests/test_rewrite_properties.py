"""Property tests for the rewrite pipeline.

1. Identity property: for a user with NO policies, parse→qualify→print must
   preserve semantics exactly — rewritten SQL returns the same rows as the
   original through plain spark.sql, across the whole query-shape corpus.
2. Round-trip stability under hypothesis-generated expression fuzz.
"""

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from flink_sql_security_spark import PolicyManager, SecurityContext
from flink_sql_security_spark.plans import (
    Alias, parse_expression, parse_statement,
)

IDENTITY_CORPUS = [
    "SELECT order_id, customer_name FROM orders",
    "SELECT * FROM orders WHERE price > 20 AND region = 'beijing'",
    "SELECT o.region, count(*) AS cnt, sum(price) AS total FROM orders o "
    "GROUP BY o.region HAVING count(*) > 1 ORDER BY cnt DESC, o.region LIMIT 3",
    "SELECT o.order_id, p.name FROM orders o LEFT JOIN products p "
    "ON o.product_id = p.id WHERE p.name IS NOT NULL",
    "SELECT t.region, t.n FROM (SELECT region, count(*) AS n FROM orders "
    "GROUP BY region) t WHERE t.n > 1",
    "SELECT region FROM orders UNION SELECT origin AS region FROM shipments",
    "SELECT customer_name FROM orders WHERE product_id IN "
    "(SELECT id FROM products WHERE name = 'hammer')",
    "SELECT customer_name FROM orders o WHERE EXISTS "
    "(SELECT 1 AS x FROM shipments s WHERE s.order_id = o.order_id)",
    "WITH big AS (SELECT * FROM orders WHERE price > 40) "
    "SELECT customer_name, price FROM big",
    "SELECT order_id, row_number() OVER (PARTITION BY region "
    "ORDER BY price DESC) AS rn FROM orders",
    "SELECT CASE WHEN price > 50 THEN 'high' ELSE 'low' END AS bucket, "
    "count(*) AS cnt FROM orders GROUP BY "
    "CASE WHEN price > 50 THEN 'high' ELSE 'low' END",
    "SELECT upper(customer_name) AS cn, length(customer_name) AS l, "
    "price * 2 AS p2, CAST(price AS INT) AS pi FROM orders "
    "WHERE customer_name LIKE 'J%' OR customer_name RLIKE '^Ed'",
    "SELECT order_id FROM orders WHERE price BETWEEN 20 AND 60 "
    "AND region NOT IN ('shanghai') AND order_status = FALSE",
    "SELECT r, n FROM (SELECT region AS r, count(DISTINCT customer_name) AS n "
    "FROM orders GROUP BY region) x ORDER BY n DESC, r",
    "SELECT region FROM orders INTERSECT SELECT origin AS region FROM shipments",
    "SELECT region FROM orders EXCEPT SELECT destination AS region FROM shipments",
    "SELECT region, order_status, count(*) AS cnt FROM orders "
    "GROUP BY CUBE(region, order_status)",
    "SELECT o.order_id, o.price FROM orders AS o WHERE o.price = "
    "(SELECT max(o2.price) FROM orders AS o2 WHERE o2.region = o.region)",
    "SELECT order_id, get_json_object('{\"k\": 1}', '$.k') AS k FROM orders",
]


@pytest.fixture()
def ctx(demo_tables):
    return SecurityContext(demo_tables, PolicyManager())


@pytest.mark.parametrize("sql", IDENTITY_CORPUS)
def test_rewrite_identity_no_policies(ctx, sql):
    spark = ctx.spark
    original = {tuple(r) for r in spark.sql(sql).collect()}
    rewritten_sql = ctx.mixed_rewrite("nobody", sql)
    rewritten = {tuple(r) for r in spark.sql(rewritten_sql).collect()}
    assert rewritten == original


# -- hypothesis fuzz: printer/parser round-trip stability ------------------

_ident = st.sampled_from(["a", "b", "col1", "x_y", "t1"])
_lit = st.one_of(
    st.integers(min_value=0, max_value=10 ** 6).map(str),
    st.sampled_from(["'s'", "'it''s'", "TRUE", "FALSE", "NULL", "1.5", "0.25"]),
)
_cmp = st.sampled_from(["=", "<>", "<", "<=", ">", ">="])


@st.composite
def _predicate(draw, depth=0):
    if depth >= 3 or draw(st.booleans()):
        left = draw(_ident)
        op = draw(_cmp)
        right = draw(_lit)
        return f"{left} {op} {right}"
    kind = draw(st.sampled_from(["and", "or", "not", "paren", "in", "between"]))
    if kind == "and":
        return f"{draw(_predicate(depth + 1))} AND {draw(_predicate(depth + 1))}"
    if kind == "or":
        return f"{draw(_predicate(depth + 1))} OR {draw(_predicate(depth + 1))}"
    if kind == "not":
        return f"NOT {draw(_predicate(depth + 1))}"
    if kind == "paren":
        return f"({draw(_predicate(depth + 1))})"
    if kind == "in":
        items = ", ".join(draw(st.lists(_lit, min_size=1, max_size=3)))
        return f"{draw(_ident)} IN ({items})"
    return f"{draw(_ident)} BETWEEN 1 AND 10"


@given(_predicate())
@settings(max_examples=200, deadline=None)
def test_expression_round_trip_stable(pred):
    once = parse_expression(pred).sql()
    twice = parse_expression(once).sql()
    assert once == twice


@given(_predicate(), _predicate())
@settings(max_examples=100, deadline=None)
def test_and_composition_preserves_structure(old, injected):
    """The A9 invariant under fuzz: AND-composition parses back to a
    conjunction whose right side is the injected condition."""
    from flink_sql_security_spark.plans import BinaryOp, and_

    combined = and_(parse_expression(old), parse_expression(injected))
    reparsed = parse_expression(combined.sql())
    assert isinstance(reparsed, BinaryOp) and reparsed.op.upper() == "AND"
    assert reparsed.right.sql() == parse_expression(injected).sql() or \
        combined.sql().endswith(parse_expression(injected).sql())


@given(st.sampled_from(IDENTITY_CORPUS))
@settings(max_examples=50, deadline=None)
def test_statement_round_trip_stable(sql):
    once = parse_statement(sql).sql()
    twice = parse_statement(once).sql()
    assert once == twice


def _policy_ctx(ctx):
    from flink_sql_security_spark import DataMaskPolicy, RowFilterPolicy

    ctx.add_policy(RowFilterPolicy(
        "u", "orders", "region = 'beijing' AND price > 10 OR order_id IN "
        "(SELECT order_id FROM shipments WHERE is_arrived)"))
    ctx.add_policy(DataMaskPolicy("u", "orders", "customer_name",
                                  "MASK_SHOW_FIRST_4"))
    ctx.add_policy(DataMaskPolicy("u", "orders", "region", "CUSTOM",
                                  custom_transformer="concat({col}, '!')"))
    return ctx


_SECURED_SQL = ("SELECT o.order_id, o.customer_name, o.region FROM orders o "
                "JOIN orders p ON o.order_id = p.order_id")


def _objects(node):
    """Every node of ``node`` and every list or tuple a node holds."""
    out, todo = [], [node]
    while todo:
        v = todo.pop()
        out.append(v)
        if hasattr(v, "__dict__"):
            todo.extend(x for x in vars(v).values()
                        if isinstance(x, (list, tuple)) or hasattr(x, "sql"))
        elif isinstance(v, (list, tuple)):
            todo.extend(x for x in v
                        if isinstance(x, (list, tuple)) or hasattr(x, "sql"))
    return out


def test_rewrites_share_no_ast_node(ctx):
    """Compiled policy ASTs are copied into each rewrite: two rewrites of
    one query share no node or list, and mutating the first changes
    neither the second nor a later rewrite."""
    from flink_sql_security_spark.plans import Identifier, Literal

    ctx = _policy_ctx(ctx)
    first = ctx._secure("u", ctx._parse_and_qualify(_SECURED_SQL))
    second = ctx._secure("u", ctx._parse_and_qualify(_SECURED_SQL))
    printed = second.sql()
    assert first.sql() == printed
    assert "price > 10" in printed and "concat(" in printed
    assert not {id(o) for o in _objects(first)} & {
        id(o) for o in _objects(second)}
    for o in _objects(first):
        if isinstance(o, Identifier):
            o.parts.append("mutated")
        elif isinstance(o, Literal):
            o.value = "mutated"
    assert first.sql() != printed
    assert second.sql() == printed
    assert ctx.mixed_rewrite("u", _SECURED_SQL) == printed


def test_repeated_rewrite_parses_no_policy_text(ctx, monkeypatch):
    """A policy condition or mask template is parsed on its first use by a
    policy manager only; a fresh manager parses it again."""
    from flink_sql_security_spark.operators import row_filter
    from flink_sql_security_spark.plans import parser

    ctx = _policy_ctx(ctx)
    want = ctx.mixed_rewrite("u", _SECURED_SQL)
    parsed = []
    original = parser.parse_expression

    def counting(sql):
        parsed.append(sql)
        return original(sql)

    monkeypatch.setattr(parser, "parse_expression", counting)
    monkeypatch.setattr(row_filter, "parse_expression", counting)
    assert ctx.mixed_rewrite("u", _SECURED_SQL) == want
    assert ctx.mixed_rewrite("u", _SECURED_SQL) == want
    assert parsed == []

    fresh = _policy_ctx(SecurityContext(ctx.spark, PolicyManager()))
    assert fresh.mixed_rewrite("u", _SECURED_SQL) == want
    assert len(parsed) == 3  # one condition, two (template, column) pairs


def _cte_ctx(ctx):
    from flink_sql_security_spark import DataMaskPolicy, RowFilterPolicy

    ctx.add_policy(RowFilterPolicy("u", "orders", "region = 'beijing'"))
    ctx.add_policy(DataMaskPolicy("u", "orders", "customer_name", "CUSTOM",
                                  custom_transformer="concat({col}, '!')"))
    return ctx


_BEIJING_MASKED = [(10001, "Jack!"), (10002, "Sally!")]


_CTE_CASES = [
    # a CTE that shadows a table is not the table: no policy applies
    ("WITH orders AS (SELECT 9 AS order_id, 'Zed' AS customer_name, "
     "'moon' AS region) SELECT * FROM orders", [(9, "Zed", "moon")]),
    ("WITH x AS (SELECT * FROM orders) SELECT order_id, customer_name FROM x",
     _BEIJING_MASKED),
    ("WITH orders AS (SELECT * FROM orders) "
     "SELECT order_id, customer_name FROM orders", _BEIJING_MASKED),
    # the CTE name must not leak into the sibling operand and open it up
    ("(WITH orders AS (SELECT 9 AS order_id, 'Zed' AS customer_name) "
     "SELECT order_id, customer_name FROM orders) "
     "UNION ALL SELECT order_id, customer_name FROM orders",
     [(9, "Zed")] + _BEIJING_MASKED),
]


def test_policies_apply_to_base_tables_not_ctes(ctx):
    ctx = _cte_ctx(ctx)
    got = [sorted(tuple(r) for r in ctx.sql("u", sql).collect())
           for sql, _ in _CTE_CASES]
    assert got == [want for _, want in _CTE_CASES]


_SET_OP_CASES = [
    "(SELECT 1 AS a UNION SELECT 2) INTERSECT SELECT 3",
    "SELECT 1 AS a EXCEPT (SELECT 1 UNION SELECT 2)",
    "SELECT 1 AS a UNION SELECT 2 INTERSECT SELECT 2",
    "(SELECT order_id FROM orders ORDER BY order_id LIMIT 1) "
    "UNION ALL SELECT order_id FROM orders WHERE order_id = 10006",
    "(WITH orders AS (SELECT 1 AS order_id) SELECT order_id FROM orders) "
    "UNION ALL SELECT order_id FROM orders WHERE order_id = 10006",
    "SELECT order_id FROM orders UNION SELECT order_id FROM orders "
    "ORDER BY order_id DESC LIMIT 2",
    "(SELECT order_id FROM orders) ORDER BY order_id DESC LIMIT 2",
    "(SELECT order_id FROM orders ORDER BY order_id LIMIT 5) "
    "ORDER BY order_id DESC LIMIT 2",
    "(SELECT o.order_id FROM orders o ORDER BY o.order_id LIMIT 5) "
    "ORDER BY o.order_id DESC LIMIT 2",
]


_SHIPMENTS_FILTER = ("order_id IN "
                     "(SELECT order_id FROM shipments WHERE is_arrived)")
_FAKE_SHIPMENTS = ("WITH shipments AS (SELECT explode(array(10001, 10004, "
                   "10006)) AS order_id, TRUE AS is_arrived) ")


def test_cte_cannot_capture_a_condition_subquery(ctx):
    """A user CTE named like a table that a policy condition reads, at any
    depth of condition expansion, would decide what the filter lets
    through: the rewrite refuses it."""
    from flink_sql_security_spark import RowFilterPolicy

    ctx.add_policy(RowFilterPolicy("u", "orders", _SHIPMENTS_FILTER))
    sql = "SELECT order_id FROM orders"
    assert ctx.sql("u", sql).collect() == []
    with pytest.raises(ValueError, match="'u'.*'orders'.*'shipments'.*CTE"):
        ctx.sql("u", _FAKE_SHIPMENTS + sql)
    unrelated = _FAKE_SHIPMENTS.replace("WITH shipments", "WITH fake")
    assert ctx.sql("u", unrelated + sql).collect() == []

    ctx.add_policy(RowFilterPolicy(
        "u", "shipments", "EXISTS (SELECT 1 FROM products)"))
    with pytest.raises(ValueError, match="'shipments'.*'products'"):
        ctx.mixed_rewrite("u", "WITH products AS (SELECT 1 AS id) " + sql)


def test_set_operations_keep_their_grouping(ctx):
    """A no-policy rewrite returns what Spark returns for the input."""
    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    got = [rows(ctx.sql("nobody", sql)) for sql in _SET_OP_CASES]
    assert got == [rows(ctx.spark.sql(sql)) for sql in _SET_OP_CASES]


def test_custom_mask_lowers_hive_calls_inside_case(ctx):
    from flink_sql_security_spark import DataMaskPolicy

    ctx.add_policy(DataMaskPolicy(
        "u", "orders", "customer_name", "CUSTOM",
        custom_transformer="CASE WHEN length({col}) > 4 "
                           "THEN mask_show_first_n({col}, 2) ELSE {col} END"))
    rows = ctx.sql("u", "SELECT order_id, customer_name FROM orders "
                        "WHERE order_id IN (10001, 10002)").collect()
    assert sorted(tuple(r) for r in rows) == [(10001, "Jack"),
                                              (10002, "Saxxx")]


# -- the executed form: mask wraps cut to the columns the statement reads --

_WORD = re.compile(r"`((?:[^`]|``)*)`|(\w+)")
_STRING = re.compile(r"'(?:[^']|'')*'")


def _words(sql: str) -> set[str]:
    """Lowercased words and backticked names of ``sql``, string literals
    left out: every name the statement can resolve is among them."""
    return {(w or q.replace("``", "`")).lower()
            for q, w in _WORD.findall(_STRING.sub(" ", sql))}


def _record_drops(monkeypatch) -> list[str]:
    """Patch the mask resolver to record the columns each lean wrap drops:
    those cut from a wrap, or the masked ones of a table left unwrapped."""
    from flink_sql_security_spark.operators import data_mask

    drops: list[str] = []
    original = data_mask.masked_projection

    def names(projection):
        return [p.alias if isinstance(p, Alias) else p.name
                for p in projection or []]

    def recording(pm, user, parts, schema_provider, reads=None):
        lean = original(pm, user, parts, schema_provider, reads)
        if reads is not None:
            full = original(pm, user, parts, schema_provider)
            if lean is None:
                drops.extend(p.alias for p in full or []
                             if isinstance(p, Alias))
            else:
                drops.extend(set(names(full)) - set(names(lean)))
        return lean

    monkeypatch.setattr(data_mask, "masked_projection", recording)
    return drops


def _rows(df):
    return sorted(map(repr, df.collect()))


def test_executed_form_matches_the_printed_form_over_the_corpus(
        spark, monkeypatch):
    """For the 56 corpus queries × the 9 preset users and one user of each
    perfbench role: ``ctx.sql`` returns the rows and schema of the printed
    ``mixed_rewrite``, and every column a lean wrap drops has a name that
    occurs nowhere in the row-filtered statement."""
    import __spark_entry__ as corpus
    from flink_sql_security_spark.presets import demo_context
    from flink_sql_security_spark.sources import register_tables
    from perfbench import policies
    from tools.pin_rewrites import SF_DIR, preset_users

    register_tables(spark, SF_DIR)
    ctx = demo_context(spark)
    role_users = [policies.role_users(r)[0] for r in policies.ROLES]
    for p in policies.gateway_store(1):
        if p.username in role_users:
            ctx.add_policy(p)
    drops = _record_drops(monkeypatch)
    n_dropped = n_lean = 0
    for name, (_, sql, _) in corpus._QUERIES.items():
        for user in preset_users() + role_users:
            try:
                printed = ctx.mixed_rewrite(user, sql)
            except ValueError as e:
                with pytest.raises(type(e)):
                    ctx.executed_sql(user, sql)
                continue
            drops.clear()
            executed = ctx.executed_sql(user, sql)
            filtered = _words(ctx.rewrite_row_filter(user, sql))
            assert not {d.lower() for d in drops} & filtered, (
                name, user, drops)
            n_dropped += len(drops)
            if executed == printed:
                continue
            n_lean += 1
            got, want = ctx.sql(user, sql), spark.sql(printed)
            assert got.schema == want.schema, (name, user)
            assert _rows(got) == _rows(want), (name, user)
    assert n_lean > 300 and n_dropped > n_lean


def _lean_ctx(ctx):
    from flink_sql_security_spark import DataMaskPolicy, RowFilterPolicy

    ctx.add_policy(DataMaskPolicy("u", "orders", "customer_name", "CUSTOM",
                                  custom_transformer="substring({col}, 1, 1)"))
    ctx.add_policy(DataMaskPolicy("u", "orders", "region", "CUSTOM",
                                  custom_transformer="concat({col}, '!')"))
    # a row filter on the column it masks: the filter sees masked values
    ctx.add_policy(RowFilterPolicy("v", "orders", "customer_name = 'Jack'"))
    ctx.add_policy(DataMaskPolicy("v", "orders", "customer_name", "MASK"))
    return ctx


_LEAN_CASES = [
    # a star qualify cannot expand reads every column: no pruning
    ("u", "SELECT struct(orders.*) AS s FROM orders WHERE order_id < 10003",
     None, None),
    # a column named only in USING
    ("u", "SELECT s.origin, o.region FROM orders o "
          "JOIN shipments s USING (order_id)",
     [("Beijing", "beijing!"), ("Hangzhou", "beijing!"),
      ("Shanghai", "hangzhou!")], "AS region FROM orders) AS o"),
    # a masked column named only in GROUPING SETS
    ("u", "SELECT count(*) AS n FROM orders "
          "GROUP BY GROUPING SETS ((customer_name), ())",
     [(1,), (2,), (3,), (6,)], "AS customer_name FROM orders) AS orders"),
    # an unqualified correlated reference inside EXISTS
    ("u", "SELECT order_id FROM orders WHERE EXISTS (SELECT 1 FROM "
          "shipments s WHERE s.order_id = orders.order_id "
          "AND region = 'beijing!')",
     [(10001,), (10002,)], "AS region FROM orders) AS orders"),
    # the filter's column stays masked: no masked name equals 'Jack'
    ("v", "SELECT order_id FROM orders", [],
     "CAST(mask(customer_name) AS STRING) AS customer_name FROM orders)"),
    # no masked column read: the table is read unwrapped
    ("u", "SELECT count(*) AS n FROM orders", [(6,)],
     "SELECT count(*) AS n FROM orders AS orders"),
]


@pytest.mark.parametrize("user,sql,want,fragment", _LEAN_CASES)
def test_executed_form_reads_what_the_printed_form_reads(
        ctx, user, sql, want, fragment):
    """``ctx.sql`` returns the rows and schema of the printed form; the
    executed form keeps a wrap wherever a name reaches its masked column."""
    ctx = _lean_ctx(ctx)
    printed = ctx.mixed_rewrite(user, sql)
    executed = ctx.executed_sql(user, sql)
    got, reference = ctx.sql(user, sql), ctx.spark.sql(printed)
    assert got.schema == reference.schema
    assert _rows(got) == _rows(reference)
    if want is None:
        assert executed == printed
    else:
        assert sorted(tuple(r) for r in got.collect()) == want
        assert fragment in executed and executed != printed
