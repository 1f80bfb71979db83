"""Row-filter rewrite goldens — ports all 12 cases of
``test/rewrite/RewriteRowFilterTest.java:56-541``.

Goldens are re-derived in our normalized Spark dialect (SURVEY §7 decision):
same structure — filter placement, qualification, alias handling,
parenthesization — with the as-written table path instead of Calcite's
``hive.default.`` expansion, and execution-checked by tests/test_execute.py.
"""

import pytest

from flink_sql_security_spark import PolicyManager, RowFilterPolicy, SecurityContext


@pytest.fixture()
def ctx(demo_tables):
    ctx = SecurityContext(demo_tables, PolicyManager())
    ctx.add_policy(RowFilterPolicy("user_A", "orders", "region = 'beijing'"))
    ctx.add_policy(RowFilterPolicy("user_B", "orders", "region = 'hangzhou'"))
    return ctx


def test_select(ctx):
    # RewriteRowFilterTest.java:56-72
    out = ctx.rewrite_row_filter(
        "user_A", "SELECT order_id, customer_name, product_id, region FROM orders")
    assert out == (
        "SELECT orders.order_id, orders.customer_name, orders.product_id, "
        "orders.region FROM orders AS orders WHERE orders.region = 'beijing'"
    )


def test_select_diff_user(ctx):
    # RewriteRowFilterTest.java:75-103
    sql = "SELECT order_id, customer_name, product_id, region FROM orders"
    assert ctx.rewrite_row_filter("user_A", sql).endswith("WHERE orders.region = 'beijing'")
    assert ctx.rewrite_row_filter("user_B", sql).endswith("WHERE orders.region = 'hangzhou'")


def test_select_where(ctx):
    # RewriteRowFilterTest.java:106-126
    out = ctx.rewrite_row_filter(
        "user_A",
        "SELECT order_id, customer_name, product_id, region FROM orders WHERE price > 45.0")
    assert out.endswith("WHERE orders.price > 45.0 AND orders.region = 'beijing'")


def test_select_complex_where_parenthesized(ctx):
    # RewriteRowFilterTest.java:129-154 — OR gets parenthesized under the AND
    out = ctx.rewrite_row_filter(
        "user_A",
        "SELECT order_id, customer_name, product_id, region FROM orders "
        "WHERE price > 45.0 OR customer_name = 'John'")
    assert out.endswith(
        "WHERE (orders.price > 45.0 OR orders.customer_name = 'John') "
        "AND orders.region = 'beijing'"
    )


def test_select_where_group_by(ctx):
    # RewriteRowFilterTest.java:157-183
    out = ctx.rewrite_row_filter(
        "user_A",
        "SELECT customer_name, count(*) AS cnt FROM orders WHERE price > 45.0 "
        "GROUP BY customer_name")
    assert out == (
        "SELECT orders.customer_name, count(*) AS cnt FROM orders AS orders "
        "WHERE orders.price > 45.0 AND orders.region = 'beijing' "
        "GROUP BY orders.customer_name"
    )


JOIN_SQL = (
    "SELECT o.order_id, o.customer_name, o.product_id, o.region, p.name, "
    "p.description FROM orders AS o LEFT JOIN products AS p ON o.product_id = p.id"
)


def test_join_with_alias(ctx):
    # RewriteRowFilterTest.java:186-223 — only orders has a policy
    out = ctx.rewrite_row_filter("user_A", JOIN_SQL)
    assert out == (
        "SELECT o.order_id, o.customer_name, o.product_id, o.region, p.name, "
        "p.description FROM orders AS o LEFT JOIN products AS p "
        "ON o.product_id = p.id WHERE o.region = 'beijing'"
    )


def test_join_without_alias(ctx):
    # RewriteRowFilterTest.java:226-261 — filter qualified by table name
    out = ctx.rewrite_row_filter(
        "user_A",
        "SELECT orders.order_id, orders.customer_name, products.name FROM orders "
        "LEFT JOIN products ON orders.product_id = products.id")
    assert out.endswith("WHERE orders.region = 'beijing'")
    assert "orders AS orders LEFT JOIN products AS products" in out


def test_join_where(ctx):
    # RewriteRowFilterTest.java:264-303 — existing WHERE is ANDed
    out = ctx.rewrite_row_filter("user_A", JOIN_SQL + " WHERE o.price > 45.0")
    assert out.endswith("WHERE o.price > 45.0 AND o.region = 'beijing'")


def test_join_subquery_where(ctx):
    # RewriteRowFilterTest.java:306-363 — filter lands INSIDE the derived table
    out = ctx.rewrite_row_filter(
        "user_A",
        "SELECT o.order_id, o.customer_name, o.region, p.name "
        "FROM (SELECT order_id, customer_name, price, product_id, region "
        "      FROM orders WHERE order_status = FALSE) AS o "
        "LEFT JOIN products AS p ON o.product_id = p.id")
    assert (
        "FROM (SELECT orders.order_id, orders.customer_name, orders.price, "
        "orders.product_id, orders.region FROM orders AS orders "
        "WHERE orders.order_status = FALSE AND orders.region = 'beijing') AS o"
    ) in out
    # and the outer select has no WHERE of its own
    assert not out.split(") AS o")[1].count("WHERE")


def test_join_with_both_policies(ctx):
    # RewriteRowFilterTest.java:367-412 — both join sides filtered into one WHERE
    ctx.add_policy(RowFilterPolicy("user_A", "products", "name = 'hammer'"))
    out = ctx.rewrite_row_filter("user_A", JOIN_SQL)
    assert out.endswith("WHERE o.region = 'beijing' AND p.name = 'hammer'")


def test_three_table_join(ctx):
    # RewriteRowFilterTest.java:415-477 — every table of the n-way join filtered
    ctx.add_policy(RowFilterPolicy("user_A", "products", "name = 'hammer'"))
    ctx.add_policy(RowFilterPolicy("user_A", "shipments", "is_arrived = FALSE"))
    out = ctx.rewrite_row_filter(
        "user_A",
        JOIN_SQL + " LEFT JOIN shipments AS s ON o.order_id = s.order_id")
    assert out.endswith(
        "WHERE o.region = 'beijing' AND p.name = 'hammer' AND s.is_arrived = FALSE"
    )


def test_insert_select(ctx):
    # RewriteRowFilterTest.java:483-506 — * expanded, filter injected
    out = ctx.rewrite_row_filter("user_A", "INSERT INTO print_sink SELECT * FROM orders")
    assert out == (
        "INSERT INTO print_sink SELECT orders.order_id, orders.order_date, "
        "orders.customer_name, orders.product_id, orders.price, "
        "orders.order_status, orders.region FROM orders AS orders "
        "WHERE orders.region = 'beijing'"
    )


def test_insert_select_nested(ctx):
    # RewriteRowFilterTest.java:509-541 — filter inside the nested derived table
    out = ctx.rewrite_row_filter(
        "user_A", "INSERT INTO print_sink SELECT * FROM (SELECT * FROM orders) AS o")
    assert "FROM orders AS orders WHERE orders.region = 'beijing') AS o" in out
    assert out.startswith("INSERT INTO print_sink SELECT o.order_id")


def test_no_policy_identity(ctx):
    # users without policies see the qualified-but-unfiltered query
    out = ctx.rewrite_row_filter(
        "user_C", "SELECT order_id FROM orders")
    assert out == "SELECT orders.order_id FROM orders AS orders"


def test_compound_condition_fully_qualified(ctx):
    # deliberate fix over RowFilterVisitor.java:101-102 (SURVEY §7 risk register):
    # every column of a compound condition gets qualified, not just operand[0]
    ctx.add_policy(RowFilterPolicy("user_D", "orders",
                                   "region = 'beijing' AND price > 10"))
    out = ctx.rewrite_row_filter("user_D", "SELECT order_id FROM orders AS o")
    assert out.endswith("WHERE o.region = 'beijing' AND o.price > 10")


def test_left_join_right_side_filter_drops_null_extended_rows(ctx):
    # Deliberate parity with the reference (RowFilterVisitor.java:64-86): a
    # LEFT JOIN's right-side filter lands in the outer WHERE, so a left row
    # whose match the filter hides is dropped, not kept null-extended.
    rows = ctx.sql(
        "user_C",
        "SELECT o.order_id, p.name FROM orders AS o "
        "LEFT JOIN products AS p ON o.product_id = p.id").collect()
    assert len(rows) == 6  # no policy: every order, matched
    ctx.add_policy(RowFilterPolicy("user_C", "products", "name = 'hammer'"))
    rows = ctx.sql(
        "user_C",
        "SELECT o.order_id, p.name FROM orders AS o "
        "LEFT JOIN products AS p ON o.product_id = p.id").collect()
    assert sorted(map(tuple, rows)) == [
        (10002, "hammer"), (10003, "hammer"), (10005, "hammer")]


def test_condition_subquery_keeps_its_own_scope(ctx, demo_tables):
    # the columns of a condition's subquery resolve in that subquery:
    # qualifying them with the filtered table's alias would correlate it
    # and let every row through
    demo_tables.createDataFrame([(10002,)], "order_id INT") \
        .createOrReplaceTempView("allowed")
    ctx.add_policy(RowFilterPolicy(
        "user_C", "orders", "order_id IN (SELECT order_id FROM allowed)"))
    sql = "SELECT order_id FROM orders"
    assert ctx.rewrite_row_filter("user_C", sql) == (
        "SELECT orders.order_id FROM orders AS orders "
        "WHERE orders.order_id IN (SELECT order_id FROM allowed)")
    assert [r.order_id for r in ctx.sql("user_C", sql).collect()] == [10002]
    assert [r.order_id for r in ctx.table("user_C", "orders").collect()] \
        == [10002]


def test_condition_subquery_is_itself_filtered(ctx, demo_tables):
    # the subquery is a query of its own: its table's policy applies to it,
    # through ctx.sql and ctx.table alike
    demo_tables.createDataFrame([(10002,), (10004,)], "order_id INT") \
        .createOrReplaceTempView("allowed")
    ctx.add_policy(RowFilterPolicy(
        "user_C", "orders", "order_id IN (SELECT order_id FROM allowed)"))
    ctx.add_policy(RowFilterPolicy("user_C", "allowed", "order_id > 10003"))
    sql = "SELECT order_id FROM orders"
    assert ctx.rewrite_row_filter("user_C", sql).endswith(
        "WHERE orders.order_id IN (SELECT order_id FROM allowed "
        "WHERE allowed.order_id > 10003)")
    assert [r.order_id for r in ctx.sql("user_C", sql).collect()] == [10004]
    assert [r.order_id for r in ctx.table("user_C", "orders").collect()] \
        == [10004]


def test_condition_reading_its_own_table_raises(ctx):
    # the condition's subquery is filtered by the same condition, which
    # would expand without end: a clear error instead of RecursionError,
    # through ctx.sql and ctx.table alike
    cond = "order_id IN (SELECT order_id FROM orders WHERE price > 20)"
    ctx.add_policy(RowFilterPolicy("user_C", "orders", cond))
    for call in (lambda: ctx.sql("user_C", "SELECT order_id FROM orders"),
                 lambda: ctx.table("user_C", "orders")):
        with pytest.raises(ValueError) as err:
            call()
        msg = str(err.value)
        assert "'user_C'" in msg and "'orders'" in msg and cond in msg, msg


def test_condition_cycle_across_tables_raises(ctx, demo_tables):
    # orders -> allowed -> orders: the same endless expansion, one hop longer
    demo_tables.createDataFrame([(10002,)], "order_id INT") \
        .createOrReplaceTempView("allowed")
    ctx.add_policy(RowFilterPolicy(
        "user_C", "orders", "order_id IN (SELECT order_id FROM allowed)"))
    ctx.add_policy(RowFilterPolicy(
        "user_C", "allowed", "order_id IN (SELECT order_id FROM orders)"))
    with pytest.raises(ValueError, match="user_C"):
        ctx.sql("user_C", "SELECT order_id FROM orders")
