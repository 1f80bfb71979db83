"""Parser/printer/qualify unit tests for the plans/ SQL IR layer."""

import pytest

from flink_sql_security_spark.plans import (
    BinaryOp, Identifier, Insert, Literal, Select, SqlParseError, and_,
    parse_expression, parse_statement, qualify,
)

SCHEMAS = {
    "orders": [
        ("order_id", "INT"), ("order_date", "TIMESTAMP"),
        ("customer_name", "STRING"), ("product_id", "INT"),
        ("price", "DECIMAL(10,5)"), ("order_status", "BOOLEAN"),
        ("region", "STRING"),
    ],
    "products": [("id", "INT"), ("name", "STRING"), ("description", "STRING")],
    "shipments": [
        ("shipment_id", "INT"), ("order_id", "INT"), ("origin", "STRING"),
        ("destination", "STRING"), ("is_arrived", "BOOLEAN"),
    ],
}


def schema_provider(parts):
    return SCHEMAS.get(parts[-1].lower())


ROUND_TRIP_CASES = [
    "SELECT order_id, customer_name, product_id, region FROM orders",
    "SELECT o.order_id, p.name FROM orders AS o LEFT JOIN products AS p ON o.product_id = p.id WHERE o.price > 45.0",
    "SELECT * FROM orders WHERE price > 45.0 OR customer_name = 'John'",
    "SELECT customer_name, count(*) AS cnt FROM orders GROUP BY customer_name HAVING count(*) > 1 ORDER BY cnt DESC LIMIT 5",
    "INSERT INTO print_sink SELECT * FROM orders",
    "INSERT INTO t (a, b) SELECT a, b FROM s",
    "SELECT * FROM (SELECT order_id, region FROM orders) AS o JOIN products AS p ON o.order_id = p.id",
    "SELECT CAST(mask(customer_name) AS STRING) AS customer_name FROM orders",
    "WITH x AS (SELECT 1 AS a) SELECT a FROM x",
    "SELECT a FROM t UNION ALL SELECT b FROM u ORDER BY a LIMIT 3",
    "SELECT aggregate(v, 0D, (acc, x) -> acc + x) AS dot FROM e",
    "SELECT x FROM t WHERE a IS NOT NULL AND b NOT IN (1, 2) AND c BETWEEN 1 AND 5 AND d LIKE 'a%'",
    "SELECT t.*, arr[0] AS first, DATE '2020-01-01' AS d, INTERVAL '3' DAY AS iv FROM t",
    "SELECT a FROM t WHERE ts > now() - INTERVAL 3 DAYS",
    "SELECT r_name, count(DISTINCT n_nationkey) AS c FROM region AS r CROSS JOIN nation AS n GROUP BY ROLLUP(r_name)",
    "SELECT word FROM docs LATERAL VIEW explode(split(text, ' ')) w AS word",
    "SELECT sum(b) OVER (PARTITION BY g ORDER BY ts ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM t",
    "SELECT a FROM t LEFT SEMI JOIN u ON t.k = u.k",
    "SELECT a FROM t LEFT ANTI JOIN u USING (k)",
    "SELECT CASE WHEN a > 1 THEN 'x' ELSE 'y' END AS c FROM t",
    # GROUPING SETS must survive printing (regression: the raw-text modifier
    # was dropped when group_by was empty, silently un-grouping the query)
    "SELECT a, b, count(*) AS cnt FROM t GROUP BY GROUPING SETS ((a), (b), ())",
]


@pytest.mark.parametrize("sql", ROUND_TRIP_CASES)
def test_round_trip_stable(sql):
    once = parse_statement(sql).sql()
    twice = parse_statement(once).sql()
    assert once == twice


def test_single_statement_guard():
    # mirrors the reference's single-statement precondition
    # (ParserImplExtension.java:74)
    with pytest.raises(SqlParseError):
        parse_statement("SELECT 1 FROM t; SELECT 2 FROM t")


def test_or_parenthesized_under_and():
    # RowFilterVisitor.buildWhereClause parenthesization golden
    # (RewriteRowFilterTest.java:129-154)
    old = parse_expression("price > 45.0 OR customer_name = 'John'")
    cond = parse_expression("region = 'beijing'")
    assert and_(old, cond).sql() == \
        "(price > 45.0 OR customer_name = 'John') AND region = 'beijing'"


def test_and_not_double_parenthesized():
    old = parse_expression("price > 45.0 AND order_status = FALSE")
    cond = parse_expression("region = 'beijing'")
    assert and_(old, cond).sql() == \
        "price > 45.0 AND order_status = FALSE AND region = 'beijing'"


def test_qualify_star_expansion():
    ast = qualify(parse_statement("SELECT * FROM orders"), schema_provider)
    assert ast.sql() == (
        "SELECT orders.order_id, orders.order_date, orders.customer_name, "
        "orders.product_id, orders.price, orders.order_status, orders.region "
        "FROM orders AS orders"
    )


def test_qualify_join_columns():
    ast = qualify(parse_statement(
        "SELECT order_id, name FROM orders LEFT JOIN products ON product_id = id"
    ), schema_provider)
    assert ast.sql() == (
        "SELECT orders.order_id, products.name FROM orders AS orders "
        "LEFT JOIN products AS products ON orders.product_id = products.id"
    )


def test_qualify_subquery_scope():
    ast = qualify(parse_statement(
        "SELECT s.* FROM (SELECT order_id, region FROM orders) s"
    ), schema_provider)
    assert ast.sql() == (
        "SELECT s.order_id, s.region FROM "
        "(SELECT orders.order_id, orders.region FROM orders AS orders) AS s"
    )


def test_qualify_cte():
    ast = qualify(parse_statement(
        "WITH t AS (SELECT order_id AS oid, region FROM orders) "
        "SELECT oid FROM t WHERE region = 'beijing'"
    ), schema_provider)
    assert "SELECT t.oid FROM t AS t WHERE t.region = 'beijing'" in ast.sql()


def test_qualify_preserves_projection_alias_in_order_by():
    ast = qualify(parse_statement(
        "SELECT customer_name, count(*) AS cnt FROM orders "
        "GROUP BY customer_name ORDER BY cnt DESC"
    ), schema_provider)
    assert ast.sql().endswith("ORDER BY cnt DESC")


def test_insert_parse_shape():
    ast = parse_statement("INSERT INTO print_sink SELECT * FROM orders")
    assert isinstance(ast, Insert)
    assert ast.table == ["print_sink"]
    assert isinstance(ast.query, Select)


def test_expression_types():
    e = parse_expression("region = 'beijing'")
    assert isinstance(e, BinaryOp)
    assert isinstance(e.left, Identifier)
    assert isinstance(e.right, Literal)


def test_string_escape_round_trip():
    e = parse_expression("name = 'O''Brien'")
    assert e.sql() == "name = 'O''Brien'"
    assert parse_expression(e.sql()).sql() == e.sql()


def test_backtick_identifier():
    e = parse_expression("`weird col` > 1")
    assert e.sql() == "`weird col` > 1"


def test_policy_condition_injection_rejected():
    """A hostile policy condition cannot smuggle a second statement or
    non-expression SQL through the rewriter into the engine."""
    for evil in (
        "region = 'beijing'; DROP TABLE orders",
        "region = 'beijing') UNION ALL (SELECT * FROM secrets",
        "1 = 1; --",
    ):
        with pytest.raises(SqlParseError):
            parse_expression(evil)


def test_unterminated_literals_rejected():
    for bad in ("SELECT 'abc FROM t", "SELECT `col FROM t", "SELECT \"x"):
        with pytest.raises(SqlParseError):
            parse_statement(bad)


def test_unicode_identifiers_roundtrip():
    sql = "SELECT `名前`, 金額 FROM `テーブル` WHERE 名前 = 'ユーザー'"
    out = parse_statement(sql).sql()
    assert "名前" in out and "ユーザー" in out
    # stable under re-parse
    assert parse_statement(out).sql() == out


def test_deep_subquery_nesting():
    """60 levels of derived tables parse, qualify, and print without
    recursion blow-up (the parser is recursive-descent; this bounds its
    practical depth headroom far above real queries)."""
    sql = "SELECT a FROM t"
    for _ in range(60):
        sql = f"SELECT a FROM ({sql}) x"
    out = parse_statement(sql).sql()
    assert out.count("(") == 60


# (input, tokens as (kind, value, pos) or the SqlTokenizeError message),
# recorded from the character-loop tokenizer the regex one replaced
TOKENIZER_CASES = [
    ("SELECT 'abc", "unterminated string literal at 7"),
    ("SELECT 'it''s", "unterminated string literal at 7"),
    ("SELECT 'ok''", "unterminated string literal at 7"),
    ("SELECT `col", "unterminated quoted identifier at 7"),
    ('SELECT "col', "unterminated quoted identifier at 7"),
    ("SELECT `a``b", "unterminated quoted identifier at 7"),
    ("SELECT 1 /* never closed", "unterminated block comment at 9"),
    ("SELECT 1 /*/", "unterminated block comment at 9"),
    ("SELECT a # b", "unexpected character '#' at 9"),
    ("SELECT ½ FROM t", "unexpected character '½' at 7"),
    ("SELECT 😀", "unexpected character '😀' at 7"),
    ("SELECT a FROM t WHERE b = '€'",
     [("WORD", "SELECT", 0), ("WORD", "a", 7), ("WORD", "FROM", 9),
      ("WORD", "t", 14), ("WORD", "WHERE", 16), ("WORD", "b", 22),
      ("OP", "=", 24), ("STRING", "€", 26), ("EOF", "", 29)]),
    ("SELECT 名前, café FROM données",
     [("WORD", "SELECT", 0), ("WORD", "名前", 7), ("OP", ",", 9),
      ("WORD", "café", 11), ("WORD", "FROM", 16), ("WORD", "données", 21),
      ("EOF", "", 28)]),
    # non-decimal digits are digits (str.isdigit), so they make numbers
    ("SELECT ² + ①",
     [("WORD", "SELECT", 0), ("NUMBER", "²", 7), ("OP", "+", 9),
      ("NUMBER", "①", 11), ("EOF", "", 12)]),
    ("SELECT 1² AS x",
     [("WORD", "SELECT", 0), ("NUMBER", "1²", 7), ("WORD", "AS", 10),
      ("WORD", "x", 13), ("EOF", "", 14)]),
    # 'ſ'.upper() == 'S': a type suffix, like S
    ("SELECT 10ſ, 10BD, 1e5L, .5D, 1.e3",
     [("WORD", "SELECT", 0), ("NUMBER", "10ſ", 7), ("OP", ",", 10),
      ("NUMBER", "10BD", 12), ("OP", ",", 16), ("NUMBER", "1e5L", 18),
      ("OP", ",", 22), ("NUMBER", ".5D", 24), ("OP", ",", 27),
      ("NUMBER", "1.e3", 29), ("EOF", "", 33)]),
    ("SELECT x\xa0FROM t",
     [("WORD", "SELECT", 0), ("WORD", "x", 7), ("WORD", "FROM", 9),
      ("WORD", "t", 14), ("EOF", "", 15)]),
    ("SELECT a--comment\n, b /* c */ FROM t",
     [("WORD", "SELECT", 0), ("WORD", "a", 7), ("OP", ",", 18),
      ("WORD", "b", 20), ("WORD", "FROM", 30), ("WORD", "t", 35),
      ("EOF", "", 36)]),
]


@pytest.mark.parametrize("sql, want", TOKENIZER_CASES)
def test_tokenizer_tokens_and_errors(sql, want):
    from flink_sql_security_spark.plans.tokens import (
        SqlTokenizeError, tokenize,
    )

    try:
        got = [(t.kind, t.value, t.pos) for t in tokenize(sql)]
    except SqlTokenizeError as e:
        got = str(e)
    assert got == want
    if isinstance(want, list):
        assert all(t.upper == t.value.upper() for t in tokenize(sql))


def test_unterminated_grouping_sets_is_a_parse_error():
    with pytest.raises(SqlParseError, match="GROUPING SETS"):
        parse_statement("SELECT a FROM t GROUP BY GROUPING SETS ((a")


def test_backtick_identifier_with_trailing_newline_stays_quoted():
    out = parse_statement("SELECT `abc\n` FROM t").sql()
    assert out == "SELECT `abc\n` FROM t"
    assert parse_statement(out).projections[0].parts == ["abc\n"]


@pytest.mark.parametrize("sql", [
    "SELECT a FROM t LIMIT",
    "SELECT a FROM t LIMIT x",
    "SELECT a FROM t UNION SELECT b FROM u LIMIT",
    "SELECT a FROM t UNION SELECT b FROM u LIMIT 1.5",
])
def test_limit_needs_an_integer_count(sql):
    with pytest.raises(SqlParseError, match="LIMIT count at pos"):
        parse_statement(sql)


# (input, printed): operands keep the grouping Spark gives the input
SET_OP_PRINT_CASES = [
    ("(SELECT 1 AS a UNION SELECT 2) INTERSECT SELECT 3", None),
    ("SELECT 1 AS a UNION SELECT 2 INTERSECT SELECT 3", None),
    ("SELECT 1 AS a INTERSECT SELECT 2 UNION SELECT 3", None),
    ("SELECT 1 AS a EXCEPT (SELECT 1 UNION SELECT 2)", None),
    ("(SELECT 1 AS a UNION SELECT 2) EXCEPT SELECT 3",
     "SELECT 1 AS a UNION SELECT 2 EXCEPT SELECT 3"),
    ("(SELECT a FROM t ORDER BY a LIMIT 1) UNION ALL SELECT b FROM u", None),
    ("(WITH x AS (SELECT 1 AS a) SELECT a FROM x) UNION ALL SELECT a FROM x",
     None),
    ("SELECT a FROM t UNION ALL SELECT b FROM u ORDER BY a LIMIT 3", None),
]


def test_set_operation_keeps_grouping():
    got = [parse_statement(sql).sql() for sql, _ in SET_OP_PRINT_CASES]
    assert got == [printed or sql for sql, printed in SET_OP_PRINT_CASES]


def test_set_operation_order_by_and_limit_bind_to_the_result():
    ast = parse_statement(
        "SELECT a FROM t UNION ALL SELECT b FROM u ORDER BY a LIMIT 3")
    assert ast.limit == 3 and len(ast.order_by) == 1
    assert ast.right.limit is None and not ast.right.order_by


def test_qualify_looks_up_each_base_table_once():
    schemas = dict(SCHEMAS, customer=[("c_custkey", "INT"), ("c_name", "STRING")])
    calls = []

    def counting(parts):
        calls.append(parts)
        return schemas.get(parts[-1])

    nested = ("SELECT * FROM (SELECT * FROM (SELECT * FROM "
              "(SELECT * FROM orders) a) b) c")
    ast = qualify(parse_statement(nested), counting)
    assert ast.sql().startswith("SELECT c.order_id, c.order_date, ")
    assert calls == [["orders"]]
    chain = ("WITH a AS (SELECT * FROM orders), b AS (SELECT * FROM a) "
             "SELECT * FROM b JOIN customer ON b.order_id = customer.c_custkey")
    ast = qualify(parse_statement(chain), counting)
    assert "customer.c_name FROM b AS b JOIN customer AS customer" in ast.sql()
    assert calls == [["orders"], ["orders"], ["customer"]]


def test_cte_names_are_scoped_to_their_with():
    ast = qualify(parse_statement(
        "(WITH orders AS (SELECT * FROM orders) SELECT order_id FROM orders) "
        "UNION ALL SELECT order_id FROM orders"), schema_provider)
    cte_read, body_read = ast.left.ctes[0][1].from_, ast.left.body.from_
    assert not cte_read.cte and body_read.cte
    assert not ast.right.from_.cte  # the sibling operand reads the table
    ast = qualify(parse_statement(
        "WITH a AS (SELECT * FROM b), b AS (SELECT 1 AS x) "
        "SELECT * FROM a WHERE x IN (SELECT x FROM b)"), schema_provider)
    assert not ast.ctes[0][1].from_.cte  # b is not defined yet
    assert ast.body.from_.cte and ast.body.where.query.from_.cte
