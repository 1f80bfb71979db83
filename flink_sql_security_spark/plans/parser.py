"""Recursive-descent parser: SQL text → plans.nodes AST.

Replaces the reference's Calcite front-end (``ParserImplExtension.java:54-89``):
``parse_statement`` ≈ ``parseSql`` (single statement only, guard at :74),
``parse_expression`` ≈ ``parseExpression``. Spark-SQL dialect subset: SELECT
(DISTINCT, *, aliases), FROM with all join types + derived tables + LATERAL VIEW,
WHERE/GROUP BY (ROLLUP/CUBE)/HAVING/ORDER BY/LIMIT, UNION/INTERSECT/EXCEPT, WITH
CTEs, INSERT INTO/OVERWRITE ... SELECT, full expression grammar incl. CASE, CAST,
IN/EXISTS/BETWEEN/LIKE/RLIKE, window functions, lambdas, subscripts, intervals.
"""

from __future__ import annotations

from typing import Optional

from .nodes import (
    Alias, Between, BinaryOp, Case, Cast, Exists, Expr, FuncCall, Identifier,
    InList, InSubquery, Insert, IntervalLiteral, IsNull, Join, Lambda,
    LateralView, Like, Literal, Node, OrderItem, Query, Relation, ScalarSubquery,
    SET_PRECEDENCE, SUBQUERY_ALIAS, Select, SetOp, Star, SubqueryRef,
    Subscript, TableRef, UnaryOp, WindowSpec, With,
)
from .tokens import (EOF, NUMBER, OP, QIDENT, STRING, WORD, SqlTokenizeError,
                     Token, tokenize)


class SqlParseError(ValueError):
    pass


# Words that end an expression / cannot start an implicit alias.
_RESERVED = {
    "FROM", "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "UNION", "INTERSECT",
    "EXCEPT", "JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS", "ON", "USING",
    "AS", "AND", "OR", "NOT", "SELECT", "INSERT", "WITH", "LATERAL", "SEMI",
    "ANTI", "WHEN", "THEN", "ELSE", "END", "IS", "IN", "BETWEEN", "LIKE",
    "RLIKE", "ILIKE", "EXISTS", "CASE", "CAST", "DISTINCT", "ALL", "BY",
    "ASC", "DESC", "NULLS", "OUTER", "NATURAL", "OVER", "PARTITION", "INTERVAL",
    "OVERWRITE", "TABLE", "VALUES", "WINDOW", "ROWS", "RANGE", "SORT", "CLUSTER",
    "DISTRIBUTE",
}

_JOIN_TYPES = {"INNER", "LEFT", "RIGHT", "FULL", "CROSS", "SEMI", "ANTI"}

# tokens that continue a comparison after its left operand
_COMPARISON_OPS = {"=", "==", "!=", "<>", "<", "<=", ">", ">=", "<=>"}
_COMPARISON_WORDS = {"IS", "NOT", "IN", "BETWEEN", "LIKE", "RLIKE", "ILIKE"}
# words parse_primary reads as more than a name or a function call
_PRIMARY_WORDS = {"NULL", "TRUE", "FALSE", "CASE", "CAST", "TRY_CAST",
                  "INTERVAL", "DATE", "TIMESTAMP"}


def _source_names(q: Query) -> set[str]:
    """Lowercased names that qualify the output columns of ``q``: the
    sources of its (first) SELECT, as Spark keeps them on its output."""
    while not isinstance(q, Select):
        q = q.body if isinstance(q, With) else q.left
    names: set[str] = set()
    todo = [q.from_]
    while todo:
        rel = todo.pop()
        if isinstance(rel, Join):
            todo += [rel.left, rel.right]
        elif isinstance(rel, LateralView):
            todo.append(rel.base)
            names.add(rel.table_alias.lower())
        elif isinstance(rel, TableRef):
            names.add(rel.effective_alias().lower())
        elif isinstance(rel, SubqueryRef) and rel.alias:
            names.add(rel.alias.lower())
    return names


def _repoint(items: list[OrderItem], names: set[str]) -> None:
    """Point each ``<source>.column`` of ``items`` (outside nested queries)
    whose source is in ``names`` at the wrapper's alias instead."""
    todo: list[Node] = list(items)
    while todo:
        n = todo.pop()
        if isinstance(n, Identifier):
            if len(n.parts) > 1 and n.parts[0].lower() in names:
                n.parts = [SUBQUERY_ALIAS] + n.parts[1:]
        elif not isinstance(n, Query):
            todo.extend(n.children())


class _Parser:
    def __init__(self, sql: str) -> None:
        self.sql = sql
        self.tokens = tokenize(sql)
        self.seek(0)

    # -- token helpers -----------------------------------------------------
    def seek(self, i: int) -> None:
        self.i = i
        self.cur: Token = self.tokens[i]

    def peek(self, k: int = 1) -> Token:
        j = min(self.i + k, len(self.tokens) - 1)
        return self.tokens[j]

    def advance(self) -> Token:
        """Consume the current token; EOF is never passed."""
        t = self.cur
        if t.kind != EOF:
            self.i += 1
            self.cur = self.tokens[self.i]
        return t

    def at_word(self, *words: str) -> bool:
        t = self.cur
        return t.kind == WORD and t.upper in words

    def at_op(self, *ops: str) -> bool:
        t = self.cur
        return t.kind == OP and t.value in ops

    def accept_word(self, *words: str) -> Optional[Token]:
        if self.at_word(*words):
            return self.advance()
        return None

    def accept_op(self, *ops: str) -> Optional[Token]:
        if self.at_op(*ops):
            return self.advance()
        return None

    def expect_word(self, *words: str) -> Token:
        if not self.at_word(*words):
            raise SqlParseError(
                f"expected {'/'.join(words)} at pos {self.cur.pos}, got {self.cur.value!r}"
            )
        return self.advance()

    def expect_op(self, op: str) -> Token:
        if not self.at_op(op):
            raise SqlParseError(
                f"expected {op!r} at pos {self.cur.pos}, got {self.cur.value!r}"
            )
        return self.advance()

    # -- statements --------------------------------------------------------
    def parse_statement(self) -> Node:
        stmt: Node
        if self.at_word("INSERT"):
            stmt = self.parse_insert()
        else:
            stmt = self.parse_query()
        if self.accept_op(";"):
            pass
        if self.cur.kind != EOF:
            # single-statement precondition, like ParserImplExtension.java:74
            raise SqlParseError(
                f"only single statements are supported; trailing input at pos {self.cur.pos}"
            )
        return stmt

    def parse_insert(self) -> Insert:
        self.expect_word("INSERT")
        overwrite = False
        if self.accept_word("OVERWRITE"):
            overwrite = True
            self.accept_word("TABLE")
        else:
            self.expect_word("INTO")
            self.accept_word("TABLE")
        table = self.parse_qualified_name()
        columns: list[str] = []
        if self.at_op("(") and self._paren_is_column_list():
            self.expect_op("(")
            while True:
                columns.append(self.parse_ident_token())
                if not self.accept_op(","):
                    break
            self.expect_op(")")
        query = self.parse_query()
        return Insert(table=table, query=query, columns=columns, overwrite=overwrite)

    def _paren_is_column_list(self) -> bool:
        """Disambiguate ``INSERT INTO t (a, b) SELECT`` vs ``INSERT INTO t (SELECT ...)``."""
        j = self.i + 1
        t = self.tokens[j]
        return not (t.kind == WORD and t.upper in ("SELECT", "WITH", "VALUES"))

    # -- queries -----------------------------------------------------------
    def parse_query(self) -> Query:
        if self.at_word("WITH"):
            return self.parse_with()
        q = self.parse_set_operation(1)
        # ORDER BY / LIMIT bind to the whole query before them, as in
        # Spark: the set-op result, never a set operand alone. A
        # parenthesized query that has its own clauses (or a WITH) keeps
        # them inside a derived table, so no clause is dropped; an outer
        # ORDER BY that names one of its sources then names the wrapper.
        if self.at_word("ORDER") or self.at_word("LIMIT"):
            inner = None
            if isinstance(q, With) or q.order_by or q.limit is not None:
                inner = q
                q = Select(projections=[Star()],
                           from_=SubqueryRef(q, alias=SUBQUERY_ALIAS))
            if self.at_word("ORDER"):
                q.order_by = self.parse_order_by()
                if inner is not None:
                    _repoint(q.order_by, _source_names(inner))
            if self.accept_word("LIMIT"):
                t = self.advance()
                if t.kind != NUMBER or not (t.value.isascii() and t.value.isdigit()):
                    raise SqlParseError(f"expected an integer LIMIT count "
                                        f"at pos {t.pos}, got {t.value!r}")
                q.limit = int(t.value)
        return q

    def parse_set_operation(self, min_precedence: int) -> Query:
        """Operands joined by set operators of at least ``min_precedence``
        (INTERSECT binds tighter than UNION/EXCEPT), grouped left to right."""
        left = self.parse_query_term()
        while self.cur.kind == WORD and \
                SET_PRECEDENCE.get(self.cur.upper, 0) >= min_precedence:
            op = self.advance().upper
            all_ = bool(self.accept_word("ALL"))
            self.accept_word("DISTINCT")
            right = self.parse_set_operation(SET_PRECEDENCE[op] + 1)
            left = SetOp(op=op, left=left, right=right, all=all_)
        return left

    def parse_with(self) -> With:
        self.expect_word("WITH")
        ctes: list[tuple[str, Query]] = []
        while True:
            name = self.parse_ident_token()
            self.expect_word("AS")
            self.expect_op("(")
            q = self.parse_query()
            self.expect_op(")")
            ctes.append((name, q))
            if not self.accept_op(","):
                break
        body = self.parse_query()
        return With(ctes=ctes, body=body)

    def parse_query_term(self) -> Query:
        if self.at_op("("):
            self.expect_op("(")
            q = self.parse_query()
            self.expect_op(")")
            return q
        return self.parse_select()

    def parse_select(self) -> Select:
        self.expect_word("SELECT")
        sel = Select()
        if self.accept_word("DISTINCT"):
            sel.distinct = True
        else:
            self.accept_word("ALL")
        while True:
            sel.projections.append(self.parse_projection())
            if not self.accept_op(","):
                break
        if self.accept_word("FROM"):
            sel.from_ = self.parse_from()
        if self.accept_word("WHERE"):
            sel.where = self.parse_expr()
        if self.at_word("GROUP"):
            self.advance()
            self.expect_word("BY")
            if self.accept_word("ROLLUP"):
                sel.group_modifier = "ROLLUP"
                self.expect_op("(")
                sel.group_by = self.parse_expr_list()
                self.expect_op(")")
            elif self.accept_word("CUBE"):
                sel.group_modifier = "CUBE"
                self.expect_op("(")
                sel.group_by = self.parse_expr_list()
                self.expect_op(")")
            elif self.at_word("GROUPING"):
                # GROUPING SETS ((a,b),(a),()) — keep raw text for printing
                start = self.cur.pos
                self.advance()
                self.expect_word("SETS")
                self.expect_op("(")
                depth = 1
                while depth > 0:
                    if self.at_op("("):
                        depth += 1
                    elif self.at_op(")"):
                        depth -= 1
                    elif self.cur.kind == EOF:
                        raise SqlParseError("unterminated GROUPING SETS")
                    t = self.advance()
                end = t.pos + len(t.value)
                sel.group_modifier = self.sql[start:end]
                sel.group_by = []
            else:
                sel.group_by = self.parse_expr_list()
        if self.accept_word("HAVING"):
            sel.having = self.parse_expr()
        return sel

    def parse_order_by(self) -> list[OrderItem]:
        self.expect_word("ORDER")
        self.expect_word("BY")
        items: list[OrderItem] = []
        while True:
            e = self.parse_expr()
            desc = False
            if self.accept_word("DESC"):
                desc = True
            else:
                self.accept_word("ASC")
            nulls = None
            if self.accept_word("NULLS"):
                nulls = self.expect_word("FIRST", "LAST").upper
            items.append(OrderItem(this=e, desc=desc, nulls=nulls))
            if not self.accept_op(","):
                break
        return items

    def parse_projection(self) -> Expr:
        if self.at_op("*"):
            self.advance()
            return Star()
        e = self.parse_expr()
        if self.accept_word("AS"):
            return Alias(this=e, alias=self.parse_ident_token())
        if self.cur.kind == QIDENT or (
            self.cur.kind == WORD and self.cur.upper not in _RESERVED
        ):
            return Alias(this=e, alias=self.parse_ident_token())
        return e

    # -- FROM clause -------------------------------------------------------
    def parse_from(self) -> Relation:
        rel = self.parse_table_ref()
        while True:
            if self.accept_op(","):
                right = self.parse_table_ref()
                rel = Join(left=rel, right=right, join_type="CROSS")
                continue
            if self.at_word("LATERAL") and self.peek().kind == WORD and self.peek().upper == "VIEW":
                self.advance()
                self.advance()
                outer = bool(self.accept_word("OUTER"))
                fname = self.parse_ident_token()
                self.expect_op("(")
                fargs = [] if self.at_op(")") else self.parse_expr_list()
                self.expect_op(")")
                talias = self.parse_ident_token()
                caliases: list[str] = []
                if self.accept_word("AS"):
                    while True:
                        caliases.append(self.parse_ident_token())
                        if not self.accept_op(","):
                            break
                rel = LateralView(
                    base=rel, func=FuncCall(fname, fargs), table_alias=talias,
                    column_aliases=caliases, outer=outer,
                )
                continue
            jt = self._try_parse_join_type()
            if jt is None:
                return rel
            right = self.parse_table_ref()
            on: Optional[Expr] = None
            using: list[str] = []
            if jt != "CROSS":
                if self.accept_word("ON"):
                    on = self.parse_expr()
                elif self.accept_word("USING"):
                    self.expect_op("(")
                    while True:
                        using.append(self.parse_ident_token())
                        if not self.accept_op(","):
                            break
                    self.expect_op(")")
            rel = Join(left=rel, right=right, join_type=jt, on=on, using=using)

    def _try_parse_join_type(self) -> Optional[str]:
        if self.at_word("JOIN"):
            self.advance()
            return "INNER"
        if not self.at_word(*_JOIN_TYPES):
            return None
        first = self.advance().upper
        if first in ("LEFT", "RIGHT", "FULL"):
            if self.accept_word("OUTER"):
                pass
            elif first == "LEFT" and self.at_word("SEMI", "ANTI"):
                first = f"LEFT {self.advance().upper}"
            self.expect_word("JOIN")
            return first
        if first in ("SEMI", "ANTI"):
            self.expect_word("JOIN")
            return f"LEFT {first}"
        self.expect_word("JOIN")  # INNER or CROSS
        return first

    def parse_table_ref(self) -> Relation:
        if self.at_op("("):
            self.expect_op("(")
            q = self.parse_query()
            self.expect_op(")")
            alias = self._parse_optional_alias()
            return SubqueryRef(query=q, alias=alias)
        parts = self.parse_qualified_name()
        alias = self._parse_optional_alias()
        return TableRef(parts=parts, alias=alias)

    def _parse_optional_alias(self) -> Optional[str]:
        if self.accept_word("AS"):
            return self.parse_ident_token()
        if self.cur.kind == QIDENT or (
            self.cur.kind == WORD and self.cur.upper not in _RESERVED
        ):
            return self.parse_ident_token()
        return None

    def parse_qualified_name(self) -> list[str]:
        parts = [self.parse_ident_token()]
        while self.at_op("."):
            self.advance()
            parts.append(self.parse_ident_token())
        return parts

    def parse_ident_token(self) -> str:
        if self.cur.kind in (WORD, QIDENT):
            return self.advance().value
        raise SqlParseError(
            f"expected identifier at pos {self.cur.pos}, got {self.cur.value!r}"
        )

    # -- expressions -------------------------------------------------------
    def parse_expr_list(self) -> list[Expr]:
        out = [self.parse_expr()]
        while self.accept_op(","):
            out.append(self.parse_expr())
        return out

    def parse_expr(self) -> Expr:
        left = self.parse_and()
        while self.at_word("OR"):
            self.advance()
            left = BinaryOp("OR", left, self.parse_and())
        return left

    def parse_and(self) -> Expr:
        left = self.parse_not()
        while self.at_word("AND"):
            self.advance()
            left = BinaryOp("AND", left, self.parse_not())
        return left

    def parse_not(self) -> Expr:
        if self.at_word("NOT") and not (
            self.peek().kind == WORD and self.peek().upper in ("IN", "LIKE", "RLIKE", "ILIKE", "BETWEEN")
        ):
            self.advance()
            return UnaryOp("NOT", self.parse_not())
        if self.at_word("EXISTS"):
            self.advance()
            self.expect_op("(")
            q = self.parse_query()
            self.expect_op(")")
            return Exists(query=q)
        return self.parse_comparison()

    def parse_comparison(self) -> Expr:
        left = self.parse_additive()
        while True:
            t = self.cur
            if not (t.kind == OP and t.value in _COMPARISON_OPS
                    or t.kind == WORD and t.upper in _COMPARISON_WORDS):
                break
            if t.kind == OP:
                op = self.advance().value
                left = BinaryOp(op, left, self.parse_additive())
                continue
            if self.at_word("IS"):
                self.advance()
                negated = bool(self.accept_word("NOT"))
                if self.accept_word("NULL"):
                    left = IsNull(this=left, negated=negated)
                elif self.accept_word("TRUE"):
                    cmp_ = BinaryOp("<=>", left, Literal.bool_(True))
                    left = UnaryOp("NOT", cmp_) if negated else cmp_
                elif self.accept_word("FALSE"):
                    cmp_ = BinaryOp("<=>", left, Literal.bool_(False))
                    left = UnaryOp("NOT", cmp_) if negated else cmp_
                elif self.accept_word("DISTINCT"):
                    self.expect_word("FROM")
                    cmp_ = BinaryOp("<=>", left, self.parse_additive())
                    left = cmp_ if negated else UnaryOp("NOT", cmp_)
                else:
                    raise SqlParseError(f"bad IS clause at pos {self.cur.pos}")
                continue
            negated = False
            save = self.i
            if self.accept_word("NOT"):
                negated = True
            if self.at_word("IN"):
                self.advance()
                self.expect_op("(")
                if self.at_word("SELECT", "WITH"):
                    q = self.parse_query()
                    self.expect_op(")")
                    left = InSubquery(this=left, query=q, negated=negated)
                else:
                    items = self.parse_expr_list()
                    self.expect_op(")")
                    left = InList(this=left, items=items, negated=negated)
                continue
            if self.at_word("BETWEEN"):
                self.advance()
                low = self.parse_additive()
                self.expect_word("AND")
                high = self.parse_additive()
                left = Between(this=left, low=low, high=high, negated=negated)
                continue
            if self.at_word("LIKE", "RLIKE", "ILIKE"):
                op = self.advance().upper
                left = Like(this=left, pattern=self.parse_additive(), negated=negated, op=op)
                continue
            if negated:
                self.seek(save)
            break
        return left

    def parse_additive(self) -> Expr:
        left = self.parse_multiplicative()
        while self.at_op("+", "-", "||"):
            op = self.advance().value
            left = BinaryOp(op, left, self.parse_multiplicative())
        return left

    def parse_multiplicative(self) -> Expr:
        left = self.parse_unary()
        while self.at_op("*", "/", "%"):
            op = self.advance().value
            left = BinaryOp(op, left, self.parse_unary())
        return left

    def parse_unary(self) -> Expr:
        if self.at_op("-", "+", "~"):
            op = self.advance().value
            return UnaryOp(op, self.parse_unary())
        return self.parse_postfix()

    def parse_postfix(self) -> Expr:
        e = self.parse_primary()
        while True:
            t = self.cur
            if t.kind != OP or t.value not in ("[", "::", "."):
                break
            if t.value == "[":
                self.advance()
                idx = self.parse_expr()
                self.expect_op("]")
                e = Subscript(this=e, index=idx)
                continue
            if self.at_op("::"):  # expr::type cast shorthand
                self.advance()
                e = Cast(this=e, to_type=self.parse_type_text())
                continue
            if self.at_op(".") and isinstance(e, Identifier):
                nxt = self.peek()
                if nxt.kind == OP and nxt.value == "*":
                    self.advance()
                    self.advance()
                    return Star(qualifier=e.parts)
                if nxt.kind in (WORD, QIDENT):
                    self.advance()
                    e.parts.append(self.advance().value)
                    continue
            break
        return e

    def parse_primary(self) -> Expr:
        t = self.cur
        if t.kind == NUMBER:
            self.advance()
            return Literal.number(t.value)
        if t.kind == STRING:
            self.advance()
            return Literal.string(t.value)
        if t.kind == OP and t.value == "(":
            self.advance()
            if self.at_word("SELECT", "WITH"):
                q = self.parse_query()
                self.expect_op(")")
                return ScalarSubquery(query=q)
            first = self.parse_expr()
            if self.at_op(","):
                # row constructor / lambda params
                items = [first]
                while self.accept_op(","):
                    items.append(self.parse_expr())
                self.expect_op(")")
                if self.at_op("->"):
                    self.advance()
                    params = [i.name for i in items if isinstance(i, Identifier)]
                    return Lambda(params=params, body=self.parse_expr())
                return FuncCall("struct", items)
            self.expect_op(")")
            if self.at_op("->") and isinstance(first, Identifier):
                self.advance()
                return Lambda(params=[first.name], body=self.parse_expr())
            return first
        if t.kind == WORD:
            u = t.upper
            if u in _PRIMARY_WORDS:
                if u == "NULL":
                    self.advance()
                    return Literal.null()
                if u in ("TRUE", "FALSE"):
                    self.advance()
                    return Literal.bool_(u == "TRUE")
                if u == "CASE":
                    return self.parse_case()
                if u in ("CAST", "TRY_CAST"):
                    self.advance()
                    self.expect_op("(")
                    inner = self.parse_expr()
                    self.expect_word("AS")
                    to_type = self.parse_type_text()
                    self.expect_op(")")
                    return Cast(this=inner, to_type=to_type,
                                try_=(u == "TRY_CAST"))
                if u == "INTERVAL":
                    start = t.pos
                    self.advance()
                    # INTERVAL '<v>' UNIT [TO UNIT] | INTERVAL 3 DAYS
                    if self.cur.kind in (STRING, NUMBER):
                        self.advance()
                    end_tok = None
                    while self.cur.kind == WORD and self.cur.upper in (
                        "YEAR", "YEARS", "MONTH", "MONTHS", "DAY", "DAYS",
                        "HOUR", "HOURS", "MINUTE", "MINUTES", "SECOND",
                        "SECONDS", "WEEK", "WEEKS", "TO",
                    ):
                        end_tok = self.advance()
                    last = end_tok or self.tokens[self.i - 1]
                    end = last.pos + len(last.value)
                    return IntervalLiteral(self.sql[start:end])
                if u in ("DATE", "TIMESTAMP") and self.peek().kind == STRING:
                    self.advance()
                    lit = self.advance()
                    return IntervalLiteral(
                        f"{u} {Literal.string(lit.value).sql()}")
            # function call? (a WORD is never EOF: a next token exists)
            nxt = self.tokens[self.i + 1]
            if nxt.kind == OP and nxt.value == "(":
                name = self.advance().value
                self.expect_op("(")
                distinct = bool(self.accept_word("DISTINCT"))
                if self.at_op("*"):
                    self.advance()
                    args: list[Expr] = [Star()]
                elif self.at_op(")"):
                    args = []
                else:
                    args = self.parse_expr_list()
                self.expect_op(")")
                call = FuncCall(name=name, args=args, distinct=distinct)
                if self.at_word("OVER"):
                    self.advance()
                    self.expect_op("(")
                    call.over = self.parse_window_spec()
                    self.expect_op(")")
                return call
            # plain identifier
            self.advance()
            return Identifier(parts=[t.value])
        if t.kind == QIDENT:
            self.advance()
            return Identifier(parts=[t.value])
        if t.kind == OP and t.value == "*":
            self.advance()
            return Star()
        if t.kind == OP and t.value == "?":
            self.advance()
            return Identifier(parts=["?"])
        raise SqlParseError(f"unexpected token {t.value!r} at pos {t.pos}")

    def parse_case(self) -> Case:
        self.expect_word("CASE")
        operand = None
        if not self.at_word("WHEN"):
            operand = self.parse_expr()
        whens: list[tuple[Expr, Expr]] = []
        while self.accept_word("WHEN"):
            cond = self.parse_expr()
            self.expect_word("THEN")
            whens.append((cond, self.parse_expr()))
        else_ = None
        if self.accept_word("ELSE"):
            else_ = self.parse_expr()
        self.expect_word("END")
        return Case(operand=operand, whens=whens, else_=else_)

    def parse_window_spec(self) -> WindowSpec:
        spec = WindowSpec()
        if self.at_word("PARTITION"):
            self.advance()
            self.expect_word("BY")
            spec.partition_by = self.parse_expr_list()
        if self.at_word("ORDER"):
            spec.order_by = self.parse_order_by()
        if self.at_word("ROWS", "RANGE"):
            start = self.cur.pos
            # consume frame tokens up to closing paren
            depth = 0
            last = self.cur
            while not (self.at_op(")") and depth == 0) and self.cur.kind != EOF:
                if self.at_op("("):
                    depth += 1
                elif self.at_op(")"):
                    depth -= 1
                last = self.advance()
            spec.frame = self.sql[start:last.pos + len(last.value)]
        return spec

    def parse_type_text(self) -> str:
        """Parse a type name like DECIMAL(10, 5), ARRAY<FLOAT>, STRING — as text."""
        start = self.cur.pos
        base = self.parse_ident_token()
        end = start + len(base)
        if self.at_op("<"):
            depth = 0
            while True:
                t = self.advance()
                if t.kind == OP and t.value == "<":
                    depth += 1
                elif t.kind == OP and t.value == ">":
                    depth -= 1
                    if depth == 0:
                        end = t.pos + 1
                        break
                elif t.kind == EOF:
                    raise SqlParseError("unterminated type parameter list")
        elif self.at_op("("):
            while True:
                t = self.advance()
                if t.kind == OP and t.value == ")":
                    end = t.pos + 1
                    break
                if t.kind == EOF:
                    raise SqlParseError("unterminated type argument list")
        return self.sql[start:end].upper()


def parse_statement(sql: str) -> Node:
    """SQL string → AST; single statement only (ParserImplExtension.java:67-76)."""
    try:
        return _Parser(sql).parse_statement()
    except SqlTokenizeError as e:
        # lexical errors surface as parse errors: callers need one catch
        raise SqlParseError(str(e)) from e


def parse_query(sql: str) -> Query:
    try:
        p = _Parser(sql)
        q = p.parse_query()
    except SqlTokenizeError as e:
        raise SqlParseError(str(e)) from e
    if p.cur.kind != EOF:
        raise SqlParseError(f"trailing input at pos {p.cur.pos}")
    return q


def parse_expression(sql: str) -> Expr:
    """Expression fragment → AST (ParserImplExtension.java:54-58 analogue)."""
    try:
        p = _Parser(sql)
        e = p.parse_expr()
    except SqlTokenizeError as e:
        raise SqlParseError(str(e)) from e
    if p.cur.kind != EOF:
        raise SqlParseError(f"trailing input at pos {p.cur.pos}")
    return e
