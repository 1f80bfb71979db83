"""AST node model for the security layer's SQL IR.

This is our analogue of the Calcite ``SqlNode`` tree the reference mutates
(``visitor/basic/AbstractBasicVisitor.java``, ``SecurityContext.java:172-178``).
Nodes are plain mutable dataclasses; printing is deterministic, precedence-aware
Spark SQL (keywords uppercase, identifiers backtick-quoted only when needed).
"""

from __future__ import annotations

import dataclasses
import re
from dataclasses import dataclass, field
from typing import Callable, Optional, Union

_BARE_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def quote_ident(name: str) -> str:
    if _BARE_IDENT.fullmatch(name):
        return name
    return "`" + name.replace("`", "``") + "`"


def quote_string(value: str) -> str:
    return "'" + value.replace("'", "''") + "'"


# annotations of the fields that never hold a node
_SCALAR_TYPES = frozenset({"str", "bool", "int", "list[str]", "Optional[str]",
                           "Optional[int]"})


_ATOMS = (str, int, float, type(None))  # immutable: shared by a copy


def copy_tree(value):
    """Structural copy of an AST (or of a list or tuple of nodes): every
    node, list and tuple is new, so mutating the copy leaves ``value`` as
    it was. A node's whole instance state is copied, attributes set in
    ``__post_init__`` (``BinaryOp.precedence``) included."""
    if isinstance(value, Node):
        new = object.__new__(type(value))
        new.__dict__ = {k: v if isinstance(v, _ATOMS) else copy_tree(v)
                        for k, v in value.__dict__.items()}
        return new
    if isinstance(value, list):
        return [v if isinstance(v, _ATOMS) else copy_tree(v) for v in value]
    if isinstance(value, tuple):
        return tuple(v if isinstance(v, _ATOMS) else copy_tree(v)
                     for v in value)
    return value


class Node:
    """Base AST node: generic child iteration + deep SQL printing."""

    # names of the fields that can hold a child node, set per class below
    _child_fields: tuple[str, ...] = ()

    def children(self) -> list["Node"]:
        out: list[Node] = []
        for name in self._child_fields:
            v = getattr(self, name)
            if isinstance(v, Node):
                out.append(v)
            elif isinstance(v, (list, tuple)):
                for item in v:
                    if isinstance(item, Node):
                        out.append(item)
                    elif isinstance(item, (list, tuple)):
                        out.extend(s for s in item if isinstance(s, Node))
        return out

    def sql(self) -> str:
        raise NotImplementedError

    def __str__(self) -> str:
        return self.sql()


# --------------------------------------------------------------------------
# Expressions
# --------------------------------------------------------------------------

class Expr(Node):
    precedence = 99  # atoms never need parens

    def _child_sql(self, child: "Expr", allow_equal: bool = True) -> str:
        s = child.sql()
        cp = getattr(child, "precedence", 99)
        if cp < self.precedence or (cp == self.precedence and not allow_equal):
            return f"({s})"
        return s


@dataclass
class Literal(Expr):
    value: object          # python value for string/bool/None; raw text for numbers
    kind: str              # 'string' | 'number' | 'bool' | 'null'

    def sql(self) -> str:
        if self.kind == "string":
            return quote_string(str(self.value))
        if self.kind == "null":
            return "NULL"
        if self.kind == "bool":
            return "TRUE" if self.value else "FALSE"
        return str(self.value)

    @staticmethod
    def string(v: str) -> "Literal":
        return Literal(v, "string")

    @staticmethod
    def number(v: Union[int, float, str]) -> "Literal":
        return Literal(str(v), "number")

    @staticmethod
    def null() -> "Literal":
        return Literal(None, "null")

    @staticmethod
    def bool_(v: bool) -> "Literal":
        return Literal(v, "bool")


@dataclass
class Identifier(Expr):
    """Possibly-qualified name: column ``a``, ``t.a``, table ``cat.db.t``."""
    parts: list[str]

    def sql(self) -> str:
        return ".".join(quote_ident(p) for p in self.parts)

    @property
    def name(self) -> str:
        return self.parts[-1]

    @property
    def qualifier(self) -> list[str]:
        return self.parts[:-1]


@dataclass
class Star(Expr):
    qualifier: list[str] = field(default_factory=list)  # for t.*

    def sql(self) -> str:
        if self.qualifier:
            return ".".join(quote_ident(p) for p in self.qualifier) + ".*"
        return "*"


@dataclass
class FuncCall(Expr):
    name: str
    args: list[Expr] = field(default_factory=list)
    distinct: bool = False
    over: Optional["WindowSpec"] = None

    def sql(self) -> str:
        inner = ", ".join(a.sql() for a in self.args)
        if self.distinct:
            inner = "DISTINCT " + inner
        s = f"{self.name}({inner})"
        if self.over is not None:
            s += f" OVER ({self.over.sql()})"
        return s


@dataclass
class WindowSpec(Node):
    partition_by: list[Expr] = field(default_factory=list)
    order_by: list["OrderItem"] = field(default_factory=list)
    frame: Optional[str] = None  # raw frame text, e.g. "ROWS BETWEEN ..."

    def sql(self) -> str:
        parts = []
        if self.partition_by:
            parts.append("PARTITION BY " + ", ".join(e.sql() for e in self.partition_by))
        if self.order_by:
            parts.append("ORDER BY " + ", ".join(o.sql() for o in self.order_by))
        if self.frame:
            parts.append(self.frame)
        return " ".join(parts)


@dataclass
class Cast(Expr):
    this: Expr
    to_type: str
    try_: bool = False

    def sql(self) -> str:
        kw = "TRY_CAST" if self.try_ else "CAST"
        return f"{kw}({self.this.sql()} AS {self.to_type})"


_PRECEDENCE = {
    "OR": 1,
    "AND": 2,
    "=": 4, "==": 4, "!=": 4, "<>": 4, "<": 4, "<=": 4, ">": 4, ">=": 4, "<=>": 4,
    "||": 5, "+": 5, "-": 5,
    "*": 6, "/": 6, "%": 6,
}
_ASSOCIATIVE = {"AND", "OR", "+", "*", "||"}


@dataclass
class BinaryOp(Expr):
    op: str
    left: Expr
    right: Expr

    def __post_init__(self) -> None:
        self.precedence = _PRECEDENCE.get(self.op.upper(), 4)

    def sql(self) -> str:
        op = self.op.upper() if self.op.upper() in ("AND", "OR") else self.op
        same_ok = op in _ASSOCIATIVE
        left = self._child_sql(self.left, allow_equal=True)
        right = self._child_sql(self.right, allow_equal=same_ok)
        return f"{left} {op} {right}"


@dataclass
class UnaryOp(Expr):
    op: str  # 'NOT' | '-' | '+' | '~'
    this: Expr

    def __post_init__(self) -> None:
        self.precedence = 3 if self.op.upper() == "NOT" else 7

    def sql(self) -> str:
        op = self.op.upper()
        inner = self._child_sql(self.this)
        if op == "NOT":
            return f"NOT {inner}"
        return f"{op}{inner}"


@dataclass
class IsNull(Expr):
    this: Expr
    negated: bool = False
    precedence = 4

    def sql(self) -> str:
        return f"{self._child_sql(self.this)} IS {'NOT ' if self.negated else ''}NULL"


@dataclass
class InList(Expr):
    this: Expr
    items: list[Expr]
    negated: bool = False
    precedence = 4

    def sql(self) -> str:
        items = ", ".join(i.sql() for i in self.items)
        return f"{self._child_sql(self.this)} {'NOT ' if self.negated else ''}IN ({items})"


@dataclass
class InSubquery(Expr):
    this: Expr
    query: "Query"
    negated: bool = False
    precedence = 4

    def sql(self) -> str:
        return f"{self._child_sql(self.this)} {'NOT ' if self.negated else ''}IN ({self.query.sql()})"


@dataclass
class Between(Expr):
    this: Expr
    low: Expr
    high: Expr
    negated: bool = False
    precedence = 4

    def sql(self) -> str:
        return (
            f"{self._child_sql(self.this)} {'NOT ' if self.negated else ''}BETWEEN "
            f"{self._child_sql(self.low)} AND {self._child_sql(self.high)}"
        )


@dataclass
class Like(Expr):
    this: Expr
    pattern: Expr
    negated: bool = False
    op: str = "LIKE"  # LIKE | RLIKE | ILIKE
    precedence = 4

    def sql(self) -> str:
        return (
            f"{self._child_sql(self.this)} {'NOT ' if self.negated else ''}{self.op} "
            f"{self._child_sql(self.pattern)}"
        )


@dataclass
class Case(Expr):
    operand: Optional[Expr]
    whens: list[tuple[Expr, Expr]]
    else_: Optional[Expr] = None

    def sql(self) -> str:
        parts = ["CASE"]
        if self.operand is not None:
            parts.append(self.operand.sql())
        for cond, res in self.whens:
            parts.append(f"WHEN {cond.sql()} THEN {res.sql()}")
        if self.else_ is not None:
            parts.append(f"ELSE {self.else_.sql()}")
        parts.append("END")
        return " ".join(parts)


@dataclass
class Exists(Expr):
    query: "Query"
    negated: bool = False

    def sql(self) -> str:
        return f"{'NOT ' if self.negated else ''}EXISTS ({self.query.sql()})"


@dataclass
class ScalarSubquery(Expr):
    query: "Query"

    def sql(self) -> str:
        return f"({self.query.sql()})"


@dataclass
class Lambda(Expr):
    params: list[str]
    body: Expr

    def sql(self) -> str:
        head = self.params[0] if len(self.params) == 1 else "(" + ", ".join(self.params) + ")"
        return f"{head} -> {self.body.sql()}"


@dataclass
class IntervalLiteral(Expr):
    text: str  # raw, e.g. "INTERVAL '3' DAY"

    def sql(self) -> str:
        return self.text


@dataclass
class Subscript(Expr):
    this: Expr
    index: Expr

    def sql(self) -> str:
        return f"{self._child_sql(self.this)}[{self.index.sql()}]"


@dataclass
class Alias(Expr):
    """Projection item ``expr AS name``."""
    this: Expr
    alias: str

    def sql(self) -> str:
        return f"{self.this.sql()} AS {quote_ident(self.alias)}"


# --------------------------------------------------------------------------
# Relations
# --------------------------------------------------------------------------

class Relation(Node):
    alias: Optional[str]


@dataclass
class TableRef(Relation):
    parts: list[str]
    alias: Optional[str] = None
    # set by qualify when the name resolves to a CTE in scope: no policy
    # applies to the ref itself (the CTE's own base reads carry them)
    cte: bool = False

    def sql(self) -> str:
        s = ".".join(quote_ident(p) for p in self.parts)
        if self.alias:
            s += f" AS {quote_ident(self.alias)}"
        return s

    @property
    def name(self) -> str:
        return self.parts[-1]

    def effective_alias(self) -> str:
        return self.alias or self.parts[-1]


# the alias qualify gives a derived table written without one
SUBQUERY_ALIAS = "_subquery"


@dataclass
class SubqueryRef(Relation):
    query: "Query"
    alias: Optional[str] = None

    def sql(self) -> str:
        s = f"({self.query.sql()})"
        if self.alias:
            s += f" AS {quote_ident(self.alias)}"
        return s


@dataclass
class Join(Relation):
    left: Relation
    right: Relation
    join_type: str = "INNER"  # INNER | LEFT | RIGHT | FULL | CROSS | LEFT SEMI | LEFT ANTI
    on: Optional[Expr] = None
    using: list[str] = field(default_factory=list)
    alias: Optional[str] = None  # unused; joins aren't aliased

    def sql(self) -> str:
        jt = self.join_type.upper()
        kw = "JOIN" if jt == "INNER" else f"{jt} JOIN"
        s = f"{self.left.sql()} {kw} {self.right.sql()}"
        if self.on is not None:
            s += f" ON {self.on.sql()}"
        elif self.using:
            s += " USING (" + ", ".join(quote_ident(c) for c in self.using) + ")"
        return s


@dataclass
class LateralView(Relation):
    """LATERAL VIEW [OUTER] explode(...) t AS c1, c2 — Spark/Hive extension."""
    base: Relation
    func: FuncCall
    table_alias: str
    column_aliases: list[str] = field(default_factory=list)
    outer: bool = False
    alias: Optional[str] = None

    def sql(self) -> str:
        s = f"{self.base.sql()} LATERAL VIEW "
        if self.outer:
            s += "OUTER "
        s += f"{self.func.sql()} {quote_ident(self.table_alias)}"
        if self.column_aliases:
            s += " AS " + ", ".join(quote_ident(c) for c in self.column_aliases)
        return s


# --------------------------------------------------------------------------
# Queries / statements
# --------------------------------------------------------------------------

class Query(Node):
    pass


@dataclass
class OrderItem(Node):
    this: Expr
    desc: bool = False
    nulls: Optional[str] = None  # 'FIRST' | 'LAST'

    def sql(self) -> str:
        s = self.this.sql()
        if self.desc:
            s += " DESC"
        if self.nulls:
            s += f" NULLS {self.nulls}"
        return s


@dataclass
class Select(Query):
    projections: list[Expr] = field(default_factory=list)
    from_: Optional[Relation] = None
    where: Optional[Expr] = None
    group_by: list[Expr] = field(default_factory=list)
    group_modifier: Optional[str] = None  # 'ROLLUP' | 'CUBE' | raw GROUPING SETS text
    having: Optional[Expr] = None
    order_by: list[OrderItem] = field(default_factory=list)
    limit: Optional[int] = None
    distinct: bool = False

    def sql(self) -> str:
        parts = ["SELECT"]
        if self.distinct:
            parts.append("DISTINCT")
        parts.append(", ".join(p.sql() for p in self.projections))
        if self.from_ is not None:
            parts.append("FROM " + self.from_.sql())
        if self.where is not None:
            parts.append("WHERE " + self.where.sql())
        if self.group_by or self.group_modifier:
            cols = ", ".join(e.sql() for e in self.group_by)
            if self.group_modifier in ("ROLLUP", "CUBE"):
                parts.append(f"GROUP BY {self.group_modifier}({cols})")
            elif self.group_modifier:  # raw GROUPING SETS text (group_by is
                parts.append(f"GROUP BY {self.group_modifier}")  # empty then)
            else:
                parts.append("GROUP BY " + cols)
        if self.having is not None:
            parts.append("HAVING " + self.having.sql())
        if self.order_by:
            parts.append("ORDER BY " + ", ".join(o.sql() for o in self.order_by))
        if self.limit is not None:
            parts.append(f"LIMIT {self.limit}")
        return " ".join(parts)


SET_PRECEDENCE = {"UNION": 1, "EXCEPT": 1, "INTERSECT": 2}  # as in Spark


@dataclass
class SetOp(Query):
    op: str  # UNION | INTERSECT | EXCEPT
    left: Query
    right: Query
    all: bool = False
    order_by: list[OrderItem] = field(default_factory=list)
    limit: Optional[int] = None

    def sql(self) -> str:
        left = self._operand_sql(self.left, right=False)
        right = self._operand_sql(self.right, right=True)
        s = f"{left} {self.op}{' ALL' if self.all else ''} {right}"
        if self.order_by:
            s += " ORDER BY " + ", ".join(o.sql() for o in self.order_by)
        if self.limit is not None:
            s += f" LIMIT {self.limit}"
        return s

    def _operand_sql(self, q: Query, right: bool) -> str:
        """``q`` in parentheses where Spark would group it otherwise: one
        level groups left to right, and a WITH, ORDER BY or LIMIT spans it."""
        wrap = isinstance(q, With) or q.order_by or q.limit is not None
        if isinstance(q, SetOp):
            gap = SET_PRECEDENCE[q.op] - SET_PRECEDENCE[self.op]
            wrap = wrap or gap < 0 or (right and gap == 0)
        return f"({q.sql()})" if wrap else q.sql()


@dataclass
class With(Query):
    ctes: list[tuple[str, Query]]
    body: Query

    def sql(self) -> str:
        ctes = ", ".join(f"{quote_ident(n)} AS ({q.sql()})" for n, q in self.ctes)
        return f"WITH {ctes} {self.body.sql()}"


@dataclass
class Insert(Node):
    table: list[str]
    query: Query
    columns: list[str] = field(default_factory=list)
    overwrite: bool = False

    def sql(self) -> str:
        kw = "INSERT OVERWRITE TABLE" if self.overwrite else "INSERT INTO"
        s = f"{kw} " + ".".join(quote_ident(p) for p in self.table)
        if self.columns:
            s += " (" + ", ".join(quote_ident(c) for c in self.columns) + ")"
        return s + " " + self.query.sql()


def _set_child_fields(cls: type) -> None:
    for sub in cls.__subclasses__():
        if dataclasses.is_dataclass(sub):
            sub._child_fields = tuple(
                f.name for f in dataclasses.fields(sub)
                if f.type not in _SCALAR_TYPES)
        _set_child_fields(sub)


_set_child_fields(Node)


def and_(left: Optional[Expr], right: Expr) -> Expr:
    """``new_where = old_where AND filter`` with precedence-preserving print.

    Mirrors ``RowFilterVisitor.buildWhereClause`` (RowFilterVisitor.java:111-125):
    an OR-rooted old WHERE is parenthesized automatically by precedence printing.
    """
    if left is None:
        return right
    return BinaryOp("AND", left, right)


def rewrite_tables(node: Node,
                   step: Callable[[Select, TableRef], Relation]) -> Node:
    """Replace every base-table ref read by a SELECT under ``node`` with
    ``step(select, table)``, in place; nested queries are rewritten first.

    The one statement walk of the security layer (``AbstractBasicVisitor``
    in the reference): it reaches every query of the statement (CTEs, set
    operands, derived tables, IN/EXISTS/scalar subqueries) and, per SELECT,
    recurses the FROM tree through join operands and a lateral view's base
    (``RowFilterVisitor.java:64-86``). A derived table is a query of its own
    and gets its own step; what ``step`` builds is never walked. A ref that
    qualify resolved to a CTE (``TableRef.cte``) is not a base table and is
    left alone.
    """
    for child in node.children():
        if child._child_fields:  # a leaf holds no query
            rewrite_tables(child, step)
    if isinstance(node, Select) and node.from_ is not None:
        node.from_ = _rewrite_from(node.from_, node, step)
    return node


# a name in raw clause text: a backticked name (`` escapes `) or a word
_RAW_NAME = re.compile(r"`((?:[^`]|``)*)`|(\w+)")


def read_names(node: Node) -> Optional[frozenset[str]]:
    """A lowercased superset of every column name the statement under
    ``node`` can resolve, or None when a star is left in it.

    The names are every part of every identifier (qualified, correlated,
    struct paths, lambda bodies), every ``JOIN … USING`` name and every
    word or backticked name of the raw-text fields (GROUPING SETS,
    window frames, interval and typed literals). A star that qualify
    could not expand (``struct(t.*)``, a star over an unknown table)
    reads columns this walk cannot name; the sole ``*`` of ``count(*)``
    reads none.
    """
    names: set[str] = set()
    raw: list[str] = []
    todo = [node]
    while todo:
        n = todo.pop()
        if isinstance(n, Identifier):
            names.update(p.lower() for p in n.parts)
            continue
        if isinstance(n, Star):
            return None
        if isinstance(n, FuncCall) and _is_count_star(n):
            if n.over is not None:
                todo.append(n.over)
            continue
        if isinstance(n, Join):
            names.update(c.lower() for c in n.using)
        elif isinstance(n, Select) and n.group_modifier:
            raw.append(n.group_modifier)
        elif isinstance(n, WindowSpec) and n.frame:
            raw.append(n.frame)
        elif isinstance(n, IntervalLiteral):
            raw.append(n.text)
        todo.extend(n.children())
    for text in raw:
        for quoted, word in _RAW_NAME.findall(text):
            names.add((word or quoted.replace("``", "`")).lower())
    return frozenset(names)


def _is_count_star(call: FuncCall) -> bool:
    return (call.name.lower() == "count" and not call.distinct
            and len(call.args) == 1 and isinstance(call.args[0], Star)
            and not call.args[0].qualifier)


def _rewrite_from(rel: Relation, select: Select, step) -> Relation:
    if isinstance(rel, Join):
        rel.left = _rewrite_from(rel.left, select, step)
        rel.right = _rewrite_from(rel.right, select, step)
    elif isinstance(rel, LateralView):
        rel.base = _rewrite_from(rel.base, select, step)
    elif isinstance(rel, TableRef) and not rel.cte:
        return step(select, rel)
    return rel
