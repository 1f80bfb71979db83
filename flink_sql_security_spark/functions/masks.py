"""Mask-function library: Hive mask semantics on Spark built-ins.

The reference's rewritten SQL calls Hive UDFs (``mask``, ``mask_show_first_n``,
``mask_hash`` …) executed by Flink's Hive module (``AbstractBasicTest.java:74``;
templates in ``resources/data_mask_types.json``; goldens
``CommonTest.java:77-86``). Spark only ships ``mask`` natively (≥3.4), so this
module *lowers* Hive mask calls into compositions of Spark built-ins
(``mask``/``substring``/``concat``/``sha2``) at rewrite time. Everything stays
inside whole-stage codegen — no Python UDFs on the data path.

Hive semantics replicated (golden-tested):
- char classes: upper→'X', lower→'x', digit→'n' by default; other chars kept
- ``-1`` for a char argument means "keep that class unchanged"
- ``mask_show_first_n('Jack', 4, ...)`` → 'Jack' (short strings pass through)
- ``mask_hash`` = sha256 hex (Hive ≥3)

The AST-level lowering serves the SQL rewrite and, through
``instantiate_transformer(...).sql()`` in ``F.expr``, the DataFrame path;
DuckDB-SQL emitters serve the oracle harness.
"""

from __future__ import annotations

from typing import Optional

from ..plans.nodes import Cast, Expr, FuncCall, Literal, Node, UnaryOp

_HIVE_MASK_FNS = {
    "mask", "mask_first_n", "mask_last_n", "mask_show_first_n",
    "mask_show_last_n", "mask_hash",
}

_DEFAULT_UPPER = "X"
_DEFAULT_LOWER = "x"
_DEFAULT_DIGIT = "n"


def is_hive_mask_call(e: Node) -> bool:
    return isinstance(e, FuncCall) and e.name.lower() in _HIVE_MASK_FNS


def _char_arg(e: Optional[Expr], default: Optional[str]) -> Optional[str]:
    """Normalize a Hive char argument: string literal → char, -1 → keep (None)."""
    if e is None:
        return default
    if isinstance(e, UnaryOp) and e.op == "-" and isinstance(e.this, Literal):
        return None  # -1 == keep this character class
    if isinstance(e, Literal):
        if e.kind == "string":
            return str(e.value)
        if e.kind == "number":
            return None if str(e.value).startswith("-") else str(e.value)
    raise ValueError(f"unsupported mask char argument: {e.sql()}")


def _int_arg(e: Optional[Expr], default: int) -> int:
    if e is None:
        return default
    if isinstance(e, Literal) and e.kind == "number":
        return int(str(e.value))
    raise ValueError(f"mask charCount must be an integer literal, got: {e.sql()}")


def _lit(c: Optional[str]) -> Expr:
    return Literal.string(c) if c is not None else Literal.null()


def _spark_mask(col: Expr, up: Optional[str], low: Optional[str],
                dig: Optional[str]) -> Expr:
    """Spark built-in mask(col, upperChar, lowerChar, digitChar, otherChar=NULL keep)."""
    if (up, low, dig) == (_DEFAULT_UPPER, _DEFAULT_LOWER, _DEFAULT_DIGIT):
        return FuncCall("mask", [col])
    return FuncCall("mask", [col, _lit(up), _lit(low), _lit(dig), Literal.null()])


def _substr(col: Expr, start: Expr, length: Optional[Expr] = None) -> Expr:
    args = [col, start] if length is None else [col, start, length]
    return FuncCall("substring", args)


def _len_minus(col: Expr, n: int) -> Expr:
    from ..plans.nodes import BinaryOp
    return BinaryOp("-", FuncCall("length", [col]), Literal.number(n))


def lower_mask_call(call: FuncCall) -> Expr:
    """Lower one Hive mask-fn call to a Spark built-in expression tree."""
    name = call.name.lower()
    args = call.args
    col = args[0]

    if name == "mask_hash":
        # Hive ≥3 mask_hash = sha256 hex (golden CommonTest.java:84-85)
        return FuncCall("sha2", [col, Literal.number(256)])

    if name == "mask":
        up = _char_arg(args[1] if len(args) > 1 else None, _DEFAULT_UPPER)
        low = _char_arg(args[2] if len(args) > 2 else None, _DEFAULT_LOWER)
        dig = _char_arg(args[3] if len(args) > 3 else None, _DEFAULT_DIGIT)
        if len(args) >= 9:
            # date-style signature mask(c, ..., day, month, year): the registry's
            # MASK_DATE_SHOW_YEAR uses (1, 0, -1) = day→1, month→Jan, year kept,
            # i.e. truncate to the year (data_mask_types.json itemId 12)
            return FuncCall("trunc", [col, Literal.string("YEAR")])
        return _spark_mask(col, up, low, dig)

    n = _int_arg(args[1] if len(args) > 1 else None, 4)
    up = _char_arg(args[2] if len(args) > 2 else None, _DEFAULT_UPPER)
    low = _char_arg(args[3] if len(args) > 3 else None, _DEFAULT_LOWER)
    dig = _char_arg(args[4] if len(args) > 4 else None, _DEFAULT_DIGIT)
    # args[5] otherChar (-1 keep) and args[6] numberChar apply to non-string
    # types in Hive; string masking keeps other chars either way.

    if name == "mask_first_n":
        # mask the first n chars, keep the rest
        return FuncCall("concat", [
            _spark_mask(_substr(col, Literal.number(1), Literal.number(n)), up, low, dig),
            _substr(col, Literal.number(n + 1)),
        ])
    if name == "mask_last_n":
        # keep all but the last n chars, mask the tail
        return FuncCall("concat", [
            _substr(col, Literal.number(1), _len_minus(col, n)),
            _spark_mask(FuncCall("right", [col, Literal.number(n)]), up, low, dig),
        ])
    if name == "mask_show_first_n":
        # show first n chars, mask the rest ('Jack' stays 'Jack':
        # ExecuteDataMaskTest.java:94)
        return FuncCall("concat", [
            _substr(col, Literal.number(1), Literal.number(n)),
            _spark_mask(_substr(col, Literal.number(n + 1)), up, low, dig),
        ])
    if name == "mask_show_last_n":
        return FuncCall("concat", [
            _spark_mask(_substr(col, Literal.number(1), _len_minus(col, n)), up, low, dig),
            FuncCall("right", [col, Literal.number(n)]),
        ])
    raise ValueError(f"unknown mask function: {name}")


def lower_hive_masks(node: Node) -> Node:
    """Recursively lower every Hive mask call inside an AST (in place),
    through every child a node holds, ``Case.whens`` pairs included."""

    def _rewrite(v):
        if isinstance(v, Node):
            lowered = lower_mask_call(v) if is_hive_mask_call(v) else v
            for name in lowered._child_fields:
                setattr(lowered, name, _rewrite(getattr(lowered, name)))
            return lowered
        if isinstance(v, list):
            return [_rewrite(i) for i in v]
        if isinstance(v, tuple):
            return tuple(_rewrite(i) for i in v)
        return v

    return _rewrite(node)


def instantiate_transformer(template: str, column_sql: str) -> Expr:
    """Template ``mask_show_first_n({col}, 4, ...)`` + column ref → lowered AST.

    Mirrors the {col} substitution of ``DataMaskVisitor.java:97-99`` followed by
    expression parse, then applies the Spark lowering.
    """
    from ..plans.parser import parse_expression

    expr = parse_expression(template.replace("{col}", column_sql))
    return lower_hive_masks(expr)


# --------------------------------------------------------------------------
# DuckDB oracle emitters — same semantics in portable ANSI SQL
# --------------------------------------------------------------------------

def duckdb_mask_sql(col: str, up: Optional[str] = _DEFAULT_UPPER,
                    low: Optional[str] = _DEFAULT_LOWER,
                    dig: Optional[str] = _DEFAULT_DIGIT) -> str:
    """regexp_replace chain equivalent of Hive/Spark mask() for ASCII data."""
    s = col
    if up is not None:
        s = f"regexp_replace({s}, '[A-Z]', '{up}', 'g')"
    if low is not None:
        s = f"regexp_replace({s}, '[a-z]', '{low}', 'g')"
    if dig is not None:
        s = f"regexp_replace({s}, '[0-9]', '{dig}', 'g')"
    return s


def duckdb_mask_show_first_n_sql(col: str, n: int = 4, up="x", low="x", dig="x") -> str:
    return (f"concat(substring({col}, 1, {n}), "
            f"{duckdb_mask_sql(f'substring({col}, {n + 1})', up, low, dig)})")


def duckdb_mask_show_last_n_sql(col: str, n: int = 4, up="x", low="x", dig="x") -> str:
    inner = f"substring({col}, 1, greatest(length({col}) - {n}, 0))"
    return (f"concat({duckdb_mask_sql(inner, up, low, dig)}, "
            f"right({col}, {n}))")


def duckdb_mask_hash_sql(col: str) -> str:
    return f"sha256({col})"
