"""SQL plan/IR layer: tokenizer, AST nodes, parser, printer, qualify pass.

Replaces the reference's Calcite front-end (parse/validate/print of
``SecurityContext.java:172-178`` + ``ParserImplExtension.java``) with a
dependency-free pure-Python implementation targeting the Spark SQL dialect.
"""

from .nodes import (  # noqa: F401
    Alias, Between, BinaryOp, Case, Cast, Exists, Expr, FuncCall, Identifier,
    InList, InSubquery, Insert, IntervalLiteral, IsNull, Join, Lambda,
    LateralView, Like, Literal, Node, OrderItem, Query, Relation,
    ScalarSubquery, Select, SetOp, Star, SubqueryRef, Subscript, TableRef,
    UnaryOp, WindowSpec, With, and_, read_names,
)
from .parser import SqlParseError, parse_expression, parse_query, parse_statement  # noqa: F401
from .qualify import SchemaProvider, qualify  # noqa: F401
