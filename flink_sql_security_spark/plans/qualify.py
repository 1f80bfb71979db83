"""Qualification pass — our analogue of the reference's validate step.

The reference validates via Flink/Calcite (``ParserImplExtension.java:85-89``),
which (1) expands ``SELECT *`` to the full column list, (2) auto-aliases bare
table refs, and (3) qualifies column refs with their table alias (observable in
every golden, e.g. ``RewriteRowFilterTest.java:485-501``). This pass reproduces
those three behaviors against a pluggable schema provider.

Names are resolved in one walk. Qualifying a query returns its output column
names (None when one is unknown: an unnamed computed column, or a star over an
unknown schema), and a FROM scope registers each derived table with the columns
its own qualification returned. So each FROM tree is collected once and each
base-table ref costs one schema lookup, however deep it is nested.

CTE scoping: each ``WITH`` opens a child scope, so its names are visible only
in its later CTEs, its body and their subqueries, never in a sibling set-op
operand. A single-part table ref that resolves to a visible CTE is marked
``TableRef.cte``; the policy walk (``nodes.rewrite_tables``) skips it, because
the CTE's own base-table reads carry the policies.

Deviation (documented): the reference also expands table paths to
``hive.default.orders``. We keep paths as written because Spark temp views do
not live under ``spark_catalog.default`` — expanding would break view-backed
tables. Aliasing (the semantically load-bearing part) is identical.
"""

from __future__ import annotations

from typing import Callable, Optional

from .nodes import (
    Alias, Expr, Identifier, Insert, Join, Lambda, LateralView, Node, Query,
    Relation, SUBQUERY_ALIAS, Select, SetOp, Star, SubqueryRef, TableRef,
    With,
)

# Maps a table path (as written, e.g. ["orders"] or ["db", "t"]) to an ordered
# [(column_name, type_ddl_string)] list, or None if unknown.
SchemaProvider = Callable[[list[str]], Optional[list[tuple[str, str]]]]


class _Scope:
    def __init__(self, parent: Optional["_Scope"] = None) -> None:
        # alias → ordered column names (None if schema unknown)
        self.sources: dict[str, Optional[list[str]]] = {}
        # alias → lowercased column names, for resolve_column
        self._lowered: dict[str, frozenset[str]] = {}
        # visible CTE name (lowercased) → its output columns
        self.cte_columns: dict[str, Optional[list[str]]] = dict(
            parent.cte_columns if parent else {}
        )

    def add(self, alias: str, columns: Optional[list[str]]) -> None:
        alias = alias.lower()
        self.sources[alias] = columns
        if columns is None:
            self._lowered.pop(alias, None)
        else:
            self._lowered[alias] = frozenset(c.lower() for c in columns)

    def resolve_column(self, name: str) -> Optional[str]:
        """Return the unique source alias owning ``name``, else None."""
        name = name.lower()
        owners = [a for a, cols in self._lowered.items() if name in cols]
        if len(owners) == 1:
            return owners[0]
        return None


def qualify(node: Node, schema_provider: SchemaProvider) -> Node:
    """Qualify a statement in place; returns the same node for chaining."""
    query = node.query if isinstance(node, Insert) else node
    if isinstance(query, Query):
        _qualify_query(query, schema_provider, _Scope())
    return node


def _collect_scope(rel: Optional[Relation], sp: SchemaProvider, scope: _Scope) -> None:
    """Register every source in a FROM tree into ``scope``: auto-alias
    each table and derived table, look up each table, mark CTE refs,
    qualify each derived table."""
    if isinstance(rel, TableRef):
        if rel.alias is None:
            rel.alias = rel.parts[-1]
        rel.cte = len(rel.parts) == 1 and rel.parts[0].lower() in scope.cte_columns
        if rel.cte:
            scope.add(rel.alias, scope.cte_columns[rel.parts[0].lower()])
        else:
            schema = sp(rel.parts)
            scope.add(rel.alias, [c for c, _ in schema] if schema else None)
    elif isinstance(rel, SubqueryRef):
        if rel.alias is None:  # printed, so the qualified refs resolve
            rel.alias = SUBQUERY_ALIAS
        # a derived table sees the CTEs in scope, not its sibling sources
        scope.add(rel.alias, _qualify_query(rel.query, sp, scope))
    elif isinstance(rel, Join):
        _collect_scope(rel.left, sp, scope)
        _collect_scope(rel.right, sp, scope)
    elif isinstance(rel, LateralView):
        _collect_scope(rel.base, sp, scope)
        scope.add(rel.table_alias, rel.column_aliases or None)


def _expand_star(star: Star, scope: _Scope) -> Optional[list[Identifier]]:
    out: list[Identifier] = []
    if star.qualifier:
        alias = star.qualifier[-1].lower()
        cols = scope.sources.get(alias)
        if cols is None:
            return None
        return [Identifier([alias, c]) for c in cols]
    for alias, cols in scope.sources.items():
        if cols is None:
            return None
        out.extend(Identifier([alias, c]) for c in cols)
    return out


def _qualify_query(q: Query, sp: SchemaProvider,
                   scope: _Scope) -> Optional[list[str]]:
    """Qualify ``q`` in place and return its output column names, or None
    when any is unknown. ``scope`` only lends its CTEs; it is not changed."""
    if isinstance(q, With):
        inner = _Scope(scope)
        for name, cte in q.ctes:
            inner.cte_columns[name.lower()] = _qualify_query(cte, sp, inner)
        return _qualify_query(q.body, sp, inner)
    if isinstance(q, SetOp):
        columns = _qualify_query(q.left, sp, scope)
        _qualify_query(q.right, sp, scope)
        return columns
    if not isinstance(q, Select):
        return None

    local = _Scope(scope)
    _collect_scope(q.from_, sp, local)

    # Expand stars in projections
    new_projections: list[Expr] = []
    for p in q.projections:
        if isinstance(p, Star):
            expanded = _expand_star(p, local)
            new_projections.extend(expanded if expanded is not None else [p])
        else:
            new_projections.append(p)
    q.projections = new_projections

    proj_aliases = {p.alias.lower() for p in q.projections if isinstance(p, Alias)}

    for p in q.projections:
        _qualify_expr(p, local, sp, set())
    if q.where is not None:
        _qualify_expr(q.where, local, sp, set())
    for e in q.group_by:
        _qualify_expr(e, local, sp, set(), skip_names=proj_aliases)
    if q.having is not None:
        _qualify_expr(q.having, local, sp, set(), skip_names=proj_aliases)
    for o in q.order_by:
        _qualify_expr(o.this, local, sp, set(), skip_names=proj_aliases)
    # ON conditions of joins in our FROM
    _qualify_join_conditions(q.from_, local, sp)

    columns: list[str] = []
    for p in q.projections:
        if isinstance(p, Alias):
            columns.append(p.alias)
        elif isinstance(p, Identifier):
            columns.append(p.name)
        else:  # an unexpanded star, or an unnamed computed column
            return None
    return columns


def _qualify_join_conditions(rel: Optional[Relation], scope: _Scope, sp: SchemaProvider) -> None:
    if isinstance(rel, Join):
        if rel.on is not None:
            _qualify_expr(rel.on, scope, sp, set())
        _qualify_join_conditions(rel.left, scope, sp)
        _qualify_join_conditions(rel.right, scope, sp)
    elif isinstance(rel, LateralView):
        _qualify_join_conditions(rel.base, scope, sp)


def _qualify_expr(e: Node, scope: _Scope, sp: SchemaProvider,
                  lambda_params: set[str], skip_names: Optional[set[str]] = None) -> None:
    if isinstance(e, Identifier):
        if len(e.parts) == 1:
            name = e.parts[0]
            if name.lower() in lambda_params:
                return
            if skip_names and name.lower() in skip_names:
                return
            owner = scope.resolve_column(name)
            if owner is not None:
                e.parts = [owner, name]
        return
    if isinstance(e, Lambda):
        _qualify_expr(e.body, scope, sp,
                      lambda_params | {p.lower() for p in e.params}, skip_names)
        return
    if isinstance(e, Query):  # a nested query sees our CTEs, not our sources
        _qualify_query(e, sp, scope)
        return
    for c in e.children():
        _qualify_expr(c, scope, sp, lambda_params, skip_names)
