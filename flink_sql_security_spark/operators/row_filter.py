"""Row filters: one per-(user, table) resolver and the injection visitor.

Parity target: ``visitor/RowFilterVisitor.java:45-125``.
:func:`row_filter_condition` turns the user's policy on a table into a parsed
condition whose column refs are qualified with the table's alias. The visitor
ANDs it into the WHERE of every SELECT whose FROM tree reads that table, so
every table of an n-way join lands in the same WHERE
(``RowFilterVisitor.java:64-86``) and a derived table gets its own filter
(``:73-79``). A condition's own subquery is a query of its own: the visitor
filters it too, and raises ``ValueError`` when that subquery reads, directly
or through another table's condition, the table being filtered, or a table
whose name a CTE of the statement also bears (the CTE would capture it).
``SecurityContext`` then masks the statement, wrapping each table under its
injected WHERE, so the filter compares the masked values; its DataFrame and
streaming path applies the same condition the same way.

Deliberate fix over the reference (documented in SURVEY §7): the reference
qualifies only ``operands[0]`` of the parsed condition
(``RowFilterVisitor.java:101-102``), which breaks compound conditions like
``a = 1 AND b = 2``. We qualify every unqualified column reference of the
condition's own scope instead.
"""

from __future__ import annotations

from typing import Optional

from ..plans.nodes import (
    Expr, Identifier, Lambda, Node, Query, Relation, Select, TableRef, With,
    and_, rewrite_tables,
)
from ..plans.parser import parse_expression
from ..policy.manager import PolicyManager


def qualify_condition(cond: Expr, alias: str) -> Expr:
    """Prefix every unqualified column ref in ``cond`` with ``alias``.

    A nested query resolves its own column refs, so the walk stops there:
    prefixing them would point the subquery back at the filtered table.
    """

    def _walk(e: Node, lambda_params: frozenset[str]) -> None:
        if isinstance(e, Identifier):
            if len(e.parts) == 1 and e.parts[0].lower() not in lambda_params:
                e.parts = [alias, e.parts[0]]
            return
        if isinstance(e, Lambda):
            _walk(e.body, lambda_params | frozenset(p.lower() for p in e.params))
            return
        if isinstance(e, Query):
            return
        for c in e.children():
            _walk(c, lambda_params)

    _walk(cond, frozenset())
    return cond


def row_filter_condition(policy_manager: PolicyManager, username: str,
                         parts: list[str], alias: str) -> Optional[Expr]:
    """The user's row-filter condition on table ``parts``, parsed (once
    per policy manager) and qualified with ``alias``; None when no policy
    applies. The caller owns the returned tree."""
    condition = policy_manager.get_row_filter_condition(username, parts)
    if condition is None:
        return None
    parsed = policy_manager.compiled(
        ("row_filter", condition), lambda: parse_expression(condition))
    return qualify_condition(parsed, alias)


def _cte_names(node: Node) -> set[str]:
    """The lowercased names of every CTE defined under ``node``."""
    names = {name.lower() for name, _ in node.ctes} \
        if isinstance(node, With) else set()
    for child in node.children():
        if child._child_fields:
            names |= _cte_names(child)
    return names


class RowFilterVisitor:
    def __init__(self, policy_manager: PolicyManager, username: str) -> None:
        self.policy_manager = policy_manager
        self.username = username
        # tables whose condition is being filtered right now, innermost
        # last: meeting one again inside its own condition would expand
        # it without end
        self._expanding: list[tuple[str, ...]] = []
        self._statement: Optional[Node] = None
        self._ctes: Optional[set[str]] = None

    def visit(self, node: Node) -> Node:
        """Apply row filters to every SELECT under ``node`` (in place)."""
        if not self.policy_manager.holds_row_filters(self.username):
            return node  # no table of the statement can match
        if not self._expanding:
            self._statement, self._ctes = node, None
        return rewrite_tables(node, self._filter)

    def _filter(self, select: Select, table: TableRef) -> Relation:
        if self._expanding and len(table.parts) == 1:
            self._check_not_captured(table.parts[0])
        cond = row_filter_condition(self.policy_manager, self.username,
                                    table.parts, table.effective_alias())
        if cond is None:
            return table
        key = tuple(p.lower() for p in table.parts)
        if key in self._expanding:
            condition = self.policy_manager.get_row_filter_condition(
                self.username, table.parts)
            raise ValueError(
                f"row-filter condition of user {self.username!r} reads "
                f"table {'.'.join(table.parts)!r} again while filtering "
                f"it: {condition!r}")
        self._expanding.append(key)
        try:
            select.where = and_(select.where, self.visit(cond))
        finally:
            self._expanding.pop()
        return table

    def _check_not_captured(self, name: str) -> None:
        """Raise when ``name``, a table that an injected condition reads,
        is also a CTE name of the statement: printed as written, the
        reference would resolve to the user's CTE, which could then
        decide what the filter lets through. Only a condition with a
        subquery reads a table, so no other condition pays for this.
        The names are collected on first use, before the first such
        condition is injected, so they are the user's own."""
        if self._ctes is None:
            self._ctes = _cte_names(self._statement)
        if name.lower() in self._ctes:
            raise ValueError(
                f"row-filter condition of user {self.username!r} on table "
                f"{'.'.join(self._expanding[-1])!r} reads table {name!r}, "
                f"which the query defines as a CTE")
