"""Row filters: one per-(user, table) resolver and the injection visitor.

Parity target: ``visitor/RowFilterVisitor.java:45-125``.
:func:`row_filter_condition` turns the user's policy on a table into a parsed
condition whose column refs are qualified with the table's alias. The visitor
ANDs it into the WHERE of every SELECT whose FROM tree reads that table, so
every table of an n-way join lands in the same WHERE
(``RowFilterVisitor.java:64-86``) and a derived table gets its own filter
(``:73-79``). A condition's own subquery is a query of its own: the visitor
filters it too, and raises ``ValueError`` when that subquery reads, directly
or through another table's condition, the table being filtered.
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
    Expr, Identifier, Lambda, Node, Query, Relation, Select, TableRef, and_,
    rewrite_tables,
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


class RowFilterVisitor:
    def __init__(self, policy_manager: PolicyManager, username: str) -> None:
        self.policy_manager = policy_manager
        self.username = username
        # tables whose condition is being filtered right now: meeting one
        # again inside its own condition would expand it without end
        self._expanding: set[tuple[str, ...]] = set()

    def visit(self, node: Node) -> Node:
        """Apply row filters to every SELECT under ``node`` (in place)."""
        if not self.policy_manager.holds_row_filters(self.username):
            return node  # no table of the statement can match
        return rewrite_tables(node, self._filter)

    def _filter(self, select: Select, table: TableRef) -> Relation:
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
        self._expanding.add(key)
        try:
            select.where = and_(select.where, self.visit(cond))
        finally:
            self._expanding.discard(key)
        return table
