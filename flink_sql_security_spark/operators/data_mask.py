"""Data masks: one per-(user, table) resolver and the subquery-wrap visitor.

Parity target: ``visitor/DataMaskVisitor.java:54-157``.
:func:`masked_projection` turns a table's column list into

    c1, …, CAST(<mask_expr>(ck) AS <declared type>) AS ck, …

re-emitting *every* column in declared order (``DataMaskVisitor.java:116-141``;
order is load-bearing, SURVEY §1.3). The visitor splices
``(SELECT <projection> FROM t) AS alias`` in place of each masked base-table
ref (``:143-157``); the DataFrame path selects the same projection. A WHERE
over the wrapped table, the injected row filter included, therefore compares
the masked values.

The wide wrap is free in execution, where Catalyst's ColumnPruning strips
the unused columns, but not in planning: Spark first parses, resolves and
type-checks every mask expression of it, read or not. So the statement
``SecurityContext.sql`` executes (``executed_sql``) passes ``reads``, the
names the statement can resolve (``plans.nodes.read_names``): each wrap keeps
only those columns, and a table none of whose masked columns is read stays
unwrapped. The printed reference form (``mixed_rewrite``) keeps every column.

The reference prevents re-masking its own generated subqueries by
bytecode-injecting a ``custom`` flag into Calcite's SqlSelect
(``SecurityContext.java:67-90``, ``DataMaskVisitor.java:168-184``). Here the
statement walk never visits what a rewrite step builds, so no marker is
needed (SURVEY §2.A8).
"""

from __future__ import annotations

from typing import Optional

from ..functions.masks import instantiate_transformer
from ..plans.nodes import (
    Alias, Cast, Expr, Identifier, Literal, Node, Relation, Select,
    SubqueryRef, TableRef, rewrite_tables,
)
from ..plans.qualify import SchemaProvider
from ..policy.manager import PolicyManager
from ..policy.models import DataMaskPolicy


def masked_projection(policy_manager: PolicyManager, username: str,
                      parts: list[str], schema_provider: SchemaProvider,
                      reads: Optional[frozenset[str]] = None,
                      ) -> Optional[list[Expr]]:
    """The ordered projection that masks table ``parts`` for ``username``,
    or None when no mask applies. ``schema_provider`` gives the table's
    (column, DDL type) list and is only called when a mask applies.

    ``reads`` (lowercased names, see ``nodes.read_names``) keeps only the
    columns it names, and None is returned when it names no masked
    column: the table's own columns then read the same."""
    policies = {
        c: p
        for c, p in policy_manager.get_table_mask_policies(username, parts).items()
        if p.condition != "MASK_NONE" and (reads is None or c in reads)
    }
    if not policies:
        return None
    columns = schema_provider(parts)
    if columns is None:
        raise ValueError(
            f"cannot mask columns of unknown table {'.'.join(parts)}"
        )
    projection: list[Expr] = []
    for name, ddl_type in columns:
        if reads is not None and name.lower() not in reads:
            continue
        policy = policies.get(name.lower())
        if policy is None:
            projection.append(Identifier([name]))
        else:
            # re-cast to the declared type and keep the original name
            # (DataMaskVisitor.java:130-132)
            masked = _mask_expr(policy_manager, policy, name)
            projection.append(Alias(Cast(masked, ddl_type), name))
    return projection


def _mask_expr(policy_manager: PolicyManager, policy: DataMaskPolicy,
               column_name: str) -> Expr:
    mask_type = policy_manager.get_data_mask_type(policy.condition)
    if mask_type.name == "MASK_NULL":
        return Literal.null()
    if mask_type.name == "CUSTOM":
        template = policy.custom_transformer
        if not template:
            raise ValueError(
                f"CUSTOM mask for {policy.table_name}.{policy.column_name} "
                "requires custom_transformer"
            )
    else:
        template = mask_type.transformer
        if template is None:
            raise ValueError(f"mask type {mask_type.name} has no transformer")
    return policy_manager.compiled(
        ("mask", template, column_name),
        lambda: instantiate_transformer(template, column_name))


class DataMaskVisitor:
    def __init__(self, policy_manager: PolicyManager, username: str,
                 schema_provider: SchemaProvider,
                 reads: Optional[frozenset[str]] = None) -> None:
        self.policy_manager = policy_manager
        self.username = username
        self.schema_provider = schema_provider
        self.reads = reads

    def visit(self, node: Node) -> Node:
        """Wrap every masked base table under ``node`` (in place)."""
        if not self.policy_manager.holds_masks(self.username):
            return node  # no table of the statement can match
        return rewrite_tables(node, self._wrap)

    def _wrap(self, select: Select, table: TableRef) -> Relation:
        projection = masked_projection(self.policy_manager, self.username,
                                       table.parts, self.schema_provider,
                                       self.reads)
        if projection is None:
            return table
        inner = Select(projections=projection,
                       from_=TableRef(parts=list(table.parts)))
        return SubqueryRef(query=inner, alias=table.effective_alias())
