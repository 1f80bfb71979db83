"""SecurityContext — the single query entry point of the security layer.

Parity target: ``SecurityContext.java`` (the reference's only entry point too,
same trust model). Pipeline per query: parse → qualify (star expansion, alias
assignment, column qualification against the live catalog) → policy-driven AST
rewrite (row filter first, then mask — order is load-bearing,
``SecurityContext.java:154-167``) → print → ``spark.sql``. The printed SQL is
string-in/string-out like the reference (``SecurityContext.java:126-167``):
engine-agnostic and auditable; Catalyst re-plans it with predicate pushdown and
column pruning doing the physical heavy lifting.

Two printed forms come out of that one pipeline. ``mixed_rewrite`` prints the
reference form, which the goldens pin. ``executed_sql`` prints the statement
``sql`` and ``mixed_execute`` run: the same rewrite with each mask wrap cut to
the columns the statement reads, so Spark plans no mask expression the query
never touches.

One enforcement path serves SQL, DataFrames and streams: the per-(user, table)
resolvers ``row_filter_condition`` and ``masked_projection`` feed both the
statement rewrite and :meth:`SecurityContext.apply_policies`. The mask wraps
the table and the filter reads the wrapped table, so in every API the row
filter compares the masked values.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Row, SparkSession

from .catalog import CatalogAdapter, type_ddl_string
from .operators.data_mask import DataMaskVisitor, masked_projection
from .operators.row_filter import RowFilterVisitor, row_filter_condition
from .plans.nodes import Node, read_names
from .plans.parser import parse_statement
from .plans.qualify import qualify
from .policy.manager import PolicyManager

DEFAULT_FETCH_SIZE = 10  # SecurityContext.java:190-192


class SecurityContext:
    def __init__(self, spark: SparkSession,
                 policy_manager: Optional[PolicyManager] = None) -> None:
        self.spark = spark
        self.policy_manager = policy_manager or PolicyManager()
        self.catalog = CatalogAdapter(spark)

    # -- policy management -------------------------------------------------
    def add_policy(self, policy) -> None:
        self.policy_manager.add_policy(policy)

    def remove_policy(self, policy) -> bool:
        return self.policy_manager.remove_policy(policy)

    # -- rewrite-only entry points (SecurityContext.java:126-167) ----------
    def _parse_and_qualify(self, sql: str) -> Node:
        ast = parse_statement(sql)
        return qualify(ast, self.catalog.schema_provider)

    def rewrite_row_filter(self, username: str, sql: str) -> str:
        ast = self._parse_and_qualify(sql)
        RowFilterVisitor(self.policy_manager, username).visit(ast)
        return ast.sql()

    def rewrite_data_mask(self, username: str, sql: str) -> str:
        ast = self._parse_and_qualify(sql)
        DataMaskVisitor(
            self.policy_manager, username, self.catalog.schema_provider
        ).visit(ast)
        return ast.sql()

    def mixed_rewrite(self, username: str, sql: str) -> str:
        """Row filter first, then mask (SecurityContext.java:154-167)."""
        return self._secure(username, self._parse_and_qualify(sql)).sql()

    def executed_sql(self, username: str, sql: str) -> str:
        """The statement :meth:`sql` runs: :meth:`mixed_rewrite` with each
        mask wrap cut to the columns whose names the statement reads, and
        a table whose masked columns it never reads left unwrapped.

        The names are collected after the row filters are injected, so a
        column a policy condition compares stays masked. A column left
        out of a wrap has a name that occurs nowhere in the statement, so
        nothing can resolve to it; a star left after qualify keeps every
        wrap whole (``plans.nodes.read_names``)."""
        return self._secure(username, self._parse_and_qualify(sql),
                            lean=True).sql()

    def _secure(self, username: str, node: Node, lean: bool = False) -> Node:
        RowFilterVisitor(self.policy_manager, username).visit(node)
        reads = read_names(node) if lean else None
        return DataMaskVisitor(
            self.policy_manager, username, self.catalog.schema_provider, reads
        ).visit(node)

    # -- execution (SecurityContext.java:190-242) --------------------------
    def execute(self, sql: str, size: int = DEFAULT_FETCH_SIZE) -> list[Row]:
        """Run SQL with no security rewrite; fetch first ``size`` rows."""
        df = self.spark.sql(sql)
        if not df.columns:  # DDL / INSERT commands return no rows
            return []
        return df.limit(size).collect()

    def execute_row_filter(self, username: str, sql: str,
                           size: int = DEFAULT_FETCH_SIZE) -> list[Row]:
        return self.execute(self.rewrite_row_filter(username, sql), size)

    def execute_data_mask(self, username: str, sql: str,
                          size: int = DEFAULT_FETCH_SIZE) -> list[Row]:
        return self.execute(self.rewrite_data_mask(username, sql), size)

    def mixed_execute(self, username: str, sql: str,
                      size: int = DEFAULT_FETCH_SIZE) -> list[Row]:
        return self.execute(self.executed_sql(username, sql), size)

    # -- DataFrame-native surface (Spark-first additions) ------------------
    def sql(self, username: str, sql: str) -> DataFrame:
        """Secured spark.sql: runs :meth:`executed_sql`, returns the (lazy)
        DataFrame."""
        return self.spark.sql(self.executed_sql(username, sql))

    def apply_policies(self, username: str, df: DataFrame,
                       table_name: str) -> DataFrame:
        """Apply a user's masks + row filter to any DataFrame (batch OR
        streaming) whose schema matches ``table_name``'s policies.

        The same two resolvers and the same order as :meth:`mixed_rewrite`:
        select the masked projection, then filter on the masked values.
        Both are stateless and codegen-friendly, so Catalyst pushes the
        filter down and a streaming plan accepts them unchanged.
        """
        parts = table_name.split(".")
        projection = masked_projection(
            self.policy_manager, username, parts,
            lambda _: [(f.name, type_ddl_string(f.dataType))
                       for f in df.schema.fields])
        if projection is not None:
            df = df.selectExpr(*(p.sql() for p in projection))
        condition = row_filter_condition(
            self.policy_manager, username, parts, parts[-1])
        if condition is not None:
            # the condition's own subqueries go through the same rewrite
            self._secure(username, condition)
            df = df.alias(parts[-1]).filter(condition.sql())
        return df

    def table(self, username: str, name: str) -> DataFrame:
        """Secured spark.table: :meth:`apply_policies` over the table."""
        return self.apply_policies(username, self.spark.table(name), name)
