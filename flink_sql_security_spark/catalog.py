"""Catalog adapter: table ref → ordered (column, DDL-type) list.

Parity target: ``SecurityContext.getTable`` + ``processColumnType``
(``SecurityContext.java:253-292``) — type kept as an uppercase DDL string with
``NOT NULL`` stripped. In Spark this is pure driver-side metadata
(``spark.table(name).schema``) — no job is launched.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import SparkSession

from .policy.models import ColumnEntity, TableEntity


def type_ddl_string(data_type) -> str:
    """StructField dataType → uppercase DDL string (DECIMAL(10,5), STRING...)."""
    return data_type.simpleString().upper()


class CatalogAdapter:
    """Schema lookup against a live SparkSession.

    Found schemas are cached for the adapter's lifetime, which is the
    lifetime of its ``SecurityContext``, until :meth:`invalidate`. Misses
    are not cached, so a table registered later is still found."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self._cache: dict[tuple[str, ...], Optional[TableEntity]] = {}

    def get_table(self, parts: list[str]) -> Optional[TableEntity]:
        key = tuple(p.lower() for p in parts)
        if key in self._cache:
            return self._cache[key]
        name = ".".join(parts)
        try:
            schema = self.spark.table(name).schema
            entity = TableEntity(
                table_path=tuple(parts),
                columns=tuple(
                    ColumnEntity(f.name, type_ddl_string(f.dataType))
                    for f in schema.fields
                ),
            )
        except Exception:
            # do NOT cache the miss: Spark catalogs are dynamic (temp views
            # register mid-session — e.g. a changelog ingest's maintained
            # view) and a cached None would hide the table from every later
            # rewrite in this context
            return None
        self._cache[key] = entity
        return entity

    def schema_provider(self, parts: list[str]) -> Optional[list[tuple[str, str]]]:
        """plans.qualify-compatible provider."""
        t = self.get_table(parts)
        if t is None:
            return None
        return [(c.column_name, c.column_type) for c in t.columns]

    def invalidate(self) -> None:
        self._cache.clear()
