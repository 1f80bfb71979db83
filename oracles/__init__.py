"""DuckDB oracles for the operator corpus.

Each module re-derives one operator family's result in DuckDB SQL so the
strict correctness sweep (``tools/check_oracles.py``) can compare rows
with the Spark side. The oracles read the parameters they check (hash
seeds, bucket counts, band widths) from the operator modules' public
names. Nothing in ``flink_sql_security_spark`` imports this package.
"""
