"""Pin of the printed security rewrites of the query corpus.

Usage: python tools/pin_rewrites.py   (from the repository root)

Rewrites every ``__spark_entry__._QUERIES`` text as each of the nine preset
users of ``presets.demo_context`` through ``rewrite_row_filter``,
``rewrite_data_mask``, ``mixed_rewrite`` and ``executed_sql``, over the
sf0.001 test tables, and writes the printed SQL to
``tests/data/corpus_rewrites.json``.
``tests/test_rewrite_pin.py`` checks that every rewrite still prints
byte-identically. Regenerate the pin only for a change that means to alter
the printed SQL, and say so with the change.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PIN = os.path.join(ROOT, "tests", "data", "corpus_rewrites.json")
SF_DIR = "/root/testdata/sf0.001"
METHODS = ("rewrite_row_filter", "rewrite_data_mask", "mixed_rewrite",
           "executed_sql")


def preset_users() -> list[str]:
    from flink_sql_security_spark import presets

    return [v for k, v in vars(presets).items() if k.startswith("USER_")]


def corpus_rewrites(spark, sf_dir: str = SF_DIR) -> dict[str, str]:
    """``"<query>|<user>|<method>"`` → printed SQL, or ``"ERROR <type>:
    <message>"`` when the rewrite raises."""
    import __spark_entry__ as corpus
    from flink_sql_security_spark.presets import demo_context
    from flink_sql_security_spark.sources import register_tables

    register_tables(spark, sf_dir)
    ctx = demo_context(spark)
    out = {}
    for name, (_, sql, _) in corpus._QUERIES.items():
        for user in preset_users():
            for method in METHODS:
                try:
                    printed = getattr(ctx, method)(user, sql)
                except Exception as e:  # pinned too: a rewrite that raises
                    printed = f"ERROR {type(e).__name__}: {e}"
                out[f"{name}|{user}|{method}"] = printed
    return out


def main() -> int:
    from pyspark.sql import SparkSession

    sys.path.insert(0, ROOT)
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.ui.enabled", "false").getOrCreate())
    try:
        pin = corpus_rewrites(spark)
    finally:
        spark.stop()
    os.makedirs(os.path.dirname(PIN), exist_ok=True)
    with open(PIN, "w") as f:
        json.dump(pin, f, indent=0, sort_keys=True)
        f.write("\n")
    print(f"{len(pin)} rewrites pinned in {os.path.relpath(PIN, ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
