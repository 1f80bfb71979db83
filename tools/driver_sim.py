"""Simulate the DRIVER's correctness gate over the 50-entry window.

The driver (CORRECTNESS_r{N}.json) compares the Spark result
(``.toPandas()``) with the DuckDB oracle (``.df()``) by:
sorting columns by name, ``sort_values`` over all columns (this is the
step that raises on list-valued cells — round-2's emb_quantize_int8
failure), stringifying, and hashing. This tool replays exactly that
canonicalization for the first 50 ``_CHECK_ORDER`` entries so a window
rotation can be validated BEFORE the driver runs. It imports
``__spark_entry__`` from the repo root as the driver does, so it also
checks that the entry module finds the top-level ``oracles`` package.

Usage: python tools/driver_sim.py [entry ...]   (default: the window)
       SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 (default)
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def canon(df: pd.DataFrame):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    h = hashlib.md5()
    for col in df.columns:
        h.update(col.encode())
        h.update("|".join(map(str, df[col].tolist())).encode())
    return df.shape, tuple(str(t) for t in df.dtypes), h.hexdigest()


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import __spark_entry__ as e
    from flink_sql_security_spark.sources import build_session, register_tables

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = build_session("driver-sim")
    spark.sparkContext.setLogLevel("ERROR")
    register_tables(spark, sf_dir)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")

    qs, os_ = e.queries(), e.oracle_sql()
    names = sys.argv[1:] or e._CHECK_ORDER
    bad = []
    for name in names:
        try:
            sdf = qs[name](spark, sf_dir).toPandas()
            odf = con.execute(os_[name]).df()
            s_shape, s_dtypes, s_hash = canon(sdf)
            o_shape, o_dtypes, o_hash = canon(odf)
            rows = s_shape == o_shape
            hashm = s_hash == o_hash
            status = "OK" if (rows and hashm) else "MISMATCH"
            if status != "OK":
                bad.append(name)
            print(f"{name}: {status} rows={s_shape[0]}/{o_shape[0]} "
                  f"hash={'=' if hashm else '!'}")
        except Exception as ex:  # the driver records err per entry
            bad.append(name)
            print(f"{name}: ERROR {type(ex).__name__}: {ex}")
        spark.catalog.clearCache()
    print(f"\n{'PASS' if not bad else 'FAIL'} "
          f"({len(names) - len(bad)}/{len(names)}; bad: {bad})")
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
