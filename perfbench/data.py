"""Seeded input tables for the benchmark.

Two datasets, both written as parquet into the run's work directory and read
by Spark and DuckDB alike:

- ``write_tpch``: the eight TPC-H-shaped tables the ``__spark_entry__``
  corpus reads, with the row counts, column types and value domains of the
  project's sf0.01 test set (every corpus predicate selects rows).
- ``write_people``: one wide table of ``PEOPLE_ROWS`` rows with string,
  date and numeric columns for the execution workload.

The seed fixes every value; the row counts and domains never change, so two
seeds give inputs of the same shape and cost.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events")
PEOPLE_ROWS = 1_000_000

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
              "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Doubles with exactly two decimals, so DECIMAL casts are exact."""
    return rng.integers(lo, hi, n) / 100.0


def _days(rng: np.random.Generator, start: str, n_days: int,
          n: int) -> np.ndarray:
    return (np.datetime64(start, "us")
            + rng.integers(0, n_days, n).astype("timedelta64[D]"))


def write_tpch(seed: int, out_dir: str) -> dict[str, str]:
    """Write the corpus tables under ``out_dir``; return table → path."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part, n_ord, n_line, n_ev = (
        1500, 100, 2000, 15000, 60000, 10000)
    tables = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _cents(rng, -99999, 999999, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _cents(rng, -99999, 999999, n_supp),
        }),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": 900.0 + np.arange(n_part) % 1000 / 10.0,
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _cents(rng, 100000, 50000000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": _cents(rng, 90000, 10500000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", 2498, n_line),
        }),
        "events": pd.DataFrame({
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": np.sort(np.datetime64("2024-01-01", "us") + rng.integers(
                0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]")),
            "user_id": rng.integers(0, 150, n_ev),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": _cents(rng, 0, 2000, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
    }
    paths = {}
    for name, df in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        df.to_parquet(paths[name], index=False)
    return paths


_FIRST = ["Alice", "Bruno", "Chen", "Dana", "Emeka", "Farah", "Goran",
          "Hana", "Ivan", "Jade", "Kofi", "Lena", "Mateo", "Nia", "Omar",
          "Priya", "Quinn", "Rosa", "Sven", "Tara", "Umar", "Vera", "Wen",
          "Ximena", "Yusuf", "Zoe"]
_LAST = ["Adams", "Brown", "Costa", "Dubois", "Evans", "Fischer", "Garcia",
         "Hansen", "Ito", "Jensen", "Kim", "Lopez", "Moreau", "Novak",
         "Okafor", "Petrov", "Quispe", "Rossi", "Silva", "Tanaka"]
PEOPLE_REGIONS = ["north", "south", "east", "west"]


def write_people(con, seed: int, out_dir: str, rows: int = PEOPLE_ROWS) -> str:
    """Write the ``people`` table with DuckDB connection ``con`` (one parquet
    file, 64k-row groups so Spark splits it across cores); return its path.

    Every value is a hash of (id, seed, column), so the file
    content is fixed by the seed whatever DuckDB's thread count.
    """
    path = os.path.join(out_dir, "people.parquet")

    def h(col: int) -> str:
        return f"hash(i * 16 + {col} + {int(seed) % 10**6} * 100000000000)"

    def pick(words: list[str], col: int) -> str:
        return f"list_extract({words}, CAST(1 + {h(col)} % {len(words)} AS BIGINT))"

    con.execute(f"""
        COPY (SELECT
            i AS id,
            {pick(_FIRST, 1)} || ' ' || {pick(_LAST, 2)} AS full_name,
            lower({pick(_FIRST, 1)}) || i || '@example.com' AS email,
            '555-' || lpad(CAST({h(3)} % 10000000 AS VARCHAR), 7, '0')
              AS phone,
            lpad(CAST({h(4)} % 10000000000000000 AS VARCHAR), 16, '0')
              AS card,
            lpad(CAST({h(5)} % 1000000000 AS VARCHAR), 9, '0') AS ssn,
            CAST(1 + {h(6)} % 9998 AS VARCHAR) || ' Main St' AS address,
            DATE '1940-01-01' + CAST({h(7)} % 25000 AS INTEGER) AS birth_date,
            {pick(PEOPLE_REGIONS, 8)} AS region,
            CAST({h(9)} % 100000 AS DOUBLE) / 100 AS score
          FROM range({int(rows)}) t(i))
        TO '{path}' (FORMAT parquet, ROW_GROUP_SIZE 65536)
    """)
    return path
