"""The shared floor rounding rule (functions/text.py floor_round*).

Every cross-engine 6-decimal final (cosine, ADC/L2 distances, BM25,
tf-idf, LM logprobs, PQ err/reconstruction) must quantize with
``floor(x*1e6 + 0.5)/1e6`` — NOT either engine's native ``round(x, 6)``:
Spark rounds the shortest decimal repr (BigDecimal HALF_UP) while DuckDB
rounds the exact binary value, and they disagree whenever the double
sits within an ulp of a decimal midpoint. These tests pin (a) that the
disagreement class actually exists (the old expressions fail on it) and
(b) that all THREE implementations of the floor rule — Spark expression,
DuckDB expression, Python kernel — agree bit-for-bit on exactly that
class plus a fuzz sweep.
"""

import math

import duckdb
import pytest

from flink_sql_security_spark.functions.text import (
    floor_round, floor_round_py)
from oracles.common import floor_round as duckdb_floor_round
from flink_sql_security_spark.operators.similarity import _round_half_up


def _midpoints(n=4000):
    """The nearest doubles to the 6-decimal midpoints k + 0.5 ulp-6."""
    return [(2 * k + 1) / 2e6 for k in range(1, n)]


def test_old_round_class_actually_disagrees():
    """The regression target: on midpoint-ulp doubles, Spark's
    repr-HALF_UP round (reproduced by _round_half_up, the documented
    equivalent) and DuckDB's exact-binary round() MUST differ for some
    inputs — if this ever stops failing for the old expressions, the
    floor rule could be retired."""
    con = duckdb.connect()
    xs = _midpoints()
    sql = "SELECT " + ", ".join(
        f"round(CAST({x!r} AS DOUBLE), 6)" for x in xs[:1000])
    duck = con.execute(sql).fetchone()
    mismatches = sum(
        1 for x, d in zip(xs[:1000], duck) if d != _round_half_up(x))
    con.close()
    assert mismatches > 0, (
        "midpoint disagreement class vanished — re-evaluate the rule")


def test_floor_rule_triple_agreement_on_midpoints(spark):
    """Python kernel == DuckDB expression == Spark expression on the
    exact class where native round() disagrees."""
    xs = _midpoints(2000) + [-x for x in _midpoints(200)]
    py = [floor_round_py(x) for x in xs]

    con = duckdb.connect()
    duck = list(con.execute(
        "SELECT " + ", ".join(
            duckdb_floor_round(f"CAST({x!r} AS DOUBLE)", 6)
            for x in xs)).fetchone())
    con.close()
    assert duck == py

    # Spark: evaluate the shared expression in one projection
    exprs = [floor_round(f"CAST({x!r} AS DOUBLE)", 6) + f" AS c{i}"
             for i, x in enumerate(xs[:500])]
    row = spark.sql("SELECT " + ", ".join(exprs)).collect()[0]
    assert list(row) == py[:500]


def test_floor_rule_fuzz_non_midpoints(spark):
    """Deterministic fuzz over awkward magnitudes: quotients, ln() and
    dot-product-like values. All three implementations agree."""
    vals = []
    for i in range(1, 400):
        vals.append(i / 7.0)
        vals.append(math.log(1.0 + i / 13.0))
        vals.append(-i / 11.0)
        vals.append(i * 1e-7)
    py = [floor_round_py(x) for x in vals]
    con = duckdb.connect()
    duck = list(con.execute(
        "SELECT " + ", ".join(
            duckdb_floor_round(f"CAST({x!r} AS DOUBLE)", 6)
            for x in vals[:800])).fetchone())
    con.close()
    assert duck == py[:800]
    exprs = [floor_round(f"CAST({x!r} AS DOUBLE)", 6) + f" AS c{i}"
             for i, x in enumerate(vals[:400])]
    row = spark.sql("SELECT " + ", ".join(exprs)).collect()[0]
    assert list(row) == py[:400]


def test_floor_round_col_matches_sql_form(spark):
    """The Column-API twin lowers to the same arithmetic as the SQL
    string form."""
    from pyspark.sql import functions as F

    from flink_sql_security_spark.functions.text import floor_round_col

    xs = _midpoints(300)
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    got = [r["y"] for r in
           df.select(floor_round_col(F.col("x"), 6).alias("y")).collect()]
    assert got == [floor_round_py(x) for x in xs]


@pytest.mark.parametrize("nd", [2, 4, 6])
def test_floor_round_nd_generalization(nd):
    con = duckdb.connect()
    xs = [1.5 / 10 ** nd, 7.25, -3.5 / 10 ** nd, 0.0]
    duck = list(con.execute(
        "SELECT " + ", ".join(
            duckdb_floor_round(f"CAST({x!r} AS DOUBLE)", nd)
            for x in xs)).fetchone())
    con.close()
    assert duck == [floor_round_py(x, nd) for x in xs]


def test_floor_round_nd_bounds():
    import pytest

    from flink_sql_security_spark.functions.text import floor_round

    # 15 is the last exactly-representable power-of-ten scale whose
    # repr stays in positional notation ('1e+16' + 'D' would not parse
    # in Spark SQL)
    assert "D" in floor_round("x", 15)
    for bad in (-1, 16, 100):
        with pytest.raises(ValueError, match="nd"):
            floor_round("x", bad)


def test_floor_round_nd_bound_on_all_three_forms():
    """Review fix: the [0,15] nd bound holds in the SQL, Column and
    Python forms alike — no engine side can accept a scale its twin
    rejects."""
    import pytest
    from pyspark.sql import functions as F

    from flink_sql_security_spark.functions.text import (
        floor_round_col, floor_round_py)

    for bad in (-1, 16):
        with pytest.raises(ValueError, match="nd"):
            floor_round_py(1.0, bad)
        with pytest.raises(ValueError, match="nd"):
            floor_round_col(F.lit(1.0), bad)
