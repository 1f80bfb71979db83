"""Scalar (int8) quantization of embedding columns.

Beyond-reference scope (driver brief: similarity-search scale path).
Storing 100 TB of float32 embeddings as int8 codes cuts the vector
footprint 4× and the ANN scan bandwidth with it; this module computes the
per-dimension affine codebook and the codes, plus the per-vector
reconstruction error that decides whether int8 is safe for a given corpus.

Scale shape:
- codebook: ONE pass — posexplode → groupBy(dim) min/max, d rows collected
  (metadata-sized). min/max are exact selections (order-independent), so
  the codebook is identical under any partitioning.
- codes: narrow per-row projection against the d-element literal arrays —
  no shuffle, no Python, whole-stage codegen.

Determinism: the quantize arithmetic is written with one fixed op order —
``floor(((x - mn) / rng) * 255.0 + 0.5)`` — and the codebook values embed
as shortest-repr double literals, so Spark and the DuckDB oracle compute
bit-identical doubles and hence identical codes. ``floor(q + 0.5)`` is
used instead of ``round(q)`` deliberately: the engines' round() tie rules
differ (HALF_UP vs half-even), floor does not.

Reference scope note: no quantization exists in the reference repo; this
extends the engine per the driver brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from flink_sql_security_spark.functions.text import (
    floor_round_col as _floor_round_col)


def _lit_array(vals: list[float]) -> str:
    return "array(" + ", ".join(repr(float(v)) for v in vals) + ")"


def dim_stats(df: DataFrame, vec_col: str = "embedding") -> tuple[list[float], list[float]]:
    """Per-dimension (min, max) over the corpus — one pass, d-row result."""
    rows = (
        df.select(F.posexplode(F.expr(
            f"transform({vec_col}, v -> CAST(v AS DOUBLE))")).alias("dim", "v"))
        .groupBy("dim")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .collect()
    )
    rows.sort(key=lambda r: r["dim"])
    return [r["mn"] for r in rows], [r["mx"] for r in rows]


def _codes_expr(xd: str, mn_lit: str, rng_lit: str, d: int) -> str:
    return (
        f"transform(sequence(1, {d}), i -> CASE "
        f"WHEN element_at({rng_lit}, i) = 0.0D THEN 0 "
        f"ELSE CAST(floor(((element_at({xd}, i) - element_at({mn_lit}, i))"
        f" / element_at({rng_lit}, i)) * 255.0D + 0.5D) AS INT) - 128 "
        "END)"
    )


def _err_expr(xd: str, codes: str, mn_lit: str, rng_lit: str, d: int) -> str:
    """Max abs reconstruction error: recon[i] = mn[i] + ((code+128)/255)*rng[i]."""
    return (
        f"aggregate(sequence(1, {d}), 0D, (m, i) -> greatest(m, "
        f"abs(element_at({xd}, i) - (element_at({mn_lit}, i) + "
        f"((CAST(element_at({codes}, i) AS DOUBLE) + 128.0D) / 255.0D) "
        f"* element_at({rng_lit}, i)))))"
    )


def quantize_int8(df: DataFrame, vec_col: str = "embedding",
                  id_col: str = "vec_id", round_to: int = 6,
                  stats: tuple[list[float], list[float]] | None = None,
                  stringify_codes: bool = False) -> DataFrame:
    """(id, codes array<int>, err double): int8 codes + max abs recon error.

    ``stats`` lets a caller reuse a precomputed codebook (e.g. quantizing
    a new batch against the corpus codebook). ``stringify_codes`` emits the
    codes as a ``','``-joined string instead of ``array<int>`` — used by
    harnesses whose canonicalizers can't sort list-valued columns (pandas
    ``sort_values`` raises on lists); d >= 1 so the CSV form is never the
    ambiguous empty-array case.
    """
    mn, mx = stats if stats is not None else dim_stats(df, vec_col)
    rng = [b - a for a, b in zip(mn, mx)]
    d = len(mn)
    mn_lit = _lit_array(mn)
    rng_lit = _lit_array(rng)
    codes_out = (
        F.expr("array_join(transform(codes, c -> CAST(c AS STRING)), ',')")
        if stringify_codes else F.col("codes"))
    return (
        df.withColumn("_xd", F.expr(
            f"transform({vec_col}, v -> CAST(v AS DOUBLE))"))
        .withColumn("codes", F.expr(
            _codes_expr("_xd", mn_lit, rng_lit, d)))
        .select(
            F.col(id_col), codes_out.alias("codes"),
            _floor_round_col(F.expr(_err_expr(
                "_xd", "codes", mn_lit, rng_lit, d)),
                round_to).alias("err"),
        )
    )
