"""Z-order (Morton) clustering keys: multi-dimensional data layout.

At 100 TB, scan cost is dominated by how much of the table a predicate
can SKIP. Sorting by one column gives perfect pruning on that column and
none on any other; interleaving the bits of k columns (the Z-order curve)
gives ~|rows|^(1-1/k) pruning on EVERY participating column — the layout
trick behind Delta/Iceberg Z-ORDER compaction. This module computes the
key declaratively so ``df.repartitionByRange(zkey).sortWithinPartitions
(zkey).write...`` produces Z-clustered files whose parquet min/max
footers prune on all dimensions.

Everything is integer arithmetic (normalize → interleave via a
``sequence``/``aggregate`` fold over bit positions) — deterministic,
shuffle-free, and bit-identical in the DuckDB oracle.

Reference scope: the reference engine has no layout control (row-stream
Flink); this extends the scale surface per the driver brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Column, functions as F

ZBITS = 16  # bits kept per dimension; k dims → k·ZBITS-bit key


def scale_expr(col: str, vmin: str, vmax: str, bits: int) -> str:
    """Map ``col`` from [vmin, vmax] onto [0, 2^bits) with exact integer
    arithmetic: ((v - min) * (2^bits - 1)) DIV max(max - min, 1).
    Inputs must already be BIGINT (money → cents via exact DECIMAL cast
    upstream). Numerator ≤ range · 2^16 — int64-safe for ranges < 2^46.
    """
    top = (1 << bits) - 1
    return (f"CAST((({col}) - ({vmin})) * {top} AS BIGINT) "
            f"DIV (CASE WHEN ({vmax}) > ({vmin}) "
            f"THEN ({vmax}) - ({vmin}) ELSE 1 END)")


def _interleave_expr(scaled: list[str], bits: int) -> str:
    """Morton key: bit i of dimension d lands at position i·k + d.
    A fold over ``sequence(0, bits-1)`` of exact power-of-two terms —
    order-independent integer sum, identical in both engines."""
    k = len(scaled)
    terms = " + ".join(
        f"(shiftright({s}, i) & 1) * shiftleft(CAST(1 AS BIGINT), i * {k} + {d})"
        for d, s in enumerate(scaled))
    return (f"aggregate(sequence(0, {bits - 1}), CAST(0 AS BIGINT), "
            f"(acc, i) -> acc + {terms})")


def zorder_key(df: DataFrame, cols: list[str], bits: int = ZBITS,
               out_col: str = "zkey") -> DataFrame:
    """Append the Morton key over ``cols`` (BIGINT-valued columns).

    Column min/max (the normalization frame) come from one tiny agg
    broadcast-joined onto the rows — at scale that agg is a footer-only
    parquet scan. The key computation itself is narrow per-row work.
    """
    from .skew import spread_partitions

    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"_mn_{c}"), F.max(c).alias(f"_mx_{c}")]
    bounds = df.agg(*aggs)
    scaled = [scale_expr(c, f"_mn_{c}", f"_mx_{c}", bits) for c in cols]
    # the interleave fold is the heavy narrow kernel — spread a small
    # (single-row-group) input across cores; no-op at corpus scale
    return (
        spread_partitions(df).join(F.broadcast(bounds))
        .withColumn(out_col, F.expr(_interleave_expr(scaled, bits)))
        .drop(*[f"_mn_{c}" for c in cols], *[f"_mx_{c}" for c in cols])
    )


def zorder_layout(df: DataFrame, cols: list[str], n_files: int,
                  bits: int = ZBITS) -> DataFrame:
    """Range-partition by the Z-key and sort within partitions — the
    write-side layout op: each output file covers a compact Z-range, so
    its min/max footer prunes on every dimension in ``cols``."""
    keyed = zorder_key(df, cols, bits)
    return keyed.repartitionByRange(n_files, "zkey") \
                .sortWithinPartitions("zkey")
