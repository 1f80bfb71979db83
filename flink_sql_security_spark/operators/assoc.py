"""Association-rule mining over baskets: pairwise and 2→1 support,
confidence, and lift.

The market-basket readout over the same co-occurrence structure the
graph tier ranks (`triangle_count` / `label_propagation` find WHERE
the dense neighborhoods are; this op quantifies HOW predictive each
co-occurrence is): for every ordered item pair (a → b) that clears a
support floor, ``confidence = P(b|a)`` and ``lift = P(a,b) /
(P(a)·P(b))``. :func:`basket_rules_2to1` lifts the same machinery one
Apriori level — rules ``{a,b} → c`` counted from frequent-pair
occurrences (Agrawal & Srikant 1994's candidate-generation step: a
triple can only be frequent if its sub-pairs are, so the pair join
output seeds the triple count).

Scale design: items are deduped per basket first (one (basket, item)
distinct — map-side combinable), then **capped per basket**
(``max_basket_items``, default 1000): a pathological hot basket with
B items would otherwise emit B²/2 pair rows from the basket-keyed
self-join — a single 100k-item basket is ~5×10⁹ rows that no
AQE skew-split can shrink (it spreads the shuffle, not the row
count). The cap is a documented truncation: a basket keeps only its
``max_basket_items`` smallest items (ordered by item value, so the
truncation is deterministic and the DuckDB oracle reproduces it
bit-for-bit); item supports, pair counts and basket totals are all
computed over the capped view so every ratio stays internally
consistent. The cap bounds the pair stage at cap²/2 rows per basket
— O(B log B) sort work for the hot basket instead of O(B²) join
output (measured: tools/hotbasket_probe.py). Pair counts come from
ONE self-join on the basket key restricted to ``item_a < item_b``
(each unordered pair counted once), item supports are one
aggregation, and both directions derive per-row from one pair count.
The support floor applies BEFORE the confidence/lift projection, so
the expensive tail never materializes. Counts are BIGINTs;
confidence and lift are each ONE floor-rounded IEEE divide of exact
integers → strict oracle.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import NumericType, StringType

from ..functions.text import floor_round_col

_log = logging.getLogger(__name__)

def _capped_items(df: DataFrame, basket_col: str, item_col: str,
                  max_basket_items: int | None) -> DataFrame:
    """Distinct (b, i) pairs, truncated to the ``max_basket_items``
    smallest items per basket (deterministic: items are unique within
    a basket after the distinct, so ORDER BY item is a total order).

    When capped, the output carries a ``_bsz`` column (the PRE-cap
    basket size, computed in the same window exchange as the cap's
    row_number) so :func:`_eager_counts` can detect actual truncation
    in its existing one-pass aggregate at zero extra cost; callers'
    projections never reference it, so Catalyst prunes it from every
    downstream join.
    """
    bi = (df.select(F.col(basket_col).alias("b"),
                    F.col(item_col).alias("i"))
          .where(F.col("i").isNotNull() & F.col("b").isNotNull()))
    # Rebrand the (now provably non-null) keys as schema-NON-NULLABLE
    # (r12 opt round, guide §1.2/§7.2): Catalyst keeps filtered
    # attributes nullable, so every downstream equi-join in the
    # Apriori ladder inferred isnotnull constraints on b/i/x/y/z and
    # materialized them as Filter chains over each cached scan — 105 →
    # 78 Filter nodes in basket_rules_3to1's executed plan once the
    # schema says non-null, and the inference simply never fires
    # (interleaved A/B at sf0.1: median 4.71 → 4.29 s, matching the
    # unscopeable constraintPropagation=false reference within noise).
    # The coalesce branch is dead (rows are post-filter), so values
    # are bit-identical; applied only where a non-null zero literal of
    # the key's type exists.
    bi = bi.select(*[
        (F.coalesce(F.col(c), F.lit(0).cast(bi.schema[c].dataType))
         .alias(c)
         if isinstance(bi.schema[c].dataType, (NumericType, StringType))
         else F.col(c))
        for c in ("b", "i")])
    bi = bi.distinct()
    if max_basket_items is not None:
        if max_basket_items < 2:
            raise ValueError(
                f"max_basket_items must be >= 2 (pairs need two items) "
                f"or None: {max_basket_items}")
        w = Window.partitionBy("b").orderBy("i")
        bi = (bi.withColumn("_rn", F.row_number().over(w))
              .withColumn("_bsz", F.count("*").over(Window.partitionBy("b")))
              .where(F.col("_rn") <= max_basket_items).drop("_rn"))
    return bi


def _truncation_check(bi: DataFrame, max_basket_items: int | None,
                      op: str) -> None:
    """Eager truncation warning on the persisted capped-items table
    (ADVICE r10): when the cap is active, ONE scalar max(_bsz) pass
    (map-side combined, no Expand) checks whether any basket was
    actually truncated — truncation silently changes support /
    confidence / lift, so callers with legitimately large baskets get
    a signal instead of a semantics shift.

    This used to be a 3-way aggregate that also collected
    countDistinct(b)/countDistinct(i) for the lift literal and the
    broadcast gate; both are gone from the blocking path (measured:
    the 2-distinct Expand tripled the exchange and the collect
    serialized the whole operator behind it). n_baskets now rides as a
    1-row broadcast crossJoin INSIDE the main DAG — the oracle's own
    ``CROSS JOIN nb`` shape — and the small-side joins are left to
    AQE's runtime broadcast conversion, which sees the REAL aggregate
    size instead of a plan-time guess (big item catalogs keep the
    scale-safe shuffle join exactly as before)."""
    if max_basket_items is None:
        return
    max_bsz = bi.agg(F.max("_bsz")).collect()[0][0]
    if max_bsz is not None and max_bsz > max_basket_items:
        _log.warning(
            "%s: max_basket_items=%d truncated at least one basket "
            "(largest input basket: %d distinct items) — support/"
            "confidence/lift reflect the truncated baskets; pass "
            "max_basket_items=None for exact (unbounded) counting",
            op, max_basket_items, max_bsz)


def _n_baskets_col(bi: DataFrame):
    """1-row (— broadcast) frame carrying the basket total as DOUBLE:
    ``countDistinct(b)`` cast to double is bit-identical to the former
    driver-collected ``float(n_baskets)`` literal (exact integers below
    2^53 on both paths)."""
    return bi.agg(
        F.countDistinct("b").cast("double").alias("_nb"))


def basket_rules(df: DataFrame, *, basket_col: str, item_col: str,
                 min_support: int = 2,
                 max_basket_items: int | None = 1000) -> DataFrame:
    """(antecedent, consequent, n_pair, n_ante, n_cons, confidence,
    lift) for every ordered pair with pair support ≥ ``min_support``.

    ``max_basket_items`` (default 1000) truncates every basket to its
    smallest items before counting — the hot-basket guard documented
    in the module docstring. Pass ``None`` to count uncapped (only
    safe when the basket-size distribution is known bounded). The
    small-side join strategy is AQE's runtime decision from real
    aggregate sizes (see :func:`_truncation_check`).
    """
    if min_support < 1:
        raise ValueError(f"min_support must be >= 1: {min_support}")
    bi = _capped_items(df, basket_col, item_col,
                       max_basket_items).persist()
    _truncation_check(bi, max_basket_items, "basket_rules")
    nb = _n_baskets_col(bi)
    item_n = bi.groupBy("i").agg(F.count("*").alias("n_i"))

    def hint(frame):
        # AQE converts these joins to broadcast at runtime from the
        # REAL aggregate size (see _truncation_check docstring)
        return frame
    a, c = bi.alias("a"), bi.alias("c")
    pairs = (a.join(c, (F.col("a.b") == F.col("c.b"))
                    & (F.col("a.i") < F.col("c.i")))
             .groupBy(F.col("a.i").alias("x"), F.col("c.i").alias("y"))
             .agg(F.count("*").alias("n_pair"))
             .where(F.col("n_pair") >= min_support))
    # both directions via ONE explode over the aggregated pairs — a
    # union of two selects re-executes the (expensive, basket-keyed)
    # pair aggregation once per branch, because `pairs` is lazy and
    # nothing below it is persisted (measured: the aggregation stage ran
    # 2× per action). The explode is a narrow per-row map over a single
    # computation of the aggregate; same rows, no extra exchange.
    both = (pairs.select(F.explode(F.array(
        F.struct(F.col("x").alias("antecedent"),
                 F.col("y").alias("consequent"),
                 F.col("n_pair")),
        F.struct(F.col("y").alias("antecedent"),
                 F.col("x").alias("consequent"),
                 F.col("n_pair")))).alias("r"))
        .select("r.antecedent", "r.consequent", "r.n_pair"))
    na = item_n.select(F.col("i").alias("antecedent"),
                       F.col("n_i").alias("n_ante"))
    nc = item_n.select(F.col("i").alias("consequent"),
                       F.col("n_i").alias("n_cons"))
    out = (both.join(hint(na), "antecedent")
           .join(hint(nc), "consequent")
           .crossJoin(F.broadcast(nb))
           .select(
               "antecedent", "consequent", "n_pair", "n_ante", "n_cons",
               floor_round_col(
                   F.col("n_pair").cast("double")
                   / F.col("n_ante").cast("double")).alias("confidence"),
               floor_round_col(
                   (F.col("n_pair").cast("double")
                    * F.col("_nb"))
                   / (F.col("n_ante").cast("double")
                      * F.col("n_cons").cast("double"))).alias("lift")))
    from .cache import attach
    return attach(out, bi)


def basket_rules_2to1(df: DataFrame, *, basket_col: str, item_col: str,
                      min_support: int = 2,
                      max_basket_items: int | None = 1000) -> DataFrame:
    """Rules ``{ante_1, ante_2} → consequent`` from frequent triples:
    (ante_1, ante_2, consequent, n_triple, n_ante_pair, n_cons,
    confidence, lift), ``ante_1 < ante_2``, for every unordered triple
    with support ≥ ``min_support`` (three rules per triple).

    Apriori level 3 restricted to 2→1 rules. Candidate generation is
    the monotonicity prune: a triple {x,y,z} (x<y<z) is counted by
    joining occurrences of the frequent pair (x,y) back to a third
    basket item z>y — any sub-pair of a frequent triple is itself
    frequent, so seeding from frequent (x,y) pairs loses nothing, and
    the antecedent-pair counts needed for confidence are guaranteed
    present in the frequent-pair table for the same reason.
    ``confidence = n_triple / n_pair(ante)`` and ``lift = n_triple ·
    n_baskets / (n_pair(ante) · n_item(cons))`` — the standard pair→
    item lift (how much the consequent is boosted over independence
    from the antecedent pair). Same hot-basket cap and strict
    floor-rounded divides as :func:`basket_rules`.
    """
    if min_support < 1:
        raise ValueError(f"min_support must be >= 1: {min_support}")
    bi = _capped_items(df, basket_col, item_col,
                       max_basket_items).persist()
    _truncation_check(bi, max_basket_items, "basket_rules_2to1")
    nb = _n_baskets_col(bi)
    item_n = bi.groupBy("i").agg(F.count("*").alias("n_i"))

    def hint(frame):
        # AQE runtime broadcast from real sizes (see _truncation_check)
        return frame
    a, c = bi.alias("a"), bi.alias("c")
    # frequent-pair OCCURRENCES (basket retained) — the triple seed;
    # the aggregated frequent-pair counts derive from the same frame.
    # persist: BOTH pair_n and freq_occ consume it — unpersisted, the
    # basket self-join (the dominant stage, up to cap²/2 rows per
    # basket) would run twice.
    pair_occ = (a.join(c, (F.col("a.b") == F.col("c.b"))
                       & (F.col("a.i") < F.col("c.i")))
                .select(F.col("a.b").alias("b"),
                        F.col("a.i").alias("x"),
                        F.col("c.i").alias("y"))
                .persist())
    pair_n = (pair_occ.groupBy("x", "y")
              .agg(F.count("*").alias("n_pair"))
              .where(F.col("n_pair") >= min_support))
    freq_occ = pair_occ.join(pair_n.select("x", "y"),
                             ["x", "y"]).alias("f")
    z = bi.alias("z")
    triples = (freq_occ.join(z, (F.col("f.b") == F.col("z.b"))
                             & (F.col("f.y") < F.col("z.i")))
               .groupBy(F.col("f.x").alias("x"),
                        F.col("f.y").alias("y"),
                        F.col("z.i").alias("w"))
               .agg(F.count("*").alias("n_triple"))
               .where(F.col("n_triple") >= min_support))
    # three 2→1 rules per frequent triple x<y<w; every antecedent pair
    # is emitted in its own sorted order, matching pair_n's (x<y) key.
    # ONE explode over the aggregated triples, not a 3-branch union —
    # `triples` is lazy (the basket-keyed extension join + count), and a
    # union re-executes that whole subtree once per branch (measured in
    # the 3to1 twin: the quad stage ran 4×). The explode emits all
    # three rules from a single computation, per-row, no extra exchange.
    def _rule(a1, a2, cons):
        return F.struct(F.col(a1).alias("ante_1"),
                        F.col(a2).alias("ante_2"),
                        F.col(cons).alias("consequent"),
                        F.col("n_triple"))

    rules = (triples.select(F.explode(F.array(
        _rule("x", "y", "w"), _rule("x", "w", "y"),
        _rule("y", "w", "x"))).alias("r"))
        .select("r.ante_1", "r.ante_2", "r.consequent", "r.n_triple"))
    np_ = pair_n.select(F.col("x").alias("ante_1"),
                        F.col("y").alias("ante_2"),
                        F.col("n_pair").alias("n_ante_pair"))
    nc = item_n.select(F.col("i").alias("consequent"),
                       F.col("n_i").alias("n_cons"))
    out = (rules.join(np_, ["ante_1", "ante_2"])
           .join(hint(nc), "consequent")
           .crossJoin(F.broadcast(nb))
           .select(
               "ante_1", "ante_2", "consequent", "n_triple",
               "n_ante_pair", "n_cons",
               floor_round_col(
                   F.col("n_triple").cast("double")
                   / F.col("n_ante_pair").cast("double"))
               .alias("confidence"),
               floor_round_col(
                   (F.col("n_triple").cast("double")
                    * F.col("_nb"))
                   / (F.col("n_ante_pair").cast("double")
                      * F.col("n_cons").cast("double"))).alias("lift")))
    from .cache import attach
    return attach(out, bi, pair_occ)


def basket_rules_3to1(df: DataFrame, *, basket_col: str, item_col: str,
                      min_support: int = 2,
                      max_basket_items: int | None = 1000) -> DataFrame:
    """Rules ``{ante_1, ante_2, ante_3} → consequent`` from frequent
    quadruples: (ante_1, ante_2, ante_3, consequent, n_quad,
    n_ante_triple, n_cons, confidence, lift), antecedents sorted
    ascending, for every unordered quadruple with support ≥
    ``min_support`` (four rules per quadruple).

    Apriori level 4 restricted to 3→1 rules — one more rung on the
    :func:`basket_rules_2to1` ladder, same monotonicity-pruned
    candidate generation applied twice: frequent-pair OCCURRENCES seed
    the triple count, frequent-TRIPLE occurrences seed the quadruple
    count (a quad {x,y,z,w}, x<y<z<w, is counted by extending the
    frequent ordered triple (x,y,z) with a basket item w>z; every
    sub-triple of a frequent quad is frequent, so the seed loses
    nothing and every rule's antecedent-triple count is guaranteed
    present in the frequent-triple table). This is the deliberate top
    of the ladder: each level multiplies the oracle CTE's join depth,
    and 4→1 adds cost without adding a new verification shape.

    Scale: the dominant pair self-join runs ONCE (``pair_occ``
    persisted, shared by the pair counts and both extension joins'
    lineage); ``triple_occ`` is persisted for the same reason
    (consumed by the triple counts and the quad extension). Both
    extension joins are basket-keyed against the capped ``bi`` —
    bounded at cap·|occ| rows, support-floored before any projection.
    Same hot-basket cap, truncation warning, and strict floor-rounded
    IEEE divides as the rest of the family:
    ``confidence = n_quad / n_triple(ante)``, ``lift = n_quad ·
    n_baskets / (n_triple(ante) · n_item(cons))``.
    """
    if min_support < 1:
        raise ValueError(f"min_support must be >= 1: {min_support}")
    bi = _capped_items(df, basket_col, item_col,
                       max_basket_items).persist()
    _truncation_check(bi, max_basket_items, "basket_rules_3to1")
    nb = _n_baskets_col(bi)
    item_n = bi.groupBy("i").agg(F.count("*").alias("n_i"))

    def hint(frame):
        # AQE runtime broadcast from real sizes (see _truncation_check)
        return frame
    a, c = bi.alias("a"), bi.alias("c")
    pair_occ = (a.join(c, (F.col("a.b") == F.col("c.b"))
                       & (F.col("a.i") < F.col("c.i")))
                .select(F.col("a.b").alias("b"),
                        F.col("a.i").alias("x"),
                        F.col("c.i").alias("y"))
                .persist())
    pair_n = (pair_occ.groupBy("x", "y")
              .agg(F.count("*").alias("n_pair"))
              .where(F.col("n_pair") >= min_support))
    freq_pair_occ = pair_occ.join(pair_n.select("x", "y"),
                                  ["x", "y"]).alias("f")
    z = bi.alias("z")
    triple_occ = (freq_pair_occ
                  .join(z, (F.col("f.b") == F.col("z.b"))
                        & (F.col("f.y") < F.col("z.i")))
                  .select(F.col("f.b").alias("b"), F.col("f.x").alias("x"),
                          F.col("f.y").alias("y"),
                          F.col("z.i").alias("z"))
                  .persist())
    triple_n = (triple_occ.groupBy("x", "y", "z")
                .agg(F.count("*").alias("n_triple"))
                .where(F.col("n_triple") >= min_support))
    freq_triple_occ = triple_occ.join(
        triple_n.select("x", "y", "z"), ["x", "y", "z"]).alias("t")
    w4 = bi.alias("w4")
    quads = (freq_triple_occ
             .join(w4, (F.col("t.b") == F.col("w4.b"))
                   & (F.col("t.z") < F.col("w4.i")))
             .groupBy(F.col("t.x").alias("x"), F.col("t.y").alias("y"),
                      F.col("t.z").alias("z"),
                      F.col("w4.i").alias("w"))
             .agg(F.count("*").alias("n_quad"))
             .where(F.col("n_quad") >= min_support))
    # four 3→1 rules per frequent quad x<y<z<w; every antecedent
    # triple is emitted in its own sorted order, matching triple_n's
    # (x<y<z) key. ONE explode over the aggregated quads, not a
    # 4-branch union: the union re-executed the quad extension join +
    # aggregation once per branch (measured: four identical ~6 s stages
    # per action at sf0.1 — the single dominant cost of this operator);
    # the explode emits all four rules from a single computation.
    def _rule(a1, a2, a3, cons):
        return F.struct(F.col(a1).alias("ante_1"),
                        F.col(a2).alias("ante_2"),
                        F.col(a3).alias("ante_3"),
                        F.col(cons).alias("consequent"),
                        F.col("n_quad"))

    rules = (quads.select(F.explode(F.array(
        _rule("x", "y", "z", "w"), _rule("x", "y", "w", "z"),
        _rule("x", "z", "w", "y"), _rule("y", "z", "w", "x")))
        .alias("r"))
        .select("r.ante_1", "r.ante_2", "r.ante_3", "r.consequent",
                "r.n_quad"))
    nt = triple_n.select(F.col("x").alias("ante_1"),
                         F.col("y").alias("ante_2"),
                         F.col("z").alias("ante_3"),
                         F.col("n_triple").alias("n_ante_triple"))
    nc = item_n.select(F.col("i").alias("consequent"),
                       F.col("n_i").alias("n_cons"))
    out = (rules.join(nt, ["ante_1", "ante_2", "ante_3"])
           .join(hint(nc), "consequent")
           .crossJoin(F.broadcast(nb))
           .select(
               "ante_1", "ante_2", "ante_3", "consequent", "n_quad",
               "n_ante_triple", "n_cons",
               floor_round_col(
                   F.col("n_quad").cast("double")
                   / F.col("n_ante_triple").cast("double"))
               .alias("confidence"),
               floor_round_col(
                   (F.col("n_quad").cast("double")
                    * F.col("_nb"))
                   / (F.col("n_ante_triple").cast("double")
                      * F.col("n_cons").cast("double"))).alias("lift")))
    from .cache import attach
    return attach(out, bi, pair_occ, triple_occ)
