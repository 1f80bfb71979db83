"""Exchange-count budgets for the flagship plans — a regression gate.

Every budget pins the DISTINCT-exchange count (tools/plan_audit.py
semantics: unique plan_ids, so cached-subtree reprints and reused
exchanges don't double-count) of an entry whose physical shape carries a
documented 100 TB argument (SCALING.md). A refactor that silently adds a
shuffle fails here long before it shows up in a bench regression —
shuffle count is the dominant cost driver at scale, and at sf0.001 a new
exchange is invisible in wall time.

Budgets are the CURRENT measured counts (not padded): the point is to
force a conscious decision — either the new shuffle is justified (bump
the budget with a comment) or it's a regression (fix the plan).
"""

from __future__ import annotations

import re

import pytest

SF_DIR = "/root/testdata/sf0.001"

# entry name -> max distinct exchanges (current measured value)
BUDGETS = {
    # security layer: injected predicates must stay plan-free overhead
    "rls_select": 0,
    "rls_union": 0,
    "mask_show_first": 0,
    "mask_join": 1,          # the join's own exchange pair counts as 1+1 sides collapsed by broadcast at this sf; budget = measured
    "rls_groupby": 1,
    # dedup family: the banded joins are THE scale argument
    "dedup_minhash_pairs": 2,
    "dedup_lsh_verified": 4,
    "dedup_simhash_pairs": 2,
    "dedup_span_stats": 3,
    "cdc_upsert_latest": 1,
    # the as-of OP is single-exchange (test_asof plan gate); the ENTRY
    # adds its own keyed step on top — measured 2 for the composed query
    "asof_purchase_click": 2,
    # PQ search (round-5): the RoundRobin encode-parallelism lift + the
    # top-k window's q_id exchange; the ADC join itself broadcasts the
    # LUT side at this sf (0 exchanges) and the cell-keyed IVF-PQ join
    # must never degrade to a cartesian (separate plan test)
    "emb_pq_topk": 2,
    "emb_ivfpq_topk": 2,
    # composite pipelines (round-3 exchange diet results)
    # +3 each r11: the vocab-size V no longer comes from a driver
    # collect() (a separate pre-plan job whose exchanges this count
    # never saw) — it rides as a 1-row aggregate crossJoin'd into the
    # scoring plan, so the unigram-count branch's exchanges now PRINT
    # inside the measured plan (distinct plan_ids per reference;
    # runtime reuses the shuffle stages). Entry wall time DROPPED
    # (2.16 -> 1.57 s): plan-print accounting, not new shuffles.
    "text_lm_score": 9,
    "sample_quality_curriculum": 11,
    "sample_dsir_weights": 5,
    "pack_sequences": 4,
    # r11 optimization round: +1 on the entries whose operators gained
    # an EXPLICIT small-input spread exchange (skew.spread_partitions —
    # parallelizes the heavy narrow kernel when a single-row-group scan
    # would otherwise run it on one task; a no-op at corpus scale, but
    # the budget runs at sf0.001 where it fires): clean_corpus (both),
    # profile_quantiles, sketch_distinct_hll, text_lm_score,
    # zorder_orders, sample_quality_curriculum. Where the spread frame
    # feeds TWO consumers (lm_score's bigram+unigram branches, the HLL
    # sketch+exact branches) the STATIC plan prints the exchange once
    # per reference (+2 here) — at runtime AQE's stage reuse executes
    # it once (measured: sharing one spread cut sketch_distinct_hll
    # 2.25 -> 1.87 s vs two independent spreads).
    # round-5 widening: every remaining top-10 bench heavy plus the
    # zero-exchange narrow ops (a regression to ANY exchange there is a
    # design break, not a tuning matter)
    "pipeline_clean_corpus": 6,
    "secured_clean_corpus": 6,
    # r11 opt round: the exact path became the distributed-selection
    # percentile (range-partitioned histogram + per-partition offsets
    # + broadcast selector rows) — the former 3-exchange plan hid a
    # 1-task straggler sorting the widest column's whole histogram
    # (1.7 s at sf0.1). 8 → 7 late-r11: the running-sum window's
    # (_pid, column) exchange is gone — the histogram cache is sorted
    # within its range partitions at fill time and a streaming Arrow
    # kernel carries the cumulative instead (4 real shuffles: spread,
    # per-value agg, range partition, final per-column agg; the
    # PERSISTED subtree reprints its 3 upstream exchanges under new
    # plan_ids). Every stage is bounded by histogram/partitions.
    "profile_quantiles": 7,
    "sketch_distinct_hll": 6,
    "sketch_hist_quantiles": 6,
    "emb_kmeans_cells": 0,
    "emb_quantize_int8": 0,
    # +1 r11: lsh_buckets gained the conditional small-input spread
    # (the hyperplane-matmul Arrow kernel ran on ONE task off a
    # single-row-group scan); fires at this sf, no-op at corpus scale
    "emb_ann_pairs": 2,
    "zorder_orders": 2,
    "sessionize_events": 1,
    "cdc_snapshot_diff": 2,
    # round-5 additions: BM25 = repartition + token-df agg + top-k
    # window (the persisted tf table kills the duplicate corpus scan);
    # fuzzy = broadcast block-join + the stream-side round-robin
    # parallelism lift (the 7s→0.8s fix: in-block DP verification would
    # otherwise run on the single input partition); pagerank = ~4 per
    # power iteration × 5 + setup (edges+nodes persisted once)
    "text_bm25_topk": 3,
    "fuzzy_title_pairs": 1,
    "graph_pagerank": 21,
    # late-r05 additions: binary scan = broadcast-NLJ over code words
    # + the per-query top-k window's q_id exchange; the probe SCORE is
    # a pure projection (its fit pass collects metadata-sized sums
    # before the plan exists, so the scored plan must stay exchange-
    # free); MMR = the shortlist window's q_id exchange + the
    # applyInPandas regroup
    # r11: +2 conditional spreads (corpus code-pack, rerank unit-norm)
    # — explicit-count repartitions that parallelize the two heavy
    # narrow kernels off a single-row-group scan; both are no-ops on
    # corpus-sized inputs, so the at-scale shape stays 1
    "emb_binary_topk": 3,
    "classifier_probe_score": 0,
    "retrieval_mmr_topk": 2,
    # leakage-safe split: the pair-graph build's shuffle + the
    # label-map join back; the bucket/threshold assignment itself is a
    # narrow projection
    "split_component_safe": 2,
    # IVF-binary: the probe side broadcasts (a hash join on cell, no
    # cartesian), leaving only the top-k window's q_id exchange
    # r11: +2 conditional spreads (cell-assign/code-pack, rerank
    # unit-norm) — see emb_binary_topk; no-ops at corpus scale
    "emb_binary_ivf_topk": 3,
    # round-9 triangles: the shuffles the algorithm owns — edge
    # distinct, degree agg, wedge self-join (both sides), closure
    # probe, corner count — with e/o/tri persisted once and the
    # degree table broadcast into the orientation join (measured 9;
    # the unpersisted/unbroadcast first cut was 22)
    # r11 opt round: +1 — the small_v-gated apex-keyed repartition of
    # the oriented table (cached-plan coalescing materialized it at 2
    # partitions, serializing the O(m^{3/2}) wedge join; gated on the
    # EXACT |V| count like the broadcasts, so no exchange past
    # BROADCAST_NODES_LIMIT). The 3-branch corner union became one
    # explode (no exchange either way, one cache read instead of 3).
    "graph_triangles": 10,
}


def _distinct_exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    ex_re = re.compile(
        r"Exchange (?:hashpartitioning|rangepartitioning|"
        r"RoundRobinPartitioning|SinglePartition)")
    pid_re = re.compile(r"\[plan_id=(\d+)\]")
    seen, anon = set(), 0
    for line in plan.splitlines():
        if not ex_re.search(line):
            continue
        m = pid_re.search(line)
        if m:
            seen.add(m.group(1))
        else:
            anon += 1
    return len(seen) + anon


@pytest.fixture(scope="module")
def entry_queries(spark):
    import __spark_entry__ as entry
    from flink_sql_security_spark.sources import register_tables

    register_tables(spark, SF_DIR)
    return entry.queries()


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_exchange_budget(entry_queries, spark, name):
    df = entry_queries[name](spark, SF_DIR)
    got = _distinct_exchanges(df)
    from flink_sql_security_spark.operators.cache import release

    release(df)
    assert got <= BUDGETS[name], (
        f"{name}: {got} distinct exchanges, budget {BUDGETS[name]} — a new "
        f"shuffle appeared; justify it (bump the budget with a comment) or "
        f"fix the plan")
