"""Plan-shape regression guard for the headline queries.

Correctness tests can't catch a plan regression: a future edit that
flips a broadcast to a cartesian product, or adds an extra fact-sized
exchange, still returns the right rows at sf0.001 — and melts at
100×.  This pins an UPPER BOUND on the wide-shuffle count of each
headline query's finalized adaptive plan, plus two absolute bans
(CartesianProduct anywhere, BroadcastNestedLoopJoin outside the
queries that legitimately need one).

Bounds are ceilings, not exact counts, so AQE coalescing or benign
optimizer changes don't false-alarm; raising a ceiling in this file is
a deliberate, reviewed act.
"""

from __future__ import annotations

import pytest

from aind_smartspim_data_transformation_spark import registry

# query -> max allowed wide exchanges (hash plus range partitioning) in
# the FINAL adaptive plan.  Ceilings = observed + headroom 1; "observed
# H+R" is H hash and R range exchanges, measured identical at sf0.001
# (this fixture) and sf0.01 (PLANS.md) — regenerate with
# tools/dump_plans.py before touching a ceiling.
MAX_WIDE_EXCHANGES = {
    "q01_pricing_summary": 3,           # observed 1+1: one agg exchange
    "q03_revenue_by_nation": 3,         # observed 1+1: AQE broadcasts dims
    "q12_distinct_agg": 4,              # observed 2+1: Expand + distinct aggs
    "e02_tumbling_window": 3,           # observed 1+1
    "e04_sessionize": 2,                # observed 0+1: one user_id range exchange
    "e14_sessions_recursive": 2,        # observed 0+1: e04's plan, value pruned
    "e05_asof_join": 3,                 # observed 1+1
    "d03_dedup_minhash_lsh": 4,         # observed 2+1: band groupBy, verify
    "s01_cosine_topk": 1,               # observed 0+0: broadcast query vec, top-k
    "s11_ivf_pq_search": 1,             # observed 0+0: narrow map + two top-k's
    "t02_quality_score": 2,             # observed 0+1
    "c13_mixture_rebalance": 4,         # observed 2+1
    "x08_fk_orphans": 4,                # observed 3+0: one distinct+join+agg per edge
    "d13_keep_best_quality": 8,         # observed 6+1: d03 + star + score join + agg
    "c14_curation_pipeline": 10,        # observed 8+1: d13 shape + gate + manifest agg
    "n01_minhash_estimator_qa": 5,      # observed 2+2
    "n02_source_pair_tvd": 9,           # observed 7+1: shared-vocab join chain
    "n03_source_gini": 4,               # observed 3+0
    "n04_event_burstiness": 3,          # observed 2+0
    "q09_ntile": 4,                     # observed 2+1: bucket count agg + tile window
    "n05_sequence_packing": 4,          # observed 2+1: dist. per-source running sum
    "n06_quality_deciles": 4,           # observed 2+1: distributed_ntile + tier agg
    "n07_semantic_dedup": 4,            # observed 2+1: (cell,v) collapse + cell agg
    "n09_cross_source_contamination": 8,  # observed 6+1: h window feeds pair join
    "n10_embedding_dispersion": 4,      # observed 2+1: (label,dim) agg + label agg
    "n11_split_balance": 8,             # observed 6+1: cell agg + tiny totals
    "n12_source_dup_profile": 6,        # observed 4+1: one scan, digest-only aggs
    "t10_vocab_zipf": 4,                # observed 2+1: vocab agg + dist. rank/cum
    "t12_mean_token_rank": 5,           # observed 3+1: vocab agg + rank + doc agg
    "n14_token_volume_deciles": 4,      # observed 2+1: distributed_ntile + tier agg
    "n15_vocab_coverage": 3,            # observed 1+1: vocab agg + dist. running sum
    "n16_retention_cohorts": 4,         # observed 2+1: weeks distinct + cohort agg
    "n17_event_heavy_hitters": 6,       # observed 4+1: per-user agg + type window
    "n18_length_quality_spearman": 3,   # observed 2+0: two dist. rank passes
    "n19_tier_source_mix": 5,           # observed 3+1: ntile + cell agg + tier window
}

# Queries whose plan MUST share multi-referenced subtrees instead of
# recomputing them per consumer: their final plans must contain at
# least one ReusedExchange.  r16 runtime audit (VERDICT r15 ask #5,
# `git show 37feb5f:tools/r16_d13c14_reuse_probe.py`): for d13/c14
# the d03 pair pipeline itself does NOT appear in the collected plan
# at all — the connected_components_star loop localCheckpoints it, so
# it executes exactly once during build and the final plan reads a
# LogicalRDD (stronger than exchange reuse; a persist would only add a
# barrier on top of the existing checkpoint).  What the pin matches — and
# what must keep firing — is the reuse across the comp/labels
# consumers: d13=2 (labels agg shared by union+roots anti-join; comp
# shared by members+score join), c14=3 (same two + the surviving
# broadcast).  Observed 2/3 at sf0.01 and sf0.1, r16.
REQUIRE_REUSED_EXCHANGE = {
    "d13_keep_best_quality",
    "c14_curation_pipeline",
    # the explode-heavy shingle subtree must be shared across the
    # boilerplate filter / per-source counts / pair self-join, not
    # recomputed per consumer (observed r6: 3 reuse nodes, 1 scan,
    # 1 explode)
    "n09_cross_source_contamination",
}

# Queries whose r6 plans funneled the whole input through ONE task via
# a partition-less Window (Exchange SinglePartition) — rewired in r7
# onto the range-bucket construction (scale_utils.distributed_order_stats,
# which distributed_ntile wraps; partition_cols for per-group sums).
# The single-partition exchange must never come back; it is the one
# plan shape that cannot survive 100×.
NO_SINGLE_PARTITION_EXCHANGE = {
    "q09_ntile",
    "n05_sequence_packing",
    "n06_quality_deciles",
    # per-lang distributed running sum + bounded aggregates only (n14
    # is NOT here: its one SinglePartition is the legitimate 1-row
    # grand-total scalar aggregate, not a window)
    "n15_vocab_coverage",
    "n17_event_heavy_hitters",
    # vocab-aggregate ranks rewired onto distributed_order_stats (r7):
    # previously global row_number windows over the vocab (bounded but
    # still one task; now bucket-parallel at any vocab size)
    "t10_vocab_zipf",
    "t12_mean_token_rank",
    # n18's one SinglePartition is its bounded 1-row final aggregate
    # (a scalar, like n14's total), so n18 is NOT here
    "n19_tier_source_mix",
}

# BNLJ is legitimate in exactly two shapes: a non-equi join with no
# hash form, and the crossJoin(broadcast(<1-row scalar>)) attach
# pattern (query vector, global totals) — a 1-row build side makes the
# "nested loop" a constant lookup.
BNLJ_ALLOWED = {
    "q06_range_join",
    "e08_interval_join",
    "s01_cosine_topk",        # broadcast 1-row query vector
    "c13_mixture_rebalance",  # broadcast 1-row totals
    "n03_source_gini",        # |sources|-row aggregate cross product
    "n04_event_burstiness",   # dense day grid × tiny type list
    "n11_split_balance",      # broadcast 1-row grand total
    "n14_token_volume_deciles",  # broadcast 1-row corpus token total
}


def wide_exchanges(plan: str) -> int:
    """Hash plus range exchanges: each moves every input row across
    the network."""
    return plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )


def _final_plan(df) -> str:
    df.collect()
    return (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )


@pytest.mark.parametrize("name", sorted(MAX_WIDE_EXCHANGES))
def test_wide_shuffle_ceiling(spark, sf_dir, name):
    plan = _final_plan(registry.all_queries()[name](spark, sf_dir))
    n = wide_exchanges(plan)
    assert n <= MAX_WIDE_EXCHANGES[name], (
        f"{name}: {n} wide exchanges (ceiling {MAX_WIDE_EXCHANGES[name]}) — "
        f"a plan regression, not a correctness bug; inspect before raising "
        f"the ceiling"
    )
    assert "CartesianProduct" not in plan, f"{name} degraded to a cross join"
    if name not in BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} fell back to nested-loop"
        )
    if name in NO_SINGLE_PARTITION_EXCHANGE:
        assert "Exchange SinglePartition" not in plan, (
            f"{name}: Exchange SinglePartition — a partition-less window "
            f"(single-reducer global sort) crept back into the plan"
        )
    if name in REQUIRE_REUSED_EXCHANGE:
        assert "ReusedExchange" in plan, (
            f"{name}: no ReusedExchange — the d03 pair pipeline is being "
            f"recomputed per consumer instead of shared"
        )


def test_pair_loops_keep_explicit_repartition(spark, sf_dir, tmp_path):
    """r9 regression class: AQE coalesces a pair-expanding exchange by
    INPUT bytes and serializes the |bucket|² loop onto one task (n07
    pinned a core 40+ min at the 10× sweep; d07 likewise).  The fix is
    an EXPLICIT partition count — user-specified repartitions carry the
    REPARTITION_BY_NUM marker in the executed plan and are exempt from
    AQE coalescing.  Pin the marker so the serialized shape can't come
    back.  n07 needs real near-dup pairs (empty-relation propagation
    prunes the whole join at the smoke SF), so it runs on a synthetic
    embeddings table with an exact duplicate pair."""
    # d07: marker present on the production fixture already
    plan = _final_plan(
        registry.all_queries()["d07_simhash_hamming_pairs"](spark, sf_dir)
    )
    assert "REPARTITION_BY_NUM" in plan, (
        "d07 lost its explicit pair-join repartition — AQE will "
        "serialize the bucket pair loop again"
    )

    # n07: synthetic corpus with a guaranteed >= 0.9 cosine pair
    import numpy as np

    from aind_smartspim_data_transformation_spark.plans import extras

    rng = np.random.default_rng(31)
    rows = []
    for i in range(1, 41):
        v = rng.normal(size=16).astype("float32")
        rows.append((i, [float(x) for x in v], "l%d" % (i % 3)))
    # NEAR duplicate (distinct array, cosine 1.0): with the r10
    # fat-cell pre-collapse an EXACT copy becomes an intra-group drop
    # that never reaches the pair loop, and AQE would empty-propagate
    # the join this test pins — a scaled copy keeps the loop live
    rows.append((41, [x * 1.001 for x in rows[24][1]], "near"))
    rows.append((42, rows[24][1], "dup"))  # exact duplicate of vec 25
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    df = extras.n07_semantic_dedup(spark, str(tmp_path))
    got = {r["cell"]: (r["n_vectors"], r["n_dropped"]) for r in df.collect()}
    assert sum(n for n, _ in got.values()) == 42
    # the near dup (rep pair loop) AND the exact dup (intra collapse)
    assert sum(d for _, d in got.values()) >= 2
    plan = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "REPARTITION_BY_NUM" in plan, (
        "n07 lost its explicit pair-join repartition — AQE will "
        "serialize the cell pair loop again"
    )


def test_d14_stays_linear(spark, sf_dir):
    """d14's r10 contract: NO doc-level pair join anywhere.  The
    sig-pair subplan is a broadcast constant (the sym and top_ids
    joins are BroadcastHashJoin), and both rank windows plan as
    WindowGroupLimit so a fat signature group is pruned to k+1 rows
    before any aggregate/sort.  Losing either property re-introduces
    the quadratic intermediate the 100× sweep caught (v1 ran >25 min
    at factor 100; this shape runs 16 s)."""
    plan = _final_plan(
        registry.all_queries()["d14_hamming_neighbor_topk"](spark, sf_dir)
    )
    assert plan.count("WindowGroupLimit") >= 2, (
        "a d14 rank window lost its WindowGroupLimit pruning"
    )
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, (
        "d14's sig-keyed joins must broadcast — a sort-merge join "
        "means a doc-sided shuffle (or a doc-level pair join) came back"
    )
