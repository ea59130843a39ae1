"""Central query registry: merges every module's QUERIES/ORACLE dicts.

``__spark_entry__.py`` re-exports these for the driver's correctness
harness.  Every operator claimed done in SURVEY.md §2 has an entry here;
ops without a SQL-expressible oracle appear in QUERIES only (driver
records a rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from aind_smartspim_data_transformation_spark.plans import relational


# ROTATION (round 7): the driver's correctness harness samples the
# first ~50 registry entries per round.  STANDING INVARIANT (registry
# growth hygiene): every query registered in round N lands in round
# N+1's leading list BEFORE anything else is added, so no query ever
# waits more than one round for an external CORRECTNESS row — the
# leading list is (a) all keys with no driver row yet, oldest first,
# then (b) this round's brand-new keys; r-green families trail.
#
# Round-16 rotation (optimization round 2; VERDICT r15 ask #7): every
# query whose plan or operator internals r16 touched leads.  (a) s10/
# s11's PQ encode+ADC moved from literal codebook/LUT expression trees
# to the vectorized numpy mapInPandas (VERDICT r15 ask #1; the
# expression plans are since deleted — the DuckDB oracle pins the
# rows); (b) d07's salt key and
# d14's self-pair filter were de-spoiled (coalesce / null-safe <=>) so
# AQE's runtime stage cache shares ONE signature subtree across all
# consumers (ask #3 — executed plans now 1 documents scan, was 2; d04
# rotated too as a _simhash_sigs consumer, belt-and-braces); (c) e14
# now runs e04's sessions plan, which gained a user_id range exchange,
# so both lead on the n18 lesson: every touched query gets driver
# verification.  No new registry keys.  Later: d08 moved from its own
# label-propagation loop onto the shared large-star/small-star
# components (d09's plan), so it leads too; so do s09 and n07 (Lloyd
# assignment now calls the numpy kernel shared with s11), d03 (its observation option is gone), i03
# (one mapInPandas now generates, reduces and checksums its chunks) and
# i05 (it replays the unfolded band plan: one band buffer in the cap,
# marker keys over (slab, band)).  So do the users of the single sketch
# kernels: d03, d15 and d16 (one per-row MinHash band signature), x04
# and n08 (one HLL register and estimate pipeline), n06, n18 and n19
# (one token-count / type-token-ratio feature).  So do the nine users of
# the one range-bucket construction (distributed_order_stats): q09,
# n05, n06, n14, n15, n18, n19, t10 and t12.
_LEADING_R16 = [
    "s10_pq_adc",
    "s11_ivf_pq_search",
    "d04_simhash",
    "d07_simhash_hamming_pairs",
    "d14_hamming_neighbor_topk",
    "e14_sessions_recursive",
    "e04_sessionize",
    "d08_dup_components",
    "s09_kmeans_train",
    "n07_semantic_dedup",
    "d03_dedup_minhash_lsh",
    "i03_pyramid_level",
    "i05_resume_bookkeeping",
    "d15_lsh_saturation_audit",
    "d16_lsh_recovered_pairs",
    "x04_hll_distinct",
    "n08_windowed_hll_users",
    "n06_quality_deciles",
    "n18_length_quality_spearman",
    "n19_tier_source_mix",
    "q09_ntile",
    "n05_sequence_packing",
    "n14_token_volume_deciles",
    "n15_vocab_coverage",
    "t10_vocab_zipf",
    "t12_mean_token_rank",
]


def _rotate(d: dict) -> dict:
    # A typo or renamed leading key would silently trail outside the
    # sample window; tests/test_settings.py::test_rotation_keys_resolve
    # fails loudly on that (an assert HERE would conflict with the
    # defensive-import design above — one broken module must degrade
    # the registry, not destroy it, when the driver imports this file).
    lead = {k: d[k] for k in _LEADING_R16 if k in d}
    lead.update((k, v) for k, v in d.items() if k not in lead)
    return lead


def _modules():
    # Imported lazily/defensively so one broken module never takes down
    # the whole registry (the driver imports this file every round).
    import importlib

    # One ordered list drives the whole registry; `relational` is the
    # statically-imported sentinel (it must never be silently skipped).
    order = [
        "aind_smartspim_data_transformation_spark.plans.events",
        relational,
        "aind_smartspim_data_transformation_spark.operators.similarity",
        "aind_smartspim_data_transformation_spark.operators.text",
        "aind_smartspim_data_transformation_spark.operators.corpus",
        "aind_smartspim_data_transformation_spark.operators.multimodal",
        "aind_smartspim_data_transformation_spark.plans.imaging_queries",
        "aind_smartspim_data_transformation_spark.operators.dedup",
        # Module order no longer defines the sample window (the explicit
        # _LEADING_R16 rotation above does).
        "aind_smartspim_data_transformation_spark.plans.extras",
    ]
    mods = []
    for entry in order:
        if not isinstance(entry, str):
            mods.append(entry)
            continue
        try:
            mods.append(importlib.import_module(entry))
        except ImportError:
            pass
    return mods


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Merged (rotated) name → callable registry.

    CALLER CONTRACT — cache hygiene: several queries (n05, n06, n14,
    n15, n16, n18, n19) intentionally return plans containing a shared
    ``persist()`` subtree (an InMemoryRelation) so their final consumer
    computes the expensive shared input once.  The registry does NOT
    release those caches — a harness that sweeps many queries must call
    ``spark.catalog.clearCache()`` between queries (as bench.py,
    tools/strict_verify.py, tools/overflow_sweep.py and
    tools/dump_plans.py do), or it will accumulate ~7 live
    InMemoryRelations per pass.  An in-plan ``unpersist()`` is NOT an
    alternative: releasing at build time evicts the InMemoryRelation
    from the returned plan and the consumer recomputes the shared
    subtree (measured r8→r9: n05 2→4, n15 2→6 wide exchanges).  Full
    site census + session-lifetime policy: SCALE.md §6q.
    """
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _modules():
        out.update(getattr(m, "QUERIES", {}))
    return _rotate(out)


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _modules():
        out.update(getattr(m, "ORACLE", {}))
    return _rotate(out)
