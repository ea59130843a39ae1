"""Workload definitions and input scales."""

from __future__ import annotations

from dataclasses import dataclass

from imagegen import ImageSpec

# Executor-bound relational, window and vector-search queries from the
# former bench.py headline set and its pq block: shuffle (q03, q12),
# whole-stage codegen (q01), windows (e04) and MapInPandas (s11).  Each
# run starts a fresh JVM whose first passes are still JIT-compiling, so
# a pass of the issue's 14 queries (about 30 s, plus a 45 s cold
# warm-up) does not fit a run; the list keeps one query per mechanism.
QUERY_MIX = (
    "q01_pricing_summary",
    "q03_revenue_by_nation",
    "q12_distinct_agg",
    "e04_sessionize",
    "s11_ivf_pq_search",
)

WORKLOADS = {
    "query_mix": QUERY_MIX,
    "imaging_ingest": ("run_imaging_job",),
}


@dataclass(frozen=True)
class Scale:
    sf: str  # fixture table directory name, a sibling of the smoke tables
    image: ImageSpec
    warmup_passes: dict[str, int]


# A fresh JVM is still JIT-compiling Catalyst and codegen paths through
# the second pass of queries (pass walls 27.8, 10.2, 8.4, 8.1, 7.9 s in
# one session on 4 cores), so timing starts after two; the imaging job is
# bound by Python kernels and file IO and is warm after one.
FULL = Scale(
    sf="sf0.1",
    image=ImageSpec(slices=8, height=1600, width=2000),
    warmup_passes={"query_mix": 2, "imaging_ingest": 1},
)
SMOKE = Scale(
    sf="sf0.001",
    image=ImageSpec(slices=2, height=320, width=400),
    warmup_passes={"query_mix": 0, "imaging_ingest": 0},
)
