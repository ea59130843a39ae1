#!/usr/bin/env python
"""Regenerate PLANS.md: the measured wide-exchange fingerprint table of
the query set tests/test_plan_fingerprints.py guards.  Run from the
repo root:

    python tools/dump_plans.py            # writes PLANS.md at sf0.01

PLANS.md is a generated artifact; regenerate it before touching a
ceiling in tests/test_plan_fingerprints.py.
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.01"


def main() -> None:
    from aind_smartspim_data_transformation_spark import registry
    from aind_smartspim_data_transformation_spark.session import (
        build_local_session,
    )

    spark = build_local_session(app_name="plans", cpus=8)
    queries = registry.all_queries()

    # fingerprints: measured wide-exchange counts of the guarded set
    # (executed adaptive plans — the numbers the test ceilings pin)
    sys.path.insert(0, str(REPO / "tests"))
    from test_plan_fingerprints import (
        MAX_WIDE_EXCHANGES,
        REQUIRE_REUSED_EXCHANGE,
        wide_exchanges,
    )

    out = [
        "# PLANS — measured wide-exchange counts (guarded set, generated)",
        "",
        "Regenerate with `python tools/dump_plans.py`.  Executed adaptive",
        f"plans at {Path(SF_DIR).name}.  `tests/test_plan_fingerprints.py`",
        "counts hash plus range exchanges and pins each query's ceiling at",
        "observed+1 (the larger of this table's and the sf0.001 test",
        "fixture's count); regenerate this table before touching a ceiling.",
        "",
        "| query | hash exchanges | range exchanges | ceiling | reused | BNLJ |",
        "|---|---|---|---|---|---|",
    ]
    for name in sorted(MAX_WIDE_EXCHANGES):
        # harness-level cache hygiene (the plans keep their persists)
        spark.catalog.clearCache()
        df = queries[name](spark, SF_DIR)
        df.collect()
        plan = (
            df._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        n_hash = plan.count("Exchange hashpartitioning")
        n_range = wide_exchanges(plan) - n_hash
        reuse = plan.count("ReusedExchange")
        mark = " (required)" if name in REQUIRE_REUSED_EXCHANGE else ""
        out.append(
            f"| {name} | {n_hash} | {n_range} | {MAX_WIDE_EXCHANGES[name]} | "
            f"{reuse}{mark} | "
            f"{'yes' if 'BroadcastNestedLoopJoin' in plan else 'no'} |"
        )
    (REPO / "PLANS.md").write_text("\n".join(out) + "\n")
    print(f"wrote {REPO / 'PLANS.md'}")


if __name__ == "__main__":
    main()
