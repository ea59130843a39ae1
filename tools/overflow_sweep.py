#!/usr/bin/env python
"""Registry-wide integer-envelope sweep at a ≥50k-row scale-up.

VERDICT r7 ask #2: n18's int64 overflow was found by inspection; this
makes the hunt systematic.  The ppm/milli integer-arithmetic family
(n02, n03, n10, n11, t09, s06, …) all multiply by 10⁶-scale literals —
each either has a safe envelope at a 10× scale-up of the LLM-pipeline
tables or fails loudly here under Spark's ANSI mode.

What it does:

- builds a synthetic scale dir: every TPC-H-ish table symlinked from
  the base SF (default sf0.1) and documents / events / embeddings
  replicated ``--factor`` times (default 10× → 50k docs / 1M events /
  20k vectors) with re-keyed ids (doc_id·f+rep etc. — uniqueness
  preserved; text/vec payloads repeat, which is exactly the heavy-tie
  regime integer rank/ppm arithmetic must survive);
- executes EVERY registered query against that dir (collect, bounded
  by the queries' own aggregate-first shapes) and classifies failures:
  ``OVERFLOW`` (ANSI arithmetic overflow / out-of-range cast) vs other
  errors;
- prints one line per query and a final verdict; exit 1 on any
  OVERFLOW or ERROR.

Results are recorded in SCALE.md §6h.  Run:

    python tools/overflow_sweep.py [--factor 10] [query ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from aind_smartspim_data_transformation_spark import registry  # noqa: E402
from aind_smartspim_data_transformation_spark.session import (  # noqa: E402
    build_local_session,
)
from aind_smartspim_data_transformation_spark.tables import TABLE_NAMES  # noqa: E402

_SCALED = ("documents", "events", "embeddings")

# --skew zipf (VERDICT r11 ask #1): every sweep to date replicated
# verbatim (uniform keys), but real 100 TB corpora are zipf-skewed —
# one user_id with 10% of the events, one source with half the docs.
# Re-key a configurable fraction of REPLICA rows onto a small head of
# hot keys with zipf(1) weights: rank r of SKEW_HEADS gets weight 1/r.
# Hot keys are NEGATIVE ids (events.user_id, embeddings.label) or a
# 'hot_source_r' literal (documents.source) so they can never collide
# with base keys; primary keys (event_id/doc_id/vec_id) stay unique.
SKEW_HEADS = 16


def _zipf_case(u_expr: str, frac: float, hot_of_rank, orig: str) -> str:
    """CASE expr: with probability ``frac`` (deterministic per-row
    uniform ``u_expr`` in [0,1)) pick a hot key by inverse-CDF of
    zipf(1) over SKEW_HEADS ranks, else keep ``orig``."""
    H = sum(1.0 / r for r in range(1, SKEW_HEADS + 1))
    cum, branches = 0.0, []
    for r in range(1, SKEW_HEADS + 1):
        cum += (1.0 / r) / H
        branches.append(f"WHEN {u_expr} < {frac * cum:.9f} THEN {hot_of_rank(r)}")
    return f"CASE {' '.join(branches)} ELSE {orig} END"


def _unit_uniform(*cols: str) -> str:
    """Deterministic per-row uniform in [0,1) from the named columns."""
    return f"(pmod(xxhash64('skew', {', '.join(cols)}), 1000000) / 1000000.0)"

_OVERFLOW_MARKERS = (
    "ARITHMETIC_OVERFLOW",
    "CAST_OVERFLOW",
    "NUMERIC_VALUE_OUT_OF_RANGE",
    "overflow",
    "Out of Range",
)


def build_scale_dir(
    spark,
    base_sf: str,
    out_dir: str,
    factor: int,
    skew: str | None = None,
    skew_frac: float = 0.5,
) -> None:
    """Symlink the star schema; replicate the LLM-pipeline tables.

    The replicated tables are written REPARTITIONED (32 files): the
    broadcast crossJoin otherwise runs as ONE task and writes ONE
    parquet file, and every downstream explode-heavy scan+partial-agg
    in the sweep then executes single-task (50 MB of text is one
    maxPartitionBytes split) — the whole sweep serializes.  Real
    100 TB layouts are many-file; the sweep's should be too."""
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLE_NAMES:
        if t in _SCALED:
            continue
        dst = Path(out_dir) / f"{t}.parquet"
        if not dst.exists():
            dst.symlink_to(f"{base_sf}/{t}.parquet")

    rep = spark.range(factor).withColumnRenamed("id", "rep")

    if skew == "zipf":
        # Hot sources stay INSIDE the column's value domain: testdata
        # sources are 'src<INT>' and c09 parses that suffix
        # (CAST(substring(source, 4) AS INT)) — the first full skewed
        # sweep used 'hot_source_<r>' and c09 failed LOUDLY under ANSI
        # (the §6h design working as intended; SCALE.md §6o).  src9xx
        # ids are disjoint from the base corpus's src0..src9.
        source_expr = _zipf_case(
            _unit_uniform("doc_id", "rep"),
            skew_frac,
            lambda r: f"'src9{r:02d}'",
            "source",
        )
        user_expr = _zipf_case(
            _unit_uniform("event_id", "rep"),
            skew_frac,
            lambda r: f"CAST(-{r} AS BIGINT)",
            f"user_id * {factor} + rep",
        )
        label_expr = _zipf_case(
            _unit_uniform("vec_id", "rep"),
            skew_frac,
            lambda r: f"CAST(-{r} AS INT)",
            "label",
        )
    else:
        source_expr = "source"
        user_expr = f"user_id * {factor} + rep"
        label_expr = "label"

    docs = spark.read.parquet(f"{base_sf}/documents.parquet")
    docs.crossJoin(rep).select(
        (F.col("doc_id") * factor + F.col("rep")).alias("doc_id"),
        "text",
        "lang",
        F.expr(source_expr).alias("source"),
        "n_chars",
    ).repartition(32).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    ev = spark.read.parquet(f"{base_sf}/events.parquet")
    # event_id re-keyed for uniqueness; ts jittered by the replica index
    # (seconds) so exact-duplicate timestamps don't collapse DISTINCT
    # shapes below the scale this sweep is meant to stress.
    ev.crossJoin(rep).select(
        (F.col("event_id") * factor + F.col("rep")).alias("event_id"),
        F.expr("ts + make_interval(0, 0, 0, 0, 0, 0, rep)").alias("ts"),
        F.expr(user_expr).alias("user_id"),
        "event_type",
        "value",
        "props",
    ).repartition(32).write.mode("overwrite").parquet(f"{out_dir}/events.parquet")

    emb = spark.read.parquet(f"{base_sf}/embeddings.parquet")
    emb.crossJoin(rep).select(
        (F.col("vec_id") * factor + F.col("rep")).alias("vec_id"),
        "embedding",
        F.expr(label_expr).alias("label"),
    ).repartition(32).write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")

    if skew == "zipf":
        hot = spark.read.parquet(f"{out_dir}/events.parquet").filter(
            "user_id < 0"
        )
        total = spark.read.parquet(f"{out_dir}/events.parquet").count()
        top = hot.groupBy("user_id").count().orderBy(F.desc("count")).collect()
        share = sum(r["count"] for r in top) / max(total, 1)
        print(
            f"# skew=zipf frac={skew_frac} heads={SKEW_HEADS}: hot users hold "
            f"{share:.1%} of {total} events; head user {top[0]['count']} rows "
            f"({top[0]['count'] / max(total, 1):.1%})"
        )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--base", default=os.environ.get("SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument(
        "--skew",
        choices=["zipf"],
        default=None,
        help="re-key a --skew-frac fraction of replica rows onto "
        f"{SKEW_HEADS} zipf-weighted hot keys (events.user_id, "
        "documents.source, embeddings.label) — the 100 TB axis the "
        "uniform replication never exercises (SCALE.md §6o)",
    )
    ap.add_argument("--skew-frac", type=float, default=0.5)
    ap.add_argument(
        "--skip",
        action="append",
        default=[],
        metavar="NAME=REASON",
        help="waive a query from the sweep; a written reason is "
        "REQUIRED and echoed into the log so the waiver is always "
        "in-band (SCALE.md quotes it verbatim)",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    skips: dict[str, str] = {}
    for s in args.skip:
        if "=" not in s:
            ap.error(f"--skip needs NAME=REASON, got {s!r}")
        k, _, reason = s.partition("=")
        skips[k] = reason

    spark = build_local_session(app_name="overflow-sweep", driver_memory="32g")
    queries = registry.all_queries()
    unknown = set(skips) - set(queries)
    if unknown:
        ap.error(f"--skip names not in registry: {sorted(unknown)}")
    names = args.names or list(queries)
    for k, reason in skips.items():
        if k in names:
            names.remove(k)
            print(f"{k}: WAIVED — {reason}")

    # the scale dir is a replicated corpus (210 MB at --factor 100):
    # it goes with the run, whichever way the run ends
    with tempfile.TemporaryDirectory(prefix="overflow_sweep_") as tmp:
        print(
            f"# scale dir {tmp}: {args.base} with {_SCALED} x{args.factor}"
            + (f" skew={args.skew} frac={args.skew_frac}" if args.skew else "")
        )
        build_scale_dir(
            spark, args.base, tmp, args.factor,
            skew=args.skew, skew_frac=args.skew_frac,
        )

        overflowed, errored = [], []
        for name in names:
            # Cache hygiene lives HERE, not in the plans: queries persist
            # inputs their returned plan still references, so releasing
            # between queries keeps a long sweep bounded without breaking
            # plan shapes (r8 n05/n15 regression).
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            try:
                # Evaluate through the noop sink, not collect(): every
                # output expression is computed on the executors (the
                # overflow check this sweep exists for) but nothing is
                # serialized to the driver — a duplicate-heavy 10× corpus
                # makes pair-listing queries (d07) return tens of millions
                # of rows, which is a result-SIZE harness limit, not an
                # engine envelope.  Row count rides an Observation on the
                # same single execution.
                from pyspark.sql import Observation

                obs = Observation()
                df = queries[name](spark, tmp).observe(
                    obs, F.count(F.lit(1)).alias("n")
                )
                df.write.mode("overwrite").format("noop").save()
                n = obs.get["n"]
                print(f"{name}: OK rows={n} ({time.perf_counter() - t0:.1f}s)")
            except Exception as exc:  # keep sweeping; classify
                msg = f"{type(exc).__name__}: {exc}"
                if any(m.lower() in msg.lower() for m in _OVERFLOW_MARKERS):
                    overflowed.append(name)
                    print(f"{name}: OVERFLOW {msg.splitlines()[0][:200]}")
                else:
                    errored.append(name)
                    print(f"{name}: ERROR {msg.splitlines()[0][:200]}")
        print(
            f"\n{len(names)} swept; "
            + (
                f"OVERFLOW: {' '.join(overflowed)}; ERROR: {' '.join(errored)}"
                if (overflowed or errored)
                else "ALL CLEAN"
            )
        )
        return 1 if (overflowed or errored) else 0


if __name__ == "__main__":
    raise SystemExit(main())
