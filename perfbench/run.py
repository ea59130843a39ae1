#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 6 --trace 0

Run from the repository root.  The run records the host context, makes
its inputs under ``.perfbench_work/`` in the current directory, then
runs the workload in a fresh child process and Spark session
(``worker.py``) with ``PYTHONPATH`` set so Spark's Python workers import
the engine from this checkout.  The imaging workload generates its
acquisition tree from ``--seed``; the query workload reads the project's
read-only sf0.1 fixture tables, the same for every seed.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json, or
with ``--trace 1`` its per-layer metrics).  Two lines before it give the
host context and every end-to-end figure with its unit.  Per-operation
records go to stderr; ``--out`` writes the whole run record as JSON.

``--smoke`` swaps in tiny inputs (sf0.001, 2 slices per stack) and no
warm-up, for the self-test in test_perfbench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
PACKAGE = "aind_smartspim_data_transformation_spark"
# every run must end within this, set-up and build included
RUN_TIMEOUT_S = 170


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _declared() -> tuple[dict, dict]:
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    units = lambda key: {m["name"]: m["unit"] for m in spec[key]}  # noqa: E731
    return units("end_to_end"), units("per_layer")


def _metric_map() -> dict:
    return json.loads((HERE / "metric_map.json").read_text())


def _inputs(workload: str, seed: int, scale, work: Path) -> dict:
    """Generate the imaging tree from ``seed``; the query workloads read
    fixed tables, located by the worker."""
    if workload != "imaging_ingest":
        return {"sf": scale.sf}
    import multiprocessing

    import imagegen

    t0 = time.perf_counter()
    # fork: no thread is running here, and unlike spawn it leaves no
    # resource-tracker process behind
    ctx = multiprocessing.get_context("fork")
    with ctx.Pool(min(len(scale.image.stacks), os.cpu_count() or 1)) as pool:
        png_bytes = imagegen.write_tree(work / "src", seed, scale.image, pool)
    return {"raw_bytes": scale.image.raw_bytes, "png_bytes": png_bytes,
            "slices": scale.image.slices, "height": scale.image.height,
            "width": scale.image.width, "stacks": len(scale.image.stacks),
            "generate_s": time.perf_counter() - t0}


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's process group (the JVM and
    Python workers) and wait until every member has exited."""
    import host

    pgid = proc.pid
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10
    while host.group_members(pgid) and time.monotonic() < deadline:
        time.sleep(0.05)


def _run_worker(cfg: dict, work: Path, timeout: float) -> int:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), str(HERE), env.get("PYTHONPATH")) if p
    )
    tmp = work / "tmp"
    tmp.mkdir()
    env["TMPDIR"] = str(tmp)
    env["SPARK_LOCAL_DIRS"] = str(tmp)
    env["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    cfg_path = work / "config.json"
    cfg["spawned_at"] = time.time()
    cfg_path.write_text(json.dumps(cfg))
    proc = subprocess.Popen(
        [sys.executable, str(HERE / "worker.py"), str(cfg_path)],
        cwd=work,
        env=env,
        stdout=sys.stderr,
        start_new_session=True,
    )
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"perfbench: worker exceeded {timeout:.0f}s", file=sys.stderr)
        return -1
    finally:
        _stop_group(proc)


def main(argv: list[str] | None = None) -> int:
    t_start = time.monotonic()
    # a terminated run still stops its worker group and removes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, str(HERE))
    from workloads import FULL, SMOKE, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--out", type=Path, help="write the full run record here")
    args = ap.parse_args(argv)

    if not (REPO / PACKAGE / "registry.py").is_file():
        return _fail(f"engine package {PACKAGE}/ not found next to {HERE.name}/")
    if not (REPO / "BENCHMARK.json").is_file():
        return _fail("BENCHMARK.json not found")
    e2e_units, layer_units = _declared()
    sys.path.insert(0, str(REPO))
    import host

    scale = SMOKE if args.smoke else FULL
    work = Path.cwd() / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        context = {"before": host.context()}
        inputs = _inputs(args.workload, args.seed, scale, work)
        cfg = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "smoke": args.smoke,
            "work": str(work),
            "result": str(work / "result.json"),
        }
        budget = RUN_TIMEOUT_S - (time.monotonic() - t_start)
        code = _run_worker(cfg, work, budget)
        if code != 0:
            print(f"perfbench: worker exited with {code}", file=sys.stderr)
            return 1
        result = json.loads((work / "result.json").read_text())
        context["after"] = host.context()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = result["per_layer"] if args.trace else result["end_to_end"]
    units = layer_units if args.trace else e2e_units
    missing = sorted(set(units) - set(values))
    if missing:
        print(f"perfbench: metrics not produced: {missing}", file=sys.stderr)
        return 1
    for f in result["failures"]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    if args.out:
        args.out.write_text(json.dumps({**result, "inputs": {**inputs, **result["inputs"]},
                                        "host": context,
                                        "seed": args.seed, "smoke": args.smoke}, indent=1))
    # Context lines first: the host it ran on, and every end-to-end
    # figure with its unit, the ones BENCHMARK.json leaves out included.
    print("perfbench-host " + json.dumps({**context, "inputs": {**inputs, **result["inputs"]}}))
    map_units = {k: m["unit"] for k, m in _metric_map()["metrics"].items()}
    print("perfbench-summary " + json.dumps({
        k: {"value": v, "unit": map_units[k]} for k, v in result["end_to_end"].items()
    }))
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
