"""Self-test of the benchmark on its smoke configuration.

    python3 -m pytest perfbench/test_perfbench.py -q

Runs every workload once on tiny inputs (sf0.001 tables, 2 slices per
stack, no warm-up) with tracing on, and asserts that every end-to-end
and per-layer metric is emitted with its declared unit and that the
correctness checks pass.  Takes a few minutes on 4 cores.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
SPEC = json.loads((REPO / "BENCHMARK.json").read_text())
METRIC_MAP = json.loads((HERE / "metric_map.json").read_text())["metrics"]


def _units(key: str) -> dict:
    return {m["name"]: m["unit"] for m in SPEC[key]}


def test_metric_map_covers_every_declared_metric():
    for name, unit in {**_units("end_to_end"), **_units("per_layer")}.items():
        assert METRIC_MAP[name]["unit"] == unit, name
        assert METRIC_MAP[name]["layer"] and METRIC_MAP[name]["should_move"], name


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run(workload, tmp_path):
    out = tmp_path / "record.json"
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", "1", "--smoke", "--out", str(out)],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    last = json.loads(lines[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0, proc.stderr[-4000:]
    assert last["metrics"] == {
        k: {"value": last["metrics"][k]["value"], "unit": u}
        for k, u in _units("per_layer").items()
    }
    summary = json.loads(next(x for x in lines if x.startswith("perfbench-summary "))
                         .split(" ", 1)[1])
    # the end-to-end figures BENCHMARK.json cannot bound are printed too
    expect = set(_units("end_to_end")) | {
        "pass_s", "mb_per_s", "geomean_query_s", "peak_rss_mb", "failed_frac"
    }
    if workload == "imaging_ingest":
        expect.add("stored_bytes_per_raw_byte")
    assert set(summary) == expect
    for name, m in summary.items():
        assert m["unit"] == METRIC_MAP[name]["unit"], name
    assert summary["failed_frac"]["value"] == 0
    record = json.loads(out.read_text())
    assert record["host"]["before"]["nproc"] >= 1
    assert "calibration_s" in record["host"]["after"]
    assert not (tmp_path / ".perfbench_work").exists() or not any(
        (tmp_path / ".perfbench_work").iterdir()
    )
