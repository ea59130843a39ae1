#!/usr/bin/env python
"""Imaging-pipeline throughput micro-bench: scan → PNG decode →
windowed-mean pyramid → OME-Zarr, end to end, on a generated stack
tree sized like the reference's test fixture (2000×1600 uint16
slices — `tests/test_io/test_readers.py:32-40` in the reference).

Prints ONE JSON line:
  {"metric": "imaging_mb_per_sec", "value": N, "unit": "MB/s",
   "raw_mb": M, "wall_sec": S, "stacks": K, "slices_per_stack": Z}

The reference processes its bundled dataset (2 channels × 4 stacks ×
2 slices of 2000×1600) single-threaded per process; this runs the same
slice geometry at a more production-like depth (slice count per stack
via $IMG_BENCH_SLICES, default 32) through the Spark pipeline on
local[*] — generation time is excluded, job wall-clock (decode +
4-level pyramid + zarr write + metadata) is what's timed.

Measured (local[32], 4 stacks, 128³ bricks, fused path): r10 driver
best-of-3 193 MB/s at 1.6 GB; r11 deep-scale points 154–205 MB/s at
8.19 GB and 156 MB/s at 16.38 GB (SCALE.md §6m — the 8 GB regime
initially measured 47 MB/s because the band plan overshot the task
envelope by 0.04% and auto fell back to the chunk-table pipeline;
fixed by the _band_plan envelope cap).  Throughput RISES with depth
as thicker slabs amortize scheduling and decode duplication.

CAVEAT: the container shares a host and wall-clock swings 3-5× with
neighbor load (identical code measured 36 s and 110 s an hour apart).
Never compare against a figure recorded earlier — interleave ABAB runs
against a git worktree of the old commit instead.

    python tools/bench_imaging.py
    IMG_BENCH_SLICES=64 python tools/bench_imaging.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

import numpy as np

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tests"))

from aind_smartspim_data_transformation_spark.config.settings import (  # noqa: E402
    ImagingJobSettings,
)
from aind_smartspim_data_transformation_spark.imaging.job import (  # noqa: E402
    run_imaging_job,
)
from aind_smartspim_data_transformation_spark.session import (  # noqa: E402
    build_local_session,
)
from aind_smartspim_data_transformation_spark.sources.png_codec import (  # noqa: E402
    encode_png_gray,
)

HEIGHT, WIDTH = 1600, 2000  # reference fixture slice geometry
CHANNELS = ("Ex_445_Em_469", "Ex_561_Em_600")
COLS = ("432380", "464780")
ROWS = ("504340",)


def generate(root: Path, n_slices: int, spark=None) -> int:
    """Reference-layout stack tree; returns raw uncompressed bytes.

    With a SparkSession, slice encoding fans out over the executors
    (generation is excluded from the timed window either way, but at
    64-slice depth the serial encode adds ~a minute of bench
    wall-clock for nothing).  Content is seeded per slice, so serial
    and parallel generation produce identical trees.
    """
    tasks = []
    for ch in CHANNELS:
        for col in COLS:
            for row in ROWS:
                d = root / "SmartSPIM" / ch / col / f"{col}_{row}"
                d.mkdir(parents=True)
                for z in range(n_slices):
                    tasks.append((str(d / f"{z:06d}.png"), len(tasks)))

    def _write(task: tuple) -> None:
        path, seed = task
        img = np.random.default_rng(42 + seed).integers(
            0, 65535, size=(HEIGHT, WIDTH), dtype=np.uint16
        )
        Path(path).write_bytes(encode_png_gray(img))

    if spark is not None:
        spark.sparkContext.parallelize(tasks, min(len(tasks), 64)).foreach(
            _write
        )
    else:
        for t in tasks:
            _write(t)
    raw = len(tasks) * HEIGHT * WIDTH * 2
    (root / "derivatives").mkdir()
    (root / "derivatives" / "metadata.json").write_text('{"origin": "bench"}')
    (root / "acquisition.json").write_text(
        json.dumps(
            {
                "tiles": [
                    {
                        "channel": {"channel_name": "445"},
                        "coordinate_transformations": [
                            {"type": "scale", "scale": [1.8, 1.8, 2.0]},
                        ],
                        "file_name": f"{CHANNELS[0]}/{COLS[0]}/",
                    }
                ]
            }
        )
    )
    return raw


def run_e2e(spark, n_slices: int) -> dict:
    """Generate a stack tree, run the full imaging job, return metrics.

    Importable from bench.py (the per-round BENCH harness) so ingest
    regressions surface in BENCH_r{N}.json, not just this micro-bench.
    Generation time is excluded; job wall-clock (decode + 4-level
    pyramid + zarr write + metadata) is what's timed.  MB/s over the
    raw uncompressed pixel volume is the depth-robust comparable
    (wall-clock scales with $IMG_BENCH_SLICES; throughput barely does).
    """
    tmp = Path(tempfile.mkdtemp(prefix="imgbench_"))
    try:
        src, out = tmp / "src", tmp / "out"
        raw_bytes = generate(src, n_slices, spark=spark)
        settings = ImagingJobSettings(
            input_source=str(src), output_directory=str(out)
        )
        t0 = time.perf_counter()
        resp = run_imaging_job(spark, settings)
        wall = time.perf_counter() - t0
        assert resp["status_code"] == 200, resp
        raw_mb = raw_bytes / 1e6
        return {
            "mb_per_sec": round(raw_mb / wall, 2),
            "raw_mb": round(raw_mb, 1),
            "wall_sec": round(wall, 2),
            "stacks": len(CHANNELS) * len(COLS) * len(ROWS),
            "slices_per_stack": n_slices,
            # which ingest route "auto" took — the SCALE.md §6m routing
            # regression (deep stacks silently on the chunk-table
            # fallback at half throughput) was invisible in BENCH JSON
            # until this field existed
            "route": resp["route"],
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    n_slices = int(os.environ.get("IMG_BENCH_SLICES", "32"))
    spark = build_local_session(app_name="bench-imaging", driver_memory="32g")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm-up
    m = run_e2e(spark, n_slices)
    print(
        json.dumps(
            {
                "metric": "imaging_mb_per_sec",
                "value": m["mb_per_sec"],
                "unit": "MB/s",
                **{k: v for k, v in m.items() if k != "mb_per_sec"},
            }
        )
    )


if __name__ == "__main__":
    main()
