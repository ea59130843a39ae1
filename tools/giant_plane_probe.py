#!/usr/bin/env python
"""Giant-plane fallback measurement (VERDICT r11 ask #5).

SCALE.md §6m proved deep stacks stay fused after the band-height
envelope cap; the one remaining fused-path limit is a plane too WIDE
for a single-chunk-row band: with 128³ chunks and uint16, a folded
task's two one-chunk-row band buffers alone cost 2·128·128·x·2 bytes,
so `2·128·128·x·2 + y·x·2 > FUSED_MAX_TASK_BYTES` (256 MiB) forces
job.py onto the chunk-table pipeline.  Square
crossover: x ≈ 3682 px — i.e. any plane wider than ~3.7k px is
width-bound off the fused path regardless of depth.

This probe generates ONE stack of $GIANT_SLICES (default 16) square
planes of $GIANT_XY (default 8192) px, runs the default job, asserts
the route taken was the chunk-table fallback, and prints ONE JSON line
with MB/s — the §6m table's missing row.

    python tools/giant_plane_probe.py
    GIANT_XY=16384 GIANT_SLICES=4 python tools/giant_plane_probe.py
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

from aind_smartspim_data_transformation_spark.config.settings import (  # noqa: E402
    ImagingJobSettings,
)
from aind_smartspim_data_transformation_spark.imaging import fused  # noqa: E402
from aind_smartspim_data_transformation_spark.imaging.job import (  # noqa: E402
    run_imaging_job,
)
from aind_smartspim_data_transformation_spark.session import (  # noqa: E402
    build_local_session,
)
from aind_smartspim_data_transformation_spark.sources.png_codec import (  # noqa: E402
    encode_png_gray,
)


def generate(root: Path, xy: int, n_slices: int, spark) -> int:
    d = root / "SmartSPIM" / "Ex_445_Em_469" / "432380" / "432380_504340"
    d.mkdir(parents=True)
    tasks = [(str(d / f"{z:06d}.png"), z) for z in range(n_slices)]

    def _write(task: tuple) -> None:
        path, seed = task
        img = np.random.default_rng(42 + seed).integers(
            0, 65535, size=(xy, xy), dtype=np.uint16
        )
        Path(path).write_bytes(encode_png_gray(img))

    spark.sparkContext.parallelize(tasks, len(tasks)).foreach(_write)
    (root / "derivatives").mkdir()
    (root / "derivatives" / "metadata.json").write_text('{"origin": "probe"}')
    (root / "acquisition.json").write_text(
        json.dumps(
            {
                "tiles": [
                    {
                        "channel": {"channel_name": "445"},
                        "coordinate_transformations": [
                            {"type": "scale", "scale": [1.8, 1.8, 2.0]},
                        ],
                        "file_name": "Ex_445_Em_469/432380/",
                    }
                ]
            }
        )
    )
    return n_slices * xy * xy * 2


def main() -> None:
    xy = int(os.environ.get("GIANT_XY", "8192"))
    n_slices = int(os.environ.get("GIANT_SLICES", "16"))
    spark = build_local_session(
        app_name="giant-plane-probe", driver_memory="48g"
    )
    # the route prediction, from the same probe job.py routes by
    geo = [
        {
            "channel": "Ex_445_Em_469",
            "stack": "432380_504340",
            "z": n_slices,
            "y": xy,
            "x": xy,
            "dtype": "uint16",
        }
    ]
    tb = fused.fused_task_bytes(geo, [128, 128, 128], 32)
    assert tb > fused.FUSED_MAX_TASK_BYTES, (
        f"geometry {xy}² does not exceed the envelope ({tb} B) — not a "
        "giant plane; raise GIANT_XY"
    )

    tmp = Path(tempfile.mkdtemp(prefix="giantplane_"))
    try:
        src, out = tmp / "src", tmp / "out"
        raw = generate(src, xy, n_slices, spark)
        t0 = time.perf_counter()
        resp = run_imaging_job(
            spark,
            ImagingJobSettings(
                input_source=str(src), output_directory=str(out)
            ),
        )
        wall = time.perf_counter() - t0
        assert resp["status_code"] == 200, resp
        route = resp["route"]
        assert route != "fused", resp
        print(
            json.dumps(
                {
                    "metric": "giant_plane_mb_per_sec",
                    "value": round(raw / 1e6 / wall, 2),
                    "unit": "MB/s",
                    "raw_mb": round(raw / 1e6, 1),
                    "wall_sec": round(wall, 2),
                    "xy": xy,
                    "slices": n_slices,
                    "route": route,
                    "probe_task_bytes": tb,
                }
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
