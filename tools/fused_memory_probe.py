#!/usr/bin/env python
"""Memory-pressure probe of the fused ingest's task budget + fallback.

VERDICT r7 ask #7 / r8 ask #5: ``FUSED_MAX_TASK_BYTES`` caps the fused
path's per-task band buffer (two folded bands + one decoded slice
span); past the cap, ``ingest="auto"`` must fall back to the
chunk-table pipeline, whose per-task state is one chunk-row Arrow
batch, not a whole band.  This probe exercises the boundary on an
acquisition LARGER than a shrunken budget (shrinking the cap instead
of synthesizing >32 GB — the routing arithmetic is identical) and
measures both routes at the same geometry:

- synthesizes one stack of ``--z`` slices at ``--height``×``--width``
  uint16 (default 32 × 2048 × 2048 ≈ 256 MiB raw);
- computes ``fused_task_bytes`` for the geometry, then runs the FULL
  ``run_imaging_job`` twice under ``ingest="auto"``:
  A = cap set AT the probed task bytes (fused route taken),
  B = cap set one byte BELOW (chunk-table fallback taken);
- asserts the routing decisions and that the two stores are
  byte-identical (the budget changes the route, never the bytes);
- records wall time and PEAK PROCESS-TREE RSS (driver python + JVM +
  every Python worker, sampled from /proc at 5 Hz) for each route.

Results are recorded in SCALE.md §6g.  Run:

    python tools/fused_memory_probe.py [--z 32 --height 2048 --width 2048]
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
import threading
import time
from pathlib import Path

import numpy as np

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def _tree_rss_kib(root_pid: int) -> int:
    """Sum VmRSS over root_pid's /proc subtree (driver + JVM + workers)."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            status = (p / "status").read_text()
        except OSError:
            continue
        pid, ppid, kib = int(p.name), 0, 0
        for line in status.splitlines():
            if line.startswith("PPid:"):
                ppid = int(line.split()[1])
            elif line.startswith("VmRSS:"):
                kib = int(line.split()[1])
        children.setdefault(ppid, []).append(pid)
        rss[pid] = kib
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        stack.extend(children.get(pid, []))
    return total


class PeakRss(threading.Thread):
    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak, self._halt = pid, 0, threading.Event()

    def run(self):
        while not self._halt.is_set():
            self.peak = max(self.peak, _tree_rss_kib(self.pid))
            self._halt.wait(0.2)

    def stop(self) -> int:
        self._halt.set()
        self.join()
        return self.peak


def main() -> int:
    import os

    ap = argparse.ArgumentParser()
    ap.add_argument("--z", type=int, default=32)
    ap.add_argument("--height", type=int, default=2048)
    ap.add_argument("--width", type=int, default=2048)
    args = ap.parse_args()

    from aind_smartspim_data_transformation_spark.imaging import fused
    from aind_smartspim_data_transformation_spark.imaging.job import (
        ImagingJobSettings,
        run_imaging_job,
    )
    from aind_smartspim_data_transformation_spark.session import (
        build_local_session,
    )
    from aind_smartspim_data_transformation_spark.sources.png_codec import (
        encode_png_gray,
    )

    spark = build_local_session(
        app_name="fused-memory-probe", driver_memory="32g"
    )

    tmp = Path(tempfile.mkdtemp(prefix="fused_mem_probe_"))
    ch, col, stack = "Ex_445_Em_469", "432380", "432380_504340"
    d = tmp / "ds" / "SmartSPIM" / ch / col / stack
    d.mkdir(parents=True)
    rng = np.random.default_rng(7)
    raw = args.z * args.height * args.width * 2
    print(
        f"# synthesizing {args.z}x{args.height}x{args.width} uint16 "
        f"({raw / 2**20:.0f} MiB raw)"
    )
    for z in range(args.z):
        plane = rng.integers(0, 65535, size=(args.height, args.width))
        (d / f"{z:06d}.png").write_bytes(
            encode_png_gray(plane.astype(np.uint16))
        )
    (tmp / "ds" / "derivatives").mkdir()
    (tmp / "ds" / "derivatives" / "metadata.json").write_text(
        '{"origin": "probe"}'
    )
    (tmp / "ds" / "acquisition.json").write_text(
        json.dumps(
            {
                "tiles": [
                    {
                        "channel": {
                            "channel_name": "445",
                            "laser_wavelength": 445,
                        },
                        "coordinate_transformations": [
                            {
                                "type": "translation",
                                "translation": [0.0, 0.0, 0.0],
                            },
                            {"type": "scale", "scale": [1.8, 1.8, 2.0]},
                        ],
                        "file_name": f"{ch}/{col}/{stack}/",
                    }
                ]
            }
        )
    )

    geo = fused.probe_stack_geometry(spark, str(tmp / "ds" / "SmartSPIM"))
    task_bytes = fused.fused_task_bytes(
        geo, [128, 128, 128], spark.sparkContext.defaultParallelism
    )
    print(f"# fused_task_bytes at chunk [128,128,128]: {task_bytes:,}")

    results = {}
    for tag, cap in (("fused", task_bytes), ("fallback", task_bytes - 1)):
        fused.FUSED_MAX_TASK_BYTES = cap
        out = tmp / f"out_{tag}"
        spark.catalog.clearCache()
        sampler = PeakRss(os.getpid())
        sampler.start()
        t0 = time.perf_counter()
        resp = run_imaging_job(
            spark,
            ImagingJobSettings(
                input_source=str(tmp / "ds"),
                output_directory=str(out),
                chunk_size=[128, 128, 128],
                downsample_levels=3,
                ingest="auto",
            ),
        )
        wall = time.perf_counter() - t0
        peak = sampler.stop()
        assert resp["status_code"] == 200
        routed_fused = resp["route"] == "fused"
        assert routed_fused == (tag == "fused"), (
            f"auto routed {resp['route']} under cap={cap} — expected {tag}"
        )
        results[tag] = {
            "cap_bytes": cap,
            "route": resp["route"],
            "wall_s": round(wall, 2),
            "peak_tree_rss_mib": round(peak / 1024),
            "mbps": round(raw / 2**20 / wall, 1),
        }
        print(f"{tag}: {json.dumps(results[tag])}")

    snap = {}
    for tag in ("fused", "fallback"):
        out = tmp / f"out_{tag}"
        snap[tag] = {
            str(p.relative_to(out)): p.read_bytes()
            for p in sorted(out.rglob("*"))
            if p.is_file()
        }
    assert snap["fused"] == snap["fallback"], (
        "routes wrote different stores"
    )
    print("# stores byte-identical across routes")
    print(json.dumps(results))
    shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
