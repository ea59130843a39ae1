#!/usr/bin/env python
"""ABAB measurement of the stream writer's commit promotion.

VERDICT r7 ask #4: ``SmartspimStreamWriter.commit()`` promoted stacks
sequentially on the driver with per-chunk filesystem moves — at wide
microbatches the driver serialized the epoch.  Round 8 promotes stacks
through a thread pool (``commit_parallelism``; auto = sequential on a
LOCAL filesystem, min(16, stacks) elsewhere — the policy this probe
measured into existence).

The probe measures the DRIVER-SIDE commit in isolation (no Spark): it
stages a synthetic wide wave (``--stacks`` stacks × ``--chunks`` chunks
each, real compressed chunk files on local disk), then times
``commit()`` interleaved A/B/A/B — A = sequential (parallelism 1),
B = 16-thread pool — each round on a fresh staging + store, in TWO
regimes: the raw local filesystem (µs renames) and a 5 ms/op latency
shim modelling an object store's copy+delete move.  The CREATE path is
used (promote all chunks + metadata-last), which is move-for-move the
same promotion loop the append path drives through
``append_slab_transaction``.

Measured (SCALE.md §6i): local fs sequential WINS (pooled 0.26–0.5×:
µs-scale ops lose to thread overhead — hence auto=sequential locally);
under 5 ms/op the pool wins ~15× and commit tracks max(per-stack)
instead of sum(per-stack) — sublinear in stack count, the ask's pass
criterion, hence auto=pooled on remote filesystems.
"""

from __future__ import annotations

import argparse
import shutil
import statistics
import sys
import time
import zlib
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import numpy as np  # noqa: E402

from aind_smartspim_data_transformation_spark.sources.smartspim_datasource import (  # noqa: E402
    SlabStage,
    SmartspimStreamWriter,
    _stage_key,
)

CHUNK = [4, 64, 64]  # small chunks: stresses per-move latency, not IO bw


def stage_wave(root: Path, n_stacks: int, n_chunks: int) -> list[SlabStage]:
    """One staged wave: n_stacks stacks, n_chunks level-0 chunks each."""
    blob = zlib.compress(
        np.zeros((CHUNK[0], CHUNK[1], CHUNK[2]), dtype=np.uint16).tobytes()
    )
    msgs = []
    for s in range(n_stacks):
        channel, stack = "Ex_445_Em_469", f"stack_{s:04d}"
        staging = root / ".staging" / f"probe{s:04d}"
        chunks = []
        # chunk grid: 1 × 1 × n_chunks (x-major — grid shape is
        # irrelevant to move cost, count is what matters)
        for cx in range(n_chunks):
            key = Path(_stage_key(str(staging), channel, stack, 0, 0, 0, cx))
            key.parent.mkdir(parents=True, exist_ok=True)
            key.write_bytes(blob)
            chunks.append((0, 0, cx))
        msgs.append(
            SlabStage(
                str(staging),
                {
                    (channel, stack): {
                        "dtype": "uint16",
                        "min_key": 0,
                        "max_key": CHUNK[0] - 1,
                        "levels": [
                            {
                                "z": CHUNK[0],
                                "y": CHUNK[1],
                                "x": CHUNK[2] * n_chunks,
                                "dims": list(CHUNK),
                                "chunks": chunks,
                            }
                        ],
                    }
                },
            )
        )
    return msgs


class _LatencyFs:
    """Object-store stand-in: delegates to a real filesystem but sleeps
    ``delay_s`` on every mutating per-object call (an S3 'move' is a
    copy+delete round-trip; 5 ms is a KIND model of it)."""

    def __init__(self, inner, delay_s: float):
        self._inner = inner
        self._delay = delay_s

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if name in ("move", "delete_file", "create_dir"):
            def slow(*a, **kw):
                time.sleep(self._delay)
                return attr(*a, **kw)

            return slow
        return attr


def one_round(
    root: Path, n_stacks: int, n_chunks: int, par: int,
    latency_ms: float = 0.0,
) -> float:
    if root.exists():
        shutil.rmtree(root)
    root.mkdir(parents=True)
    msgs = stage_wave(root, n_stacks, n_chunks)
    w = SmartspimStreamWriter(
        {
            "path": str(root),
            "chunk": f"[{CHUNK[0]}, {CHUNK[1]}, {CHUNK[2]}]",
            "n_levels": "1",
            "commit_parallelism": str(par),
        }
    )
    undo = None
    if latency_ms:
        from aind_smartspim_data_transformation_spark.imaging import (
            zarr_sink,
        )

        real = zarr_sink._fs_for
        delay = latency_ms / 1000.0

        def patched(path):
            fs, base = real(path)
            return _LatencyFs(fs, delay), base

        zarr_sink._fs_for = patched
        undo = lambda: setattr(zarr_sink, "_fs_for", real)  # noqa: E731
    try:
        t0 = time.perf_counter()
        w.commit(msgs, batchId=0)
        wall = time.perf_counter() - t0
    finally:
        if undo:
            undo()
    # sanity: every stack finalized
    stores = list(root.glob("*/*.ome.zarr/.zattrs"))
    assert len(stores) == n_stacks, f"{len(stores)} != {n_stacks}"
    return wall


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--stacks", type=int, default=64)
    ap.add_argument("--chunks", type=int, default=128)
    ap.add_argument("--rounds", type=int, default=4)
    ap.add_argument("--dir", default="/tmp/stream_commit_probe")
    args = ap.parse_args()

    root = Path(args.dir)
    for latency_ms, label in ((0.0, "local fs"), (5.0, "5 ms/op (object-store model)")):
        seq, par = [], []
        for i in range(args.rounds):
            a = one_round(
                root, args.stacks, args.chunks, par=1, latency_ms=latency_ms
            )
            b = one_round(
                root, args.stacks, args.chunks, par=16, latency_ms=latency_ms
            )
            seq.append(a)
            par.append(b)
            print(f"[{label}] round {i}: sequential {a:.3f}s  pooled(16) {b:.3f}s")
        ms, mp = statistics.median(seq), statistics.median(par)
        print(
            f"[{label}] stacks={args.stacks} chunks/stack={args.chunks}: "
            f"sequential median {ms:.3f}s, pooled median {mp:.3f}s, "
            f"pooled/sequential {ms / mp:.2f}x\n"
        )


if __name__ == "__main__":
    main()
