"""Seeded SmartSPIM acquisition tree with microscopy-like slices.

Each stack is a volume of sparse bright cells (3-D Gaussian blobs) and
thin neurite-like filaments over a dim, shot-noise background: a camera
offset plus Poisson counts under a smooth illumination falloff.  Uniform
noise would make every codec ratio 1.0 and understate PNG decode cost;
this content compresses roughly the way light-sheet slices do.

Every slice is a pure function of ``(seed, stack index, z)``, so the
checker can re-render any stack without reading the PNG files back.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from pathlib import Path

import numpy as np

CHANNELS = ("Ex_445_Em_469", "Ex_561_Em_600")
COLS = ("432380", "464780")
ROW = "504340"
VOXEL_XYZ = (1.8, 1.8, 2.0)  # µm, the reference acquisition's scale

_OFFSET = 100  # camera dark offset, counts
_BACKGROUND = 90.0  # mean background photons at the field centre
_CELLS_PER_MPIX_SLICE = 40
_FILAMENTS = 12


@dataclass(frozen=True)
class ImageSpec:
    """Geometry of the generated tree: stacks share one (Z, Y, X)."""

    slices: int
    height: int
    width: int

    @property
    def stacks(self) -> list[tuple[str, str]]:
        """(channel, stack directory name) for every stack, sorted."""
        return [(ch, f"{col}_{ROW}") for ch in CHANNELS for col in COLS]

    @property
    def raw_bytes(self) -> int:
        return len(self.stacks) * self.slices * self.height * self.width * 2


def _stack_scene(seed: int, stack_index: int, spec: ImageSpec) -> dict:
    """Cell and filament geometry shared by every slice of one stack."""
    rng = np.random.default_rng([seed, stack_index, 0])
    n_cells = int(
        _CELLS_PER_MPIX_SLICE * spec.height * spec.width / 1e6 * spec.slices / 4
    )
    cells = np.column_stack(
        [
            rng.uniform(-2, spec.slices + 2, n_cells),  # z
            rng.uniform(0, spec.height, n_cells),  # y
            rng.uniform(0, spec.width, n_cells),  # x
            rng.uniform(1.5, 4.5, n_cells),  # sigma_xy (px)
            rng.uniform(0.8, 2.0, n_cells),  # sigma_z (slices)
            rng.uniform(600, 9000, n_cells),  # peak counts
        ]
    )
    filaments = []
    for _ in range(_FILAMENTS):
        steps = int(rng.integers(400, 1500))
        heading = rng.uniform(0, 2 * np.pi) + np.cumsum(rng.normal(0, 0.08, steps))
        y = rng.uniform(0, spec.height) + np.cumsum(2 * np.sin(heading))
        x = rng.uniform(0, spec.width) + np.cumsum(2 * np.cos(heading))
        z = rng.uniform(0, spec.slices) + np.cumsum(rng.normal(0, 0.05, steps))
        filaments.append((z, y, x, float(rng.uniform(800, 3000))))
    yy = np.linspace(-1, 1, spec.height, dtype=np.float32)[:, None]
    xx = np.linspace(-1, 1, spec.width, dtype=np.float32)[None, :]
    illumination = 1.0 - 0.35 * (yy * yy + xx * xx)  # vignetting falloff
    return {"cells": cells, "filaments": filaments, "illumination": illumination}


def render_slice(seed: int, stack_index: int, z: int, spec: ImageSpec,
                 scene: dict | None = None) -> np.ndarray:
    """One (height, width) uint16 slice of stack ``stack_index``."""
    if scene is None:
        scene = _stack_scene(seed, stack_index, spec)
    h, w = spec.height, spec.width
    rng = np.random.default_rng([seed, stack_index, z + 1])
    signal = np.zeros((h, w), dtype=np.float32)
    for cz, cy, cx, sxy, sz, amp in scene["cells"]:
        weight = amp * np.exp(-((z - cz) ** 2) / (2 * sz * sz))
        if weight < 20:
            continue
        r = int(3 * sxy) + 1
        y0, y1 = max(int(cy) - r, 0), min(int(cy) + r + 1, h)
        x0, x1 = max(int(cx) - r, 0), min(int(cx) + r + 1, w)
        if y0 >= y1 or x0 >= x1:
            continue
        gy = np.exp(-((np.arange(y0, y1) - cy) ** 2) / (2 * sxy * sxy))
        gx = np.exp(-((np.arange(x0, x1) - cx) ** 2) / (2 * sxy * sxy))
        signal[y0:y1, x0:x1] += weight * gy[:, None] * gx[None, :]
    for fz, fy, fx, amp in scene["filaments"]:
        near = np.abs(fz - z) < 1.0
        iy, ix = fy[near].astype(np.int64), fx[near].astype(np.int64)
        ok = (iy >= 0) & (iy < h) & (ix >= 0) & (ix < w)
        np.add.at(signal, (iy[ok], ix[ok]), amp)
    signal += _BACKGROUND
    signal *= scene["illumination"]
    # shot noise: Gaussian approximation of Poisson counts (mean = var)
    noise = rng.standard_normal((h, w), dtype=np.float32)
    noise *= np.sqrt(signal)
    signal += noise
    signal += _OFFSET + 0.5
    np.clip(signal, 0, 65535, out=signal)
    return signal.astype(np.uint16)


def render_stack(seed: int, stack_index: int, spec: ImageSpec) -> np.ndarray:
    """The full (Z, Y, X) volume of one stack, as written to disk."""
    scene = _stack_scene(seed, stack_index, spec)
    return np.stack(
        [render_slice(seed, stack_index, z, spec, scene) for z in range(spec.slices)]
    )


def _write_stack(args: tuple) -> int:
    seed, stack_index, spec, directory = args
    from aind_smartspim_data_transformation_spark.sources.png_codec import (
        encode_png_gray,
    )

    scene = _stack_scene(seed, stack_index, spec)
    written = 0
    for z in range(spec.slices):
        img = render_slice(seed, stack_index, z, spec, scene)
        data = encode_png_gray(img)
        # SmartSPIM names slices by z position in tenths of a micron
        (Path(directory) / f"{z * 20:06d}.png").write_bytes(data)
        written += len(data)
    return written


def write_tree(root: Path, seed: int, spec: ImageSpec, pool=None) -> int:
    """Write the acquisition tree under ``root``; returns PNG bytes.

    ``pool`` (any object with ``map``) encodes stacks in parallel; the
    tree is identical either way."""
    tasks = []
    for i, (ch, stack) in enumerate(spec.stacks):
        d = root / "SmartSPIM" / ch / stack.split("_")[0] / stack
        d.mkdir(parents=True)
        tasks.append((seed, i, spec, str(d)))
    png_bytes = sum((pool.map if pool else map)(_write_stack, tasks))
    (root / "derivatives").mkdir()
    (root / "derivatives" / "metadata.json").write_text('{"origin": "perfbench"}')
    acquisition = {
        "tiles": [
            {
                "channel": {"channel_name": "445", "laser_wavelength": 445},
                "coordinate_transformations": [
                    {"type": "translation", "translation": [0.0, 0.0, 0.0]},
                    {"type": "scale", "scale": list(VOXEL_XYZ)},
                ],
                "file_name": f"{CHANNELS[0]}/{COLS[0]}/{COLS[0]}_{ROW}/",
            }
        ]
    }
    (root / "acquisition.json").write_text(json.dumps(acquisition))
    return png_bytes
