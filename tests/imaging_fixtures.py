"""Generate a SmartSPIM-layout dataset with our own PNG encoder.

Mirrors the reference fixture layout (FIXTURES.md §1): 2 channels ×
2 cols × 2 stacks-per-col, 2 slices each — but with deterministic
synthetic pixels (seed 42) and configurable slice size so tests stay
fast.  acquisition.json carries the golden scale [1.8, 1.8, 2.0] (XYZ).
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np

from aind_smartspim_data_transformation_spark.sources.png_codec import encode_png_gray
from aind_smartspim_data_transformation_spark.sources.tiff_codec import encode_tiff_gray

CHANNELS = ("Ex_445_Em_469", "Ex_561_Em_600")
COLS = ("432380", "464780")
ROWS = ("504340", "530260")
SLICES = ("000000", "000020")


def make_dataset(
    root: Path,
    height: int = 64,
    width: int = 80,
    seed: int = 42,
    fmt: str = "png",
) -> dict[str, np.ndarray]:
    """Returns {'<channel>/<stack>': (Z, Y, X) uint16 array}.

    ``fmt``: "png", "tif", or "mixed" (alternates per slice — the
    reference's reader accepts either extension in one acquisition).
    """
    rng = np.random.default_rng(seed)
    arrays: dict[str, np.ndarray] = {}
    for ch in CHANNELS:
        for col in COLS:
            for row in ROWS:
                stack = f"{col}_{row}"
                d = root / "SmartSPIM" / ch / col / stack
                d.mkdir(parents=True, exist_ok=True)
                vol = rng.integers(0, 65535, size=(len(SLICES), height, width)).astype(
                    np.uint16
                )
                for z, name in enumerate(SLICES):
                    use_tif = fmt == "tif" or (fmt == "mixed" and z % 2 == 1)
                    if use_tif:
                        (d / f"{name}.tif").write_bytes(encode_tiff_gray(vol[z]))
                    else:
                        (d / f"{name}.png").write_bytes(encode_png_gray(vol[z]))
                arrays[f"{ch}/{stack}"] = vol
    (root / "derivatives").mkdir(exist_ok=True)
    (root / "derivatives" / "metadata.json").write_text('{"origin": "test"}')
    acquisition = {
        "tiles": [
            {
                "channel": {"channel_name": "445", "laser_wavelength": 445},
                "coordinate_transformations": [
                    {"type": "translation", "translation": [0.0, 0.0, 0.0]},
                    {"type": "scale", "scale": [1.8, 1.8, 2.0]},
                ],
                "file_name": "Ex_445_Em_469/432380/432380_504340/",
            }
        ]
    }
    (root / "acquisition.json").write_text(json.dumps(acquisition))
    return arrays


def run_job_on_route(spark, settings, route: str) -> dict:
    """Run the imaging job and assert the route it took.  ``"fused"``
    runs at the default memory envelope, which every test geometry
    fits; ``"udf"`` patches the envelope to 0 so the chunk-table
    pipeline runs instead."""
    import pytest

    from aind_smartspim_data_transformation_spark.imaging import fused
    from aind_smartspim_data_transformation_spark.imaging.job import run_imaging_job

    with pytest.MonkeyPatch.context() as mp:
        if route == "udf":
            mp.setattr(fused, "FUSED_MAX_TASK_BYTES", 0)
        resp = run_imaging_job(spark, settings)
    assert resp["status_code"] == 200
    assert resp["route"] == route
    return resp
