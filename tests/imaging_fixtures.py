"""Generate a SmartSPIM-layout dataset with our own PNG encoder.

Mirrors the reference fixture layout (FIXTURES.md §1): 2 channels ×
2 cols × 2 stacks-per-col, 2 slices each — but with deterministic
synthetic pixels (seed 42) and configurable slice size so tests stay
fast.  acquisition.json carries the golden scale [1.8, 1.8, 2.0] (XYZ).

Also the helpers the imaging tests share: a one-stack tree from a
volume, the fused ingest at the fixture's voxel size, the imaging job
with its store's bytes, the numpy ``windowed_mean`` oracle over a
written store, and a byte snapshot of a store.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pytest

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


def make_stack(root: Path, vol: np.ndarray, encode=None) -> tuple[str, str]:
    """One-stack SmartSPIM tree of ``vol``'s slices under ``root``, with
    the acquisition.json and derivatives folder the job reads.  Slice z
    is written as ``<z>.png`` with ``encode(z, plane)`` bytes (PNG by
    default; content sniffing, not the extension, picks the codec).
    Returns the stack's (channel, stack)."""
    ch, col, stack = CHANNELS[0], COLS[0], f"{COLS[0]}_{ROWS[0]}"
    d = root / "SmartSPIM" / ch / col / stack
    d.mkdir(parents=True)
    for z, plane in enumerate(vol):
        data = encode(z, plane) if encode else encode_png_gray(plane)
        (d / f"{z:06d}.png").write_bytes(data)
    (root / "derivatives").mkdir(exist_ok=True)
    (root / "acquisition.json").write_text(
        json.dumps(
            {
                "tiles": [
                    {
                        "channel": {"channel_name": "445"},
                        "coordinate_transformations": [
                            {"type": "scale", "scale": [1.8, 1.8, 2.0]}
                        ],
                        "file_name": f"{ch}/{col}/{stack}/",
                    }
                ]
            }
        )
    )
    return ch, stack


def ingest(spark, src: Path, out: Path, chunk, n_levels: int, factors=(2, 2, 2), **kw):
    """The fused ingest of the tree at ``src`` (its ``SmartSPIM``
    folder) into ``out`` at the fixture's voxel size; ``kw`` goes to
    ``run_fused_ingest``.  Returns (stack groups, metrics)."""
    from aind_smartspim_data_transformation_spark.imaging.fused import (
        run_fused_ingest,
    )

    return run_fused_ingest(
        spark,
        str(src / "SmartSPIM"),
        str(out),
        voxel_size_zyx=[2.0, 1.8, 1.8],
        scale_factor_zyx=list(factors),
        chunk_zyx=list(chunk),
        n_levels=n_levels,
        **kw,
    )


def job_store(spark, root: Path, out: Path, chunk, n_levels: int, on_error="fail"):
    """Run the imaging job on the tree at ``root`` into ``out``;
    returns (the store's bytes, the job response)."""
    from aind_smartspim_data_transformation_spark.config.settings import (
        ImagingJobSettings,
    )
    from aind_smartspim_data_transformation_spark.imaging.job import run_imaging_job

    resp = run_imaging_job(
        spark,
        ImagingJobSettings(
            input_source=str(root),
            output_directory=str(out),
            chunk_size=list(chunk),
            downsample_levels=n_levels,
            on_error=on_error,
        ),
    )
    assert resp["status_code"] == 200
    return tree_bytes(out), resp


def assert_pyramid(group: str, vol: np.ndarray, n_levels: int, factors=(2, 2, 2)):
    """The numpy oracle: level L of the store at ``group`` equals the
    L-fold ``windowed_mean`` of ``vol``, at every one of ``n_levels``
    levels, and the store has no further level."""
    from aind_smartspim_data_transformation_spark.imaging.pyramid import windowed_mean
    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
        _fs_for,
        read_zarr_level,
    )

    fs, gpath = _fs_for(group)
    with fs.open_input_stream(f"{gpath}/.zattrs") as f:
        datasets = json.loads(f.read().decode())["multiscales"][0]["datasets"]
    assert len(datasets) == n_levels, (group, len(datasets))
    expect = vol
    for lvl in range(n_levels):
        np.testing.assert_array_equal(
            read_zarr_level(group, lvl), expect, err_msg=f"{group} level {lvl}"
        )
        expect = windowed_mean(expect, factors)


def tree_bytes(out: Path) -> dict[str, bytes]:
    """Every file under ``out`` by relative path: a byte-level store
    snapshot for identity checks."""
    return {
        str(p.relative_to(out)): p.read_bytes()
        for p in sorted(out.rglob("*"))
        if p.is_file()
    }


def crash_before_finalize(monkeypatch, run):
    """Run a fused job whose metadata-last finalize raises on the
    driver: every band task has written its chunks and marker, and no
    store metadata exists.  ``run_fused_ingest`` resolves
    ``zarr_sink._write_all_metadata`` at call time, so the patch is
    visible to it; the context restores the real finalize afterwards."""
    from aind_smartspim_data_transformation_spark.imaging import zarr_sink

    def crash(*_a, **_k):
        raise RuntimeError("simulated crash before the metadata finalize")

    with monkeypatch.context() as m:
        m.setattr(zarr_sink, "_write_all_metadata", crash)
        with pytest.raises(RuntimeError, match="simulated crash"):
            run()
