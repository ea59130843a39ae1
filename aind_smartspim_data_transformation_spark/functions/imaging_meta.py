"""Imaging metadata scalar functions (SURVEY.md §2.8 F1-F6).

Each function exists in two forms where useful: plain Python (driver-
side metadata assembly — these dicts are tiny) and a Spark Column
expression (when the value participates in a distributed plan).

Behavioral parity targets (from the reference, re-expressed):
- F2 wavelength→hex: exclusive-upper-bound lookup over a CIE-arc
  sampled band map (`compress/png_to_zarr.py:397-436`); goldens
  469→0x3F2EFE, 600→0xF0121E.
- F1 channel-name parsing (`compress/png_to_zarr.py:588-589`):
  "Ex_445_Em_469[.zarr]" → emission wavelength 469.
- F4 coordinate-transform ladder (`compress/png_to_zarr.py:107-203`):
  level-i scale = voxel · factor^i (cumulative).  Level extents
  (ceil(prev/f)) and chunk dims are the store planner's
  (imaging/zarr_sink.plan_store_layout), which clamps only level 0's
  chunk; the reference clamps chunks = min(shape, chunk) per level.
- F3 OMERO channel metadata (`compress/png_to_zarr.py:36-104`):
  dtype-theoretic min/max (deliberately NOT a data scan — the
  reference rejected a percentile scan for cost, `607-627`), fixed
  display window (0.0, 350.0), defaultZ = Z//2.
- F5 fixed 5-axis t/c/z/y/x metadata (`compress/png_to_zarr.py:206-227`).
"""

from __future__ import annotations

from typing import Any

import numpy as np

from pyspark.sql import Column
from pyspark.sql import functions as F

# Upper-bound → color bands sampled along a CIE diagram arc (380-750nm).
WAVELENGTH_BANDS: tuple[tuple[int, int], ...] = (
    (460, 0x690AFE),
    (470, 0x3F2EFE),
    (480, 0x4B90FE),
    (490, 0x59D5F8),
    (500, 0x5DF8D6),
    (520, 0x5AFEB8),
    (540, 0x58FEA1),
    (560, 0x51FF1E),
    (565, 0xBBFB01),
    (575, 0xE9EC02),
    (580, 0xF5C503),
    (590, 0xF39107),
    (600, 0xF15211),
    (620, 0xF0121E),
    (750, 0xF00050),
)


def wavelength_to_hex(wavelength: int) -> int:
    """First band whose (exclusive) upper bound exceeds the wavelength;
    wavelengths past the last bound fall through to the last color."""
    for upper, color in WAVELENGTH_BANDS:
        if wavelength < upper:
            return color
    return WAVELENGTH_BANDS[-1][1]


def wavelength_to_hex_col(wavelength: Column) -> Column:
    """Column form of the same lookup (a when-chain → codegen'd)."""
    expr = None
    for upper, color in WAVELENGTH_BANDS:
        cond = wavelength < upper
        expr = F.when(cond, color) if expr is None else expr.when(cond, color)
    return expr.otherwise(WAVELENGTH_BANDS[-1][1])


def parse_emission_wavelength(channel_name: str) -> int:
    """'Ex_445_Em_469[.zarr]' → 469."""
    return int(channel_name.replace(".zarr", "").split("_")[-1])


def axes_5d() -> list[dict[str, Any]]:
    """Fixed NGFF axes metadata: t/c/z/y/x with units."""
    return [
        {"name": "t", "type": "time", "unit": "millisecond"},
        {"name": "c", "type": "channel"},
        {"name": "z", "type": "space", "unit": "micrometer"},
        {"name": "y", "type": "space", "unit": "micrometer"},
        {"name": "x", "type": "space", "unit": "micrometer"},
    ]


def compute_scale_ladder(
    voxel_zyx: list[float],
    scale_factor_zyx: list[int],
    n_levels: int,
) -> list[list[dict[str, Any]]]:
    """Per-level NGFF coordinateTransformations: level i voxel scale =
    base · factor^i.  Extents and chunk dims are the store planner's
    (imaging/zarr_sink.plan_store_layout)."""
    return [
        [
            {
                "type": "scale",
                "scale": [
                    1.0,
                    1.0,
                    *(v * f**lvl for v, f in zip(voxel_zyx, scale_factor_zyx)),
                ],
            }
        ]
        for lvl in range(n_levels)
    ]


def dtype_display_range(dtype: np.dtype) -> tuple[float, float]:
    """Theoretic min/max from the dtype — a constant fold, not a scan."""
    dt = np.dtype(dtype)
    if np.issubdtype(dt, np.integer):
        info = np.iinfo(dt)
    else:
        info = np.finfo(dt)
    return float(info.min), float(info.max)


DISPLAY_WINDOW = (0.0, 350.0)


def build_omero(
    channel_name: str,
    shape_5d: tuple[int, ...],
    dtype: np.dtype,
    image_name: str | None = None,
) -> dict[str, Any]:
    """OMERO rendering metadata for one channel.

    Matches the reference checkpoint format (`compress/png_to_zarr.py:36-104`
    called with ``image_name=f"{stack_name}.ome.zarr"`` and
    ``channel_names=[channel_name]``, `smartspim_job.py:164` +
    `png_to_zarr.py:596,630-645`): ``name`` is the stack image name and
    the channel ``label`` is the bare channel name.
    """
    em = parse_emission_wavelength(channel_name)
    lo, hi = dtype_display_range(dtype)
    return {
        "id": 1,
        "name": image_name if image_name is not None else channel_name,
        "version": "0.4",
        "channels": [
            {
                "active": True,
                "coefficient": 1,
                "color": f"{wavelength_to_hex(em):06x}",
                "family": "linear",
                "inverted": False,
                "label": channel_name,
                "window": {
                    "min": lo,
                    "max": hi,
                    "start": DISPLAY_WINDOW[0],
                    "end": DISPLAY_WINDOW[1],
                },
            }
        ],
        "rdefs": {
            "defaultT": 0,
            "defaultZ": shape_5d[2] // 2,
            "model": "color",
        },
    }


def pyramid_provenance() -> dict[str, Any]:
    """Records how the pyramid was computed (method + implementation).

    Flat dict, the reference's `_get_pyramid_metadata` shape
    (`compress/png_to_zarr.py:332-347`): this is the value of
    ``multiscales[0]["metadata"]``, so the keys live at that level —
    no extra nesting.
    """
    return {
        "description": "Downscaling using the windowed mean",
        "method": "aind_smartspim_data_transformation_spark.imaging.pyramid.windowed_mean",
        "version": "0.1.0",
        "args": None,
        "kwargs": {"preserve_dtype": True},
    }
