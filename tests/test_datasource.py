"""The chunk-table sink's geometry sweep: per-level chunk tables written
by ``write_ome_zarr_all`` read back as the numpy windowed-mean
pyramid."""

from __future__ import annotations

import numpy as np
import pytest


# ---------------------------------------------------------------------------
# Batch store from per-level chunk tables (write_ome_zarr_all)
# ---------------------------------------------------------------------------

def _level_tables(spark, channel, stack, vol, chunk, levels):
    """Cut a numpy volume's windowed-mean pyramid into per-level chunk
    tables (CHUNK_SCHEMA), each level chunked by the halved chunk."""
    from aind_smartspim_data_transformation_spark.imaging.pyramid import (
        windowed_mean,
    )
    from aind_smartspim_data_transformation_spark.sources.stack_reader import (
        CHUNK_SCHEMA,
    )

    tables = []
    arr = vol
    for _ in range(levels):
        cz, cy, cx = chunk
        rows = []
        for iz in range(-(-arr.shape[0] // cz)):
            for iy in range(-(-arr.shape[1] // cy)):
                for ix in range(-(-arr.shape[2] // cx)):
                    blk = arr[
                        iz * cz : (iz + 1) * cz,
                        iy * cy : (iy + 1) * cy,
                        ix * cx : (ix + 1) * cx,
                    ]
                    rows.append(
                        (
                            channel, stack, 0, 0, iz, iy, ix,
                            blk.shape[0], blk.shape[1], blk.shape[2],
                            str(blk.dtype),
                            bytes(np.ascontiguousarray(blk).tobytes()),
                        )
                    )
        tables.append(spark.createDataFrame(rows, CHUNK_SCHEMA))
        chunk = [-(-d // f) for d, f in zip(chunk, (2, 2, 2))]
        arr = windowed_mean(arr, (2, 2, 2))
    return tables


@pytest.mark.parametrize(
    "shape,chunk,levels",
    [
        ((5, 7, 9), [4, 4, 4], 2),    # edge chunks on every axis
        ((8, 4, 12), [2, 4, 4], 3),   # non-cubic chunk, 3 levels
        ((1, 1, 1), [4, 4, 4], 1),    # degenerate single voxel
        ((6, 10, 3), [2, 2, 2], 2),   # sub-chunk x extent
        ((9, 9, 9), [3, 3, 3], 2),    # factor-3-incompatible? no: 3%2!=0
    ],
)
def test_writer_geometry_sweep_array_identity(spark, tmp_path, shape, chunk, levels):
    """Random-geometry sweep: whatever the extents/chunking, the
    chunk-table sink's store must read back array-identical to the
    numpy windowed-mean pyramid at every level."""
    from aind_smartspim_data_transformation_spark.imaging.pyramid import (
        validate_pyramid_geometry,
        windowed_mean,
    )
    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
        read_zarr_level,
        write_ome_zarr_all,
    )

    try:
        validate_pyramid_geometry(chunk, [2, 2, 2], levels)
    except ValueError:
        pytest.skip("geometry rejected by the shared guard (by design)")
    rng = np.random.default_rng(sum(shape))
    vol = rng.integers(0, 65535, size=shape).astype(np.uint16)
    tables = _level_tables(spark, "Ex_488_Em_525", "stk", vol, list(chunk), levels)
    [g] = write_ome_zarr_all(
        tables, str(tmp_path / "store"), [1.0, 1.0, 1.0], [2, 2, 2], list(chunk)
    )
    expect = vol
    for lvl in range(levels):
        assert np.array_equal(read_zarr_level(g, lvl), expect), (shape, chunk, lvl)
        expect = windowed_mean(expect, (2, 2, 2))
