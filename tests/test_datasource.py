"""The fused ingest's geometry sweep: a PNG stack tree of any extents
and chunking reads back as the numpy windowed-mean pyramid."""

from __future__ import annotations

import numpy as np
import pytest

from tests.imaging_fixtures import assert_pyramid, ingest, make_stack


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
    """Random-geometry sweep: whatever the extents/chunking, the store
    the band tasks write must read back array-identical to the numpy
    windowed-mean pyramid at every level."""
    from aind_smartspim_data_transformation_spark.imaging.pyramid import (
        validate_pyramid_geometry,
    )

    try:
        validate_pyramid_geometry(chunk, [2, 2, 2], levels)
    except ValueError:
        pytest.skip("geometry rejected by the shared guard (by design)")
    rng = np.random.default_rng(sum(shape))
    vol = rng.integers(0, 65535, size=shape).astype(np.uint16)
    make_stack(tmp_path / "src", vol)
    [g], _ = ingest(spark, tmp_path / "src", tmp_path / "store", chunk, levels)
    assert_pyramid(g, vol, levels)
