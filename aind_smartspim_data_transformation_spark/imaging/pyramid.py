"""Multiresolution pyramid by windowed-mean downsampling.

The reference's flagship aggregation (SURVEY.md §2.4 A1): level i+1 =
non-overlapping f-windowed mean of level i, dtype preserved
(`compress/png_to_zarr.py:350-394` via xarray_multiscale, factors
[2,2,2], edge windows truncated → output shape ceil(shape/f)).

:func:`windowed_mean` is the one kernel: the slab writer
(imaging/fused.py::write_slab, which both the fused band tasks and the
streaming writer call) applies it chunk by chunk, and the tests use it
as the numpy oracle.  Per-chunk means equal the global mean whenever every
non-edge chunk dim is divisible by f (the 128-chunk / factor-2
default guarantees it; :func:`validate_pyramid_geometry` rejects
configurations that break it — per-chunk windows would otherwise
truncate at interior chunk boundaries and silently diverge from the
global windowed mean).

:func:`downsample_chunks` is the same step over a chunk table
(``CHUNK_SCHEMA``): a ``mapInPandas`` map with no shuffle, which the
i03 pyramid-level query runs.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from typing import TYPE_CHECKING

import numpy as np

if TYPE_CHECKING:
    import pandas as pd
    from pyspark.sql import DataFrame


def validate_pyramid_geometry(
    chunk_zyx: Sequence[int],
    scale_factor_zyx: Sequence[int],
    n_levels: int,
) -> None:
    """Reject chunk/factor combinations the per-chunk kernel cannot
    compute exactly.

    The pyramid reduces each chunk independently, so the
    truncated "edge" windows of :func:`windowed_mean` must only ever
    occur at the array's true upper edge.  That holds iff every
    *retained* level's chunk dims are divisible by the factor — i.e.
    ``chunk % f**(n_levels-1) == 0`` per axis.  The reference's global
    dask reduction (`compress/png_to_zarr.py:350-394`) has no such
    constraint, so we must refuse loudly rather than silently diverge
    (and the sink's global-ceil ``.zarray`` ladder would also disagree
    with the sum of per-chunk dims → corrupt levels).
    """
    if n_levels < 1:
        raise ValueError(f"n_levels must be >= 1, got {n_levels}")
    for axis, (c, f) in enumerate(zip(chunk_zyx, scale_factor_zyx)):
        if c < 1 or f < 1:
            raise ValueError(
                f"chunk dims and scale factors must be >= 1; axis {'zyx'[axis]} "
                f"has chunk={c}, factor={f}"
            )
        need = f ** (n_levels - 1)
        if c % need != 0:
            raise ValueError(
                f"pyramid geometry invalid on axis {'zyx'[axis]}: chunk dim {c} "
                f"is not divisible by factor {f} across {n_levels} levels "
                f"(requires chunk % {need} == 0).  Per-chunk windowed means "
                f"would truncate at interior chunk boundaries and diverge "
                f"from the global windowed mean; choose a chunk size "
                f"divisible by factor**(n_levels-1) or fewer levels."
            )


def windowed_mean(arr: np.ndarray, factors: tuple[int, ...]) -> np.ndarray:
    """Non-overlapping windowed mean; edge windows truncated (ceil
    semantics); result cast back to the input dtype (trunc toward 0).

    This is also the numpy oracle the tests compare every store
    against.
    """
    out_shape = tuple(-(-s // f) for s, f in zip(arr.shape, factors))
    acc = np.zeros(out_shape, dtype=np.float64)
    cnt = np.zeros(out_shape, dtype=np.int64)
    # accumulate each intra-window offset (f^ndim slices, vectorized)
    for offset in np.ndindex(*factors):
        sl = tuple(slice(o, None, f) for o, f in zip(offset, factors))
        piece = arr[sl].astype(np.float64)
        region = tuple(slice(0, s) for s in piece.shape)
        acc[region] += piece
        cnt[region] += 1
    return (acc / cnt).astype(arr.dtype)


def downsample_chunks(chunks: DataFrame, factors: tuple[int, int, int]) -> DataFrame:
    """One pyramid step over the chunk table — mapInPandas, no shuffle.
    pandas and the chunk schema are imported here, not at module level:
    the band tasks import this module for :func:`windowed_mean` only."""
    import pandas as pd

    from aind_smartspim_data_transformation_spark.sources.stack_reader import (
        CHUNK_SCHEMA,
    )

    fz, fy, fx = factors

    def _reduce(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = np.frombuffer(r.data, dtype=np.dtype(r.dtype)).reshape(
                    r.dz, r.dy, r.dx
                )
                red = windowed_mean(arr, (fz, fy, fx))
                rows.append(
                    (
                        r.channel,
                        r.stack,
                        r.t,
                        r.c,
                        r.cz,
                        r.cy,
                        r.cx,
                        red.shape[0],
                        red.shape[1],
                        red.shape[2],
                        r.dtype,
                        red.tobytes(),
                    )
                )
            yield pd.DataFrame(rows, columns=[c.split()[0] for c in CHUNK_SCHEMA.split(", ")])

    return chunks.mapInPandas(_reduce, schema=CHUNK_SCHEMA)
