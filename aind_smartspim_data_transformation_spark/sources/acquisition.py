"""acquisition.json metadata source (SURVEY.md §2.1 S5/S6, §2.2 P2).

The reference reads the file into an untyped dict and picks
``tiles[0].coordinate_transformations[type=="scale"].scale``
(`smartspim_job.py:65-90`); here the same extraction runs on the
driver with ``json``.  The file is a few KB of job metadata, so a
Spark JSON read would only add two jobs before the ingest starts.

Golden (reference fixture): scale [1.8, 1.8, 2.0] (XYZ) → voxel
resolution [2.0, 1.8, 1.8] (ZYX).
"""

from __future__ import annotations

import json
import os


def get_voxel_resolution(path: str) -> list[float]:
    """ZYX voxel size from the first tile's scale transform."""
    if not os.path.isfile(path):
        # same contract as the reference (`smartspim_job.py:69-72`)
        raise FileNotFoundError(f"acquisition.json file not found at: {path}")
    with open(path) as f:
        tile = json.load(f)["tiles"][0]
    scale = next(
        ct["scale"]
        for ct in tile["coordinate_transformations"]
        if ct.get("type") == "scale"
    )
    x, y, z = (float(v) for v in scale[:3])
    return [z, y, x]
