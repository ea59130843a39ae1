"""Imaging-semantics queries vs the DuckDB oracle, and cross-check of
the relational windowed mean against the numpy kernel."""

from __future__ import annotations

import numpy as np
import pytest

from aind_smartspim_data_transformation_spark.imaging.pyramid import windowed_mean
from aind_smartspim_data_transformation_spark.plans import imaging_queries as iq
from tests.oracle import compare


@pytest.mark.parametrize("name", sorted(iq.ORACLE))
def test_imaging_queries_vs_oracle(spark, sf_dir, name):
    compare(iq.QUERIES[name](spark, sf_dir), iq.ORACLE[name], sf_dir, name)


def test_grid_query_matches_numpy_kernel(spark, sf_dir):
    """The relational expression and the mapInPandas kernel agree."""
    n = iq.GRID
    z, y, x = np.meshgrid(np.arange(n), np.arange(n), np.arange(n), indexing="ij")
    vol = ((z * 131 + y * 17 + x * 7) % 4096).astype(np.uint16)
    expect = windowed_mean(vol, (2, 2, 2))
    rows = iq.i01_windowed_mean_grid(spark, sf_dir).collect()
    got = np.zeros_like(expect)
    for r in rows:
        got[r["zz"], r["yy"], r["xx"]] = r["mean_v"]
    assert np.array_equal(got, expect)


# ---------------------------------------------------------------------------
# F3-F6 metadata goldens (COVERAGE.md §2.8) — reference semantics:
# cumulative scale ladder, dtype-theoretic display
# window, defaultZ = Z//2.
# ---------------------------------------------------------------------------
def test_scale_ladder_golden():
    from aind_smartspim_data_transformation_spark.functions.imaging_meta import (
        compute_scale_ladder,
    )

    transforms = compute_scale_ladder(
        voxel_zyx=[2.0, 1.8, 1.8],
        scale_factor_zyx=[2, 2, 2],
        n_levels=3,
    )
    assert transforms[0][0]["scale"] == [1.0, 1.0, 2.0, 1.8, 1.8]
    assert transforms[2][0]["scale"] == [1.0, 1.0, 8.0, 7.2, 7.2]


def test_omero_metadata_golden():
    import numpy as np

    from aind_smartspim_data_transformation_spark.functions.imaging_meta import (
        axes_5d,
        build_omero,
        pyramid_provenance,
    )

    omero = build_omero("Ex_445_Em_469", (1, 1, 64, 1600, 2000), np.dtype("uint16"))
    ch = omero["channels"][0]
    assert ch["color"] == "3f2efe"  # 469 nm → band (470, 0x3F2EFE)
    assert ch["window"] == {"min": 0.0, "max": 65535.0, "start": 0.0, "end": 350.0}
    assert omero["rdefs"]["defaultZ"] == 32
    assert [a["name"] for a in axes_5d()] == ["t", "c", "z", "y", "x"]
    # Flat reference shape (compress/png_to_zarr.py:332-347): the keys sit
    # directly at multiscales[0]["metadata"] level — no nested "name" dict.
    prov = pyramid_provenance()
    assert set(prov) == {"description", "method", "version", "args", "kwargs"}
    assert prov["method"].endswith("windowed_mean")
    assert prov["args"] is None
    assert prov["kwargs"] == {"preserve_dtype": True}


def test_approx_count_distinct_tracks_exact(spark, sf_dir):
    """HLL sketch within its rsd of the exact distinct count (A4)."""
    import pyspark.sql.functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    row = li.agg(
        F.countDistinct("l_orderkey").alias("exact"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) <= 0.06 * row["exact"]


def test_i03_pyramid_level_numpy_golden(spark, sf_dir):
    """One i03 output chunk equals the numpy windowed mean of its
    regenerated source chunk."""
    import numpy as np

    from aind_smartspim_data_transformation_spark.imaging.pyramid import windowed_mean
    from aind_smartspim_data_transformation_spark.plans.imaging_queries import (
        CHUNK,
        i03_pyramid_level,
    )

    rows = {(r["cz"], r["cy"], r["cx"]): r for r in i03_pyramid_level(spark, sf_dir).collect()}
    assert len(rows) == 4**3
    cz, cy, cx = 1, 2, 3
    gz = (cz * CHUNK + np.arange(CHUNK, dtype=np.int64))[:, None, None]
    gy = (cy * CHUNK + np.arange(CHUNK, dtype=np.int64))[None, :, None]
    gx = (cx * CHUNK + np.arange(CHUNK, dtype=np.int64))[None, None, :]
    src = ((gz * 131 + gy * 17 + gx * 7) % 4096).astype(np.uint16)
    expect = windowed_mean(src, (2, 2, 2))
    got = rows[(cz, cy, cx)]
    assert got["sum_v"] == int(expect.sum())
    assert abs(got["mean_v"] - float(expect.mean())) < 1e-9


def test_i04_matches_compute_scale_ladder(spark, sf_dir):
    """The i04 closed-form scale ladder equals the NGFF transforms the
    zarr sink writes (functions/imaging_meta.compute_scale_ladder).
    i04's cz/cy/cx columns are the reference's per-level clamped chunk
    layout, not the sink's (imaging/zarr_sink.plan_store_layout); the
    DuckDB oracle pins them."""
    from aind_smartspim_data_transformation_spark.functions.imaging_meta import (
        compute_scale_ladder,
    )

    transforms = compute_scale_ladder(
        voxel_zyx=list(iq.LADDER_VOX),
        scale_factor_zyx=[2, 2, 2],
        n_levels=iq.LADDER_LEVELS,
    )
    rows = iq.i04_scale_ladder(spark, sf_dir).collect()
    assert len(rows) == iq.LADDER_LEVELS
    for r in rows:
        assert transforms[r["lvl"]][0]["scale"] == [
            1.0, 1.0, r["scale_z"], r["scale_y"], r["scale_x"],
        ]


def test_i05_matches_production_band_plan(spark, sf_dir, monkeypatch):
    """i05's declarative band-plan/marker-key arithmetic must be the
    PRODUCTION bookkeeping, not merely self-consistent: replay the
    same synthetic geometry through imaging/fused.py's _band_plan and
    run_fused_ingest's (stack, slab, band) key enumeration + marker
    merge, and require row-identical numbers."""
    from aind_smartspim_data_transformation_spark.imaging import fused

    P, cz, cy = iq.I05_PARALLELISM, 4, 4
    geo = [
        {
            "channel": "C",
            "stack": f"s{i}",
            "z": 7 + 3 * i,
            "y": 16 + 5 * i,
            "x": iq.I05_X,
            "dtype": "uint16",
        }
        for i in range(iq.I05_STACKS)
    ]
    uncapped = fused._band_plan(geo, [cz, cy, 4], P)
    with monkeypatch.context() as mp:
        mp.setattr(fused, "FUSED_MAX_TASK_BYTES", iq.I05_TASK_BYTES_CAP)
        plan = fused._band_plan(geo, [cz, cy, 4], P)
    # the replayed cap literal must BIND for some synthetic stacks and
    # leave others on the want-derived band height, or the i05 parity
    # proves nothing about the capped branch
    per_bands = [plan[(g["channel"], g["stack"])][1] for g in geo]
    assert per_bands != [
        uncapped[(g["channel"], g["stack"])][1] for g in geo
    ], "i05 cap literal no longer binds — resize I05_TASK_BYTES_CAP"
    got = {r["stack_id"]: r for r in iq.i05_resume_bookkeeping(spark, sf_dir).collect()}
    assert len(got) == iq.I05_STACKS
    for i, g in enumerate(geo):
        nb, per_band, n_xt, _ = plan[(g["channel"], g["stack"])]
        assert n_xt == 1  # marker keys are (slab, band) at this geometry
        n_slabs = -(-g["z"] // cz)
        # the all_keys enumeration + the deterministic "survived" rule
        keys = [(slab, band) for slab in range(n_slabs) for band in range(nb)]
        done = [(s, b) for (s, b) in keys if (s * 7 + b * 3) % 5 == 0]
        r = got[i]
        assert r["n_slabs"] == n_slabs
        assert r["n_bands"] == nb
        assert r["per_band"] == per_band
        assert r["n_keys"] == len(keys)
        assert r["n_done"] == len(done)
        assert r["n_remaining"] == len(keys) - len(done)
        assert r["done_chunks"] == sum((s + 1) * (b + 2) for s, b in done)
        assert r["done_bytes"] == sum(1000 + s * 17 + b * 13 for s, b in done)
