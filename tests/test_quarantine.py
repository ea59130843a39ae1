"""Dead-letter (quarantine) ingest: corrupt slices must not kill the
job, must surface in a triage table, and must not shift z alignment."""

from __future__ import annotations

import numpy as np
import pytest

from aind_smartspim_data_transformation_spark.sources import stack_reader as sr
from tests.imaging_fixtures import CHANNELS, SLICES, make_dataset


def _corrupt_first_slice(root) -> str:
    """Truncate one real slice file into a decode failure; returns its
    stack id.  A valid PNG signature with a mangled body exercises the
    codec error path, not the extension filter."""
    ch_dir = root / "SmartSPIM" / CHANNELS[0]
    col = sorted(p for p in ch_dir.iterdir() if p.is_dir())[0]
    stack = sorted(p for p in col.iterdir() if p.is_dir())[0]
    target = stack / f"{SLICES[0]}.png"
    target.write_bytes(b"\x89PNG\r\n\x1a\n" + b"\x00" * 40)
    return stack.name


def test_fail_mode_propagates_codec_error(spark, tmp_path):
    make_dataset(tmp_path, height=16, width=20)
    _corrupt_first_slice(tmp_path)
    with pytest.raises(Exception, match="(?i)png|chunk|decode"):
        sr.read_stack_tree(spark, str(tmp_path / "SmartSPIM"), chunk_z=2).collect()


def test_quarantine_mode_isolates_and_zero_fills(spark, tmp_path):
    vols = make_dataset(tmp_path, height=16, width=20)
    bad_stack = _corrupt_first_slice(tmp_path)
    root = str(tmp_path / "SmartSPIM")

    tiles = sr.decode_slices_to_tiles(
        sr.scan_stack_files(spark, root), chunk_z=2, on_error="quarantine"
    ).persist()
    good, dead = sr.split_quarantine(tiles)

    # exactly one dead letter, naming the corrupt file with the cause
    dl = dead.collect()
    assert len(dl) == 1
    assert dl[0]["stack"] == bad_stack and dl[0]["z"] == 0
    assert f"{SLICES[0]}.png" in dl[0]["error"]

    # assembled chunks: corrupt plane zero-filled AT ITS POSITION,
    # every other voxel identical to the fixture volume
    chunks = sr.assemble_tiles(good, chunk_z=2).collect()
    seen_bad = 0
    for row in chunks:
        key = f"{row['channel']}/{row['stack']}"
        vol = vols[key]
        block = np.frombuffer(row["data"], dtype=np.dtype(row["dtype"])).reshape(
            row["dz"], row["dy"], row["dx"]
        )
        zlo = row["cz"] * 2
        ylo, xlo = row["cy"] * row["dy"], row["cx"] * row["dx"]
        expect = vol[
            zlo : zlo + row["dz"], ylo : ylo + row["dy"], xlo : xlo + row["dx"]
        ].copy()
        if row["channel"] == CHANNELS[0] and row["stack"] == bad_stack and zlo == 0:
            expect[0] = 0  # the quarantined plane
            seen_bad += 1
        assert np.array_equal(block, expect), (key, row["cz"], row["cy"], row["cx"])
    assert seen_bad > 0  # the corrupt stack's chunks were checked
    tiles.unpersist()


def test_quarantine_clean_tree_matches_fail_mode(spark, tmp_path):
    """On a healthy acquisition the two modes are bit-identical."""
    make_dataset(tmp_path, height=16, width=20)
    root = str(tmp_path / "SmartSPIM")
    a = sorted(
        (r["channel"], r["stack"], r["cz"], r["cy"], r["cx"], bytes(r["data"]))
        for r in sr.read_stack_tree(spark, root, chunk_z=2).collect()
    )
    b = sorted(
        (r["channel"], r["stack"], r["cz"], r["cy"], r["cx"], bytes(r["data"]))
        for r in sr.read_stack_tree(
            spark, root, chunk_z=2, on_error="quarantine"
        ).collect()
    )
    assert a == b


def test_quarantine_ingest_reaches_zarr_sink(spark, tmp_path):
    """End-to-end: a corrupt slice quarantined at ingest flows through
    chunk assembly into the OME-Zarr store as a ZERO plane at its true
    z index — the sink's alignment contract survives the dead letter."""
    import numpy as np

    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
        read_zarr_level,
        write_ome_zarr_all,
    )

    vols = make_dataset(tmp_path, height=16, width=20)
    bad_stack = _corrupt_first_slice(tmp_path)
    root = str(tmp_path / "SmartSPIM")

    chunks = sr.read_stack_tree(spark, root, chunk_z=2, on_error="quarantine")
    target = chunks.filter(
        (sr.F.col("channel") == CHANNELS[0]) & (sr.F.col("stack") == bad_stack)
    )
    out = str(tmp_path / "out")
    [group] = write_ome_zarr_all(
        [target],
        out,
        voxel_size_zyx=[2.0, 1.8, 1.8],
        scale_factor_zyx=[2, 2, 2],
        chunk_zyx=[2, 16, 20],
    )
    got = read_zarr_level(group, 0)
    expect = vols[f"{CHANNELS[0]}/{bad_stack}"].copy()
    expect[0] = 0  # the quarantined plane, zero-filled in place
    assert np.array_equal(got, expect)


# ---------------------------------------------------------------------------
# Fused-path quarantine (round 7): the zero-shuffle default ingest must
# survive a corrupt slice exactly like the UDF pipeline — zero plane at
# position, dead-letter triage row, store identical.
# ---------------------------------------------------------------------------
def _run_job(spark, root, out, ingest, on_error, chunk=(64, 64, 64)):
    from aind_smartspim_data_transformation_spark.config.settings import (
        ImagingJobSettings,
    )
    from aind_smartspim_data_transformation_spark.imaging.job import (
        run_imaging_job,
    )

    resp = run_imaging_job(
        spark,
        ImagingJobSettings(
            input_source=str(root),
            output_directory=str(out),
            chunk_size=list(chunk),
            downsample_levels=2,
            ingest=ingest,
            on_error=on_error,
        ),
    )
    assert resp["status_code"] == 200
    tree = {
        str(p.relative_to(out)): p.read_bytes()
        for p in sorted(out.rglob("*"))
        if p.is_file()
    }
    return tree, resp


def test_fused_quarantine_store_matches_udf_store(spark, tmp_path):
    """Corrupt slice (the FIRST of its stack — the probe must fall back
    to the next slice), ingest='fused' with quarantine: store is
    byte-identical to the UDF-quarantine store, and the dead-letter
    metric names the slice."""
    root = tmp_path / "ds"
    make_dataset(root, height=16, width=20)
    bad_stack = _corrupt_first_slice(root)

    fused, fused_resp = _run_job(
        spark, root, tmp_path / "out_fused", "fused", "quarantine"
    )
    udf, _ = _run_job(spark, root, tmp_path / "out_udf", "udf", "quarantine")
    assert fused == udf

    dead = fused_resp["metrics"]["dead_letters"]
    assert len(dead) == 1
    assert dead[0]["channel"] == CHANNELS[0]
    assert dead[0]["stack"] == bad_stack
    assert dead[0]["z"] == 0
    assert f"{SLICES[0]}.png" in dead[0]["error"]

    # the quarantined plane is ZERO at its position; neighbors intact
    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
        read_zarr_level,
    )

    group = str(
        tmp_path / "out_fused" / CHANNELS[0] / f"{bad_stack}.ome.zarr"
    )
    got = read_zarr_level(group, 0)
    assert not got[0].any()
    assert got[1].any()


def test_fused_fail_mode_propagates_codec_error(spark, tmp_path):
    root = tmp_path / "ds"
    make_dataset(root, height=16, width=20)
    _corrupt_first_slice(root)
    with pytest.raises(Exception, match="(?i)png|probe|decode"):
        _run_job(spark, root, tmp_path / "out", "fused", "fail")


def test_fused_geometry_mismatch_fails_loudly(spark, tmp_path):
    """A structurally-valid slice whose decoded geometry disagrees with
    the probed stack geometry must FAIL NAMING THE PATH (it used to be
    silently cropped into the band buffer), and must quarantine into a
    zero plane when asked."""
    from aind_smartspim_data_transformation_spark.sources.png_codec import (
        encode_png_gray,
    )

    root = tmp_path / "ds"
    make_dataset(root, height=16, width=20)
    ch_dir = root / "SmartSPIM" / CHANNELS[0]
    col = sorted(p for p in ch_dir.iterdir() if p.is_dir())[0]
    stack_dir = sorted(p for p in col.iterdir() if p.is_dir())[0]
    # SECOND slice: the probe reads the first, so the mismatch is a
    # data-plane discovery, not a probe-time one
    target = stack_dir / f"{SLICES[1]}.png"
    rogue = np.arange(8 * 20, dtype=np.uint16).reshape(8, 20)  # too short
    target.write_bytes(encode_png_gray(rogue))

    with pytest.raises(Exception, match="geometry mismatch"):
        _run_job(spark, root, tmp_path / "out_f", "fused", "fail")

    _, resp = _run_job(
        spark, root, tmp_path / "out_q", "fused", "quarantine"
    )
    dead = resp["metrics"]["dead_letters"]
    assert len(dead) == 1 and dead[0]["z"] == 1
    assert "geometry mismatch" in dead[0]["error"]
    assert f"{SLICES[1]}.png" in dead[0]["error"]

    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
        read_zarr_level,
    )

    group = str(
        tmp_path / "out_q" / CHANNELS[0] / f"{stack_dir.name}.ome.zarr"
    )
    got = read_zarr_level(group, 0)
    assert not got[1].any()
    assert got[0].any()


def test_datasource_quarantine_refused_at_settings(spark):
    from aind_smartspim_data_transformation_spark.config.settings import (
        ImagingJobSettings,
    )

    with pytest.raises(Exception, match="(?i)quarantine"):
        ImagingJobSettings(
            input_source="/x",
            output_directory="/y",
            ingest="datasource",
            on_error="quarantine",
        )


def test_trailing_corrupt_slice_same_store_both_paths(spark, tmp_path):
    """A corrupt LAST slice used to shorten the UDF path's slab while
    the fused path zero-filled it at position (extents from the
    listing) — path-dependent store shapes under ingest='auto'.  Both
    paths must now produce the listing-extent store with a zero plane
    at the end, byte-identical."""
    root = tmp_path / "ds"
    vols = make_dataset(root, height=16, width=20)
    ch_dir = root / "SmartSPIM" / CHANNELS[0]
    col = sorted(p for p in ch_dir.iterdir() if p.is_dir())[0]
    stack_dir = sorted(p for p in col.iterdir() if p.is_dir())[0]
    # corrupt the LAST slice
    (stack_dir / f"{SLICES[-1]}.png").write_bytes(
        b"\x89PNG\r\n\x1a\n" + b"\x00" * 40
    )

    fused, fused_resp = _run_job(
        spark, root, tmp_path / "out_fused", "fused", "quarantine"
    )
    udf, _ = _run_job(spark, root, tmp_path / "out_udf", "udf", "quarantine")
    assert fused == udf

    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
        read_zarr_level,
    )

    group = str(
        tmp_path / "out_fused" / CHANNELS[0] / f"{stack_dir.name}.ome.zarr"
    )
    got = read_zarr_level(group, 0)
    assert got.shape[0] == len(SLICES)  # listing extent, not shortened
    assert not got[-1].any()  # trailing zero plane at position
    expect = vols[f"{CHANNELS[0]}/{stack_dir.name}"].copy()
    expect[-1] = 0
    np.testing.assert_array_equal(got, expect)
    assert fused_resp["metrics"]["dead_letters"][0]["z"] == len(SLICES) - 1


def test_partially_corrupt_slice_zeroes_whole_plane(spark, tmp_path):
    """A slice corrupt only in its BOTTOM strips: bands above the
    damage decode cleanly, so a window-local quarantine would write a
    mixed real/zero plane while the UDF path zeroes it all.  Fused
    quarantine decodes the full slice (strict validation), so the
    whole plane zeroes in BOTH paths — stores identical."""
    from aind_smartspim_data_transformation_spark.sources.tiff_codec import (
        encode_tiff_gray,
        _read_ifd,
    )

    root = tmp_path / "ds"
    vols = make_dataset(root, height=16, width=20, fmt="tif")
    ch_dir = root / "SmartSPIM" / CHANNELS[0]
    col = sorted(p for p in ch_dir.iterdir() if p.is_dir())[0]
    stack_dir = sorted(p for p in col.iterdir() if p.is_dir())[0]
    target = stack_dir / f"{SLICES[0]}.tif"
    plane = vols[f"{CHANNELS[0]}/{stack_dir.name}"][0]
    # multi-strip deflate layout, then corrupt ONLY the LAST strip
    enc = bytearray(encode_tiff_gray(plane, compression=8, rows_per_strip=4))
    tags, _ = _read_ifd(bytes(enc))
    off, cnt = tags[273][-1], tags[279][-1]
    enc[off : off + cnt] = b"\xff" * cnt
    target.write_bytes(bytes(enc))

    # chunk_y=8 → two y-bands; the top band's window never touches the
    # corrupt bottom strip
    fused, fused_resp = _run_job(
        spark, root, tmp_path / "out_f", "fused", "quarantine",
        chunk=(64, 8, 64),
    )
    udf, _ = _run_job(
        spark, root, tmp_path / "out_u", "udf", "quarantine",
        chunk=(64, 8, 64),
    )
    assert fused == udf
    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
        read_zarr_level,
    )

    group = str(
        tmp_path / "out_f" / CHANNELS[0] / f"{stack_dir.name}.ome.zarr"
    )
    got = read_zarr_level(group, 0)
    assert not got[0].any()  # the WHOLE plane, not just the bottom band
    assert got[1].any()


def test_fused_taller_slice_fails_loudly_in_fail_mode(spark, tmp_path):
    """A slice TALLER than the probe decodes cleanly inside every band
    window, so the per-window shape check cannot see it — the header
    gate must catch it (previously its bottom rows were silently
    dropped)."""
    from aind_smartspim_data_transformation_spark.sources.png_codec import (
        encode_png_gray,
    )

    root = tmp_path / "ds"
    make_dataset(root, height=16, width=20)
    ch_dir = root / "SmartSPIM" / CHANNELS[0]
    col = sorted(p for p in ch_dir.iterdir() if p.is_dir())[0]
    stack_dir = sorted(p for p in col.iterdir() if p.is_dir())[0]
    tall = np.arange(24 * 20, dtype=np.uint16).reshape(24, 20)  # taller
    (stack_dir / f"{SLICES[1]}.png").write_bytes(encode_png_gray(tall))

    with pytest.raises(Exception, match="geometry mismatch"):
        _run_job(spark, root, tmp_path / "out", "fused", "fail")


def test_fused_failed_job_leaves_no_parsing_store(spark, tmp_path):
    """Metadata-last for the DEFAULT ingest (r7): a fused job that dies
    mid-decode must leave NO .zattrs/.zarray anywhere — previously the
    metadata was written BEFORE the band tasks, so a killed job left a
    complete-parsing store whose missing chunks silently read as
    zeros.  After fixing the input, a rerun converges to the clean
    store."""
    root = tmp_path / "ds"
    vols = make_dataset(root, height=16, width=20)
    bad_stack = _corrupt_first_slice(root)
    out = tmp_path / "out"
    with pytest.raises(Exception):
        _run_job(spark, root, out, "fused", "fail")
    leftovers = [
        p for p in out.rglob("*")
        if p.name in (".zattrs", ".zarray", ".zgroup")
    ] if out.exists() else []
    assert leftovers == [], leftovers

    # repair the slice and rerun: byte-identical to a fresh build
    ch_dir = root / "SmartSPIM" / CHANNELS[0]
    col = sorted(p for p in ch_dir.iterdir() if p.is_dir())[0]
    stack_dir = sorted(p for p in col.iterdir() if p.is_dir())[0]
    from aind_smartspim_data_transformation_spark.sources.png_codec import (
        encode_png_gray,
    )

    (stack_dir / f"{SLICES[0]}.png").write_bytes(
        encode_png_gray(vols[f"{CHANNELS[0]}/{bad_stack}"][0])
    )
    rerun, _ = _run_job(spark, root, out, "fused", "fail")
    fresh, _ = _run_job(spark, root, tmp_path / "out_fresh", "fused", "fail")
    assert rerun == fresh
