"""Dead-letter (quarantine) ingest: corrupt slices must not kill the
job, must surface in a triage table, and must not shift z alignment."""

from __future__ import annotations

import numpy as np
import pytest

from aind_smartspim_data_transformation_spark.imaging.zarr_sink import read_zarr_level
from tests.imaging_fixtures import (
    CHANNELS,
    SLICES,
    assert_pyramid,
    ingest,
    job_store,
    make_dataset,
    tree_bytes,
)


def _corrupt_slice(root, z: int = 0) -> str:
    """Truncate slice ``z`` (default the first) of the first stack into
    a decode failure; returns its stack id.  A valid PNG signature with
    a mangled body exercises the codec error path, not the extension
    filter."""
    ch_dir = root / "SmartSPIM" / CHANNELS[0]
    col = sorted(p for p in ch_dir.iterdir() if p.is_dir())[0]
    stack = sorted(p for p in col.iterdir() if p.is_dir())[0]
    target = stack / f"{SLICES[z]}.png"
    target.write_bytes(b"\x89PNG\r\n\x1a\n" + b"\x00" * 40)
    return stack.name


def test_fail_mode_propagates_codec_error(spark, tmp_path):
    """A corrupt slice past the probed first one fails its band task,
    and the job with it."""
    make_dataset(tmp_path, height=16, width=20)
    _corrupt_slice(tmp_path, z=1)
    with pytest.raises(Exception, match="(?i)png|chunk|decode"):
        ingest(spark, tmp_path, tmp_path / "out", (2, 8, 8), 1, on_error="fail")


def test_quarantine_mode_isolates_and_zero_fills(spark, tmp_path):
    vols = make_dataset(tmp_path, height=16, width=20)
    bad_stack = _corrupt_slice(tmp_path)

    groups, metrics = ingest(
        spark, tmp_path, tmp_path / "out", (2, 8, 8), 1, on_error="quarantine"
    )

    # exactly one dead letter, naming the corrupt file with the cause
    dl = metrics["dead_letters"]
    assert len(dl) == 1
    assert dl[0]["stack"] == bad_stack and dl[0]["z"] == 0
    assert f"{SLICES[0]}.png" in dl[0]["error"]

    # every stack: corrupt plane zero-filled AT ITS POSITION, every
    # other voxel identical to the fixture volume
    assert len(groups) == len(vols)
    for key, vol in vols.items():
        expect = vol.copy()
        if key == f"{CHANNELS[0]}/{bad_stack}":
            expect[0] = 0  # the quarantined plane
        assert_pyramid(f"{tmp_path}/out/{key}.ome.zarr", expect, 1)


def test_quarantine_clean_tree_matches_fail_mode(spark, tmp_path):
    """On a healthy acquisition the two modes are bit-identical."""
    vols = make_dataset(tmp_path, height=16, width=20)
    ingest(spark, tmp_path, tmp_path / "a", (2, 8, 8), 1, on_error="fail")
    _, metrics = ingest(
        spark, tmp_path, tmp_path / "b", (2, 8, 8), 1, on_error="quarantine"
    )
    assert metrics["dead_letters"] == []
    assert tree_bytes(tmp_path / "a") == tree_bytes(tmp_path / "b")
    for key, vol in vols.items():
        assert_pyramid(f"{tmp_path}/a/{key}.ome.zarr", vol, 1)


def test_quarantine_ingest_reaches_zarr_sink(spark, tmp_path):
    """End-to-end: a corrupt slice quarantined at ingest reaches the
    OME-Zarr store as a ZERO plane at its true z index — the store's
    alignment contract survives the dead letter."""
    vols = make_dataset(tmp_path, height=16, width=20)
    bad_stack = _corrupt_slice(tmp_path)

    [group], _ = ingest(
        spark,
        tmp_path,
        tmp_path / "out",
        (2, 16, 20),
        1,
        on_error="quarantine",
        stack_filter=[(CHANNELS[0], bad_stack)],
    )
    got = read_zarr_level(group, 0)
    expect = vols[f"{CHANNELS[0]}/{bad_stack}"].copy()
    expect[0] = 0  # the quarantined plane, zero-filled in place
    assert np.array_equal(got, expect)


# ---------------------------------------------------------------------------
# Job-level quarantine (round 7): the imaging job must survive a corrupt
# slice — zero plane at position, dead-letter triage row — and write the
# numpy oracle's store everywhere else.
# ---------------------------------------------------------------------------
def _run_job(spark, root, out, on_error, chunk=(64, 64, 64)):
    """The imaging job at 2 levels; returns (store bytes, response)."""
    return job_store(spark, root, out, chunk, 2, on_error)


def _assert_oracle(out, vols, zeroed: dict[str, int]):
    """Every stack's 2-level store equals the numpy oracle of its
    volume, with plane ``zeroed[key]`` zero-filled where given."""
    for key, vol in vols.items():
        expect = vol.copy()
        if key in zeroed:
            expect[zeroed[key]] = 0
        assert_pyramid(f"{out}/{key}.ome.zarr", expect, 2)


def test_fused_quarantine_store_matches_oracle(spark, tmp_path):
    """Corrupt slice (the FIRST of its stack — the probe must fall back
    to the next slice), quarantine mode: every stack's store equals the
    numpy oracle, the corrupt plane zero, and the dead-letter metric
    names the slice."""
    root = tmp_path / "ds"
    vols = make_dataset(root, height=16, width=20)
    bad_stack = _corrupt_slice(root)

    _, fused_resp = _run_job(spark, root, tmp_path / "out_fused", "quarantine")
    _assert_oracle(tmp_path / "out_fused", vols, {f"{CHANNELS[0]}/{bad_stack}": 0})

    dead = fused_resp["metrics"]["dead_letters"]
    assert len(dead) == 1
    assert dead[0]["channel"] == CHANNELS[0]
    assert dead[0]["stack"] == bad_stack
    assert dead[0]["z"] == 0
    assert f"{SLICES[0]}.png" in dead[0]["error"]

    # the quarantined plane is ZERO at its position; neighbors intact
    group = str(
        tmp_path / "out_fused" / CHANNELS[0] / f"{bad_stack}.ome.zarr"
    )
    got = read_zarr_level(group, 0)
    assert not got[0].any()
    assert got[1].any()


def test_fused_fail_mode_propagates_codec_error(spark, tmp_path):
    root = tmp_path / "ds"
    make_dataset(root, height=16, width=20)
    _corrupt_slice(root)
    with pytest.raises(Exception, match="(?i)png|probe|decode"):
        _run_job(spark, root, tmp_path / "out", "fail")


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
        _run_job(spark, root, tmp_path / "out_f", "fail")

    _, resp = _run_job(spark, root, tmp_path / "out_q", "quarantine")
    dead = resp["metrics"]["dead_letters"]
    assert len(dead) == 1 and dead[0]["z"] == 1
    assert "geometry mismatch" in dead[0]["error"]
    assert f"{SLICES[1]}.png" in dead[0]["error"]

    group = str(
        tmp_path / "out_q" / CHANNELS[0] / f"{stack_dir.name}.ome.zarr"
    )
    got = read_zarr_level(group, 0)
    assert not got[1].any()
    assert got[0].any()


def test_trailing_corrupt_slice_same_store_both_paths(spark, tmp_path):
    """A corrupt LAST slice must not shorten the stack: the quarantine
    store keeps the listing extent with a zero plane at the end.  The
    same store must come out of both decode paths — the whole-plane
    quarantine decode of the corrupt tree and the windowed fail-mode
    decode of a twin tree whose last slice is a real all-zero plane —
    byte for byte."""
    import shutil

    from aind_smartspim_data_transformation_spark.sources.png_codec import (
        encode_png_gray,
    )

    root = tmp_path / "ds"
    vols = make_dataset(root, height=16, width=20)
    twin = tmp_path / "twin"
    shutil.copytree(root, twin)
    ch_dir = root / "SmartSPIM" / CHANNELS[0]
    col = sorted(p for p in ch_dir.iterdir() if p.is_dir())[0]
    stack_dir = sorted(p for p in col.iterdir() if p.is_dir())[0]
    rel = stack_dir.relative_to(root) / f"{SLICES[-1]}.png"
    # corrupt the LAST slice; the twin holds a zero plane there instead
    (root / rel).write_bytes(b"\x89PNG\r\n\x1a\n" + b"\x00" * 40)
    (twin / rel).write_bytes(encode_png_gray(np.zeros((16, 20), np.uint16)))

    quarantined, fused_resp = _run_job(
        spark, root, tmp_path / "out_fused", "quarantine"
    )
    zero_twin, _ = _run_job(spark, twin, tmp_path / "out_twin", "fail")
    assert quarantined == zero_twin

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
    mixed real/zero plane.  Quarantine decodes the full slice (strict
    validation), so the whole plane zeroes in every band — the store
    equals the numpy oracle with that plane zero."""
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
    _run_job(spark, root, tmp_path / "out_f", "quarantine", chunk=(64, 8, 64))
    _assert_oracle(
        tmp_path / "out_f", vols, {f"{CHANNELS[0]}/{stack_dir.name}": 0}
    )
    group = str(
        tmp_path / "out_f" / CHANNELS[0] / f"{stack_dir.name}.ome.zarr"
    )
    got = read_zarr_level(group, 0)
    assert not got[0].any()  # the WHOLE plane, not just the bottom band
    assert got[1].any()


def test_slice_decoded_by_two_bands_gives_one_dead_letter(
    spark, tmp_path, monkeypatch
):
    """Height 32 at chunk (64, 8, 64) under a 2,560 B envelope (a
    1,280 B decoded span plus 640 B per 2-slice chunk row) splits every
    stack into 2 bands of 2 chunk rows, so 2 tasks each decode the
    corrupt slice: the job reports ONE dead letter for it, picked by a
    fixed rule (two runs agree, byte for byte), and its store equals
    the numpy oracle."""
    from aind_smartspim_data_transformation_spark.imaging import fused as fused_mod

    root = tmp_path / "ds"
    vols = make_dataset(root, height=32, width=20)
    bad_stack = _corrupt_slice(root)
    chunk = (64, 8, 64)
    monkeypatch.setattr(fused_mod, "FUSED_MAX_TASK_BYTES", 2560)
    geo = fused_mod.probe_stack_geometry(
        spark, str(root / "SmartSPIM"), on_error="quarantine"
    )
    plan = fused_mod._band_plan(
        geo, list(chunk), spark.sparkContext.defaultParallelism
    )
    assert plan[(CHANNELS[0], bad_stack)][:3] == (2, 2, 1)

    fused, resp = _run_job(spark, root, tmp_path / "out_f", "quarantine", chunk=chunk)
    twice, again = _run_job(
        spark, root, tmp_path / "out_f2", "quarantine", chunk=chunk
    )
    assert fused == twice
    _assert_oracle(tmp_path / "out_f", vols, {f"{CHANNELS[0]}/{bad_stack}": 0})
    dead = resp["metrics"]["dead_letters"]
    assert [(d["channel"], d["stack"], d["z"]) for d in dead] == [
        (CHANNELS[0], bad_stack, 0)
    ]
    assert dead == again["metrics"]["dead_letters"]


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
        _run_job(spark, root, tmp_path / "out", "fail")


def test_fused_failed_job_leaves_no_parsing_store(spark, tmp_path):
    """Metadata-last for the DEFAULT ingest (r7): a fused job that dies
    mid-decode must leave NO .zattrs/.zarray anywhere — previously the
    metadata was written BEFORE the band tasks, so a killed job left a
    complete-parsing store whose missing chunks silently read as
    zeros.  After fixing the input, a rerun converges to the clean
    store."""
    root = tmp_path / "ds"
    vols = make_dataset(root, height=16, width=20)
    bad_stack = _corrupt_slice(root)
    out = tmp_path / "out"
    with pytest.raises(Exception):
        _run_job(spark, root, out, "fail")
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
    rerun, _ = _run_job(spark, root, out, "fail")
    fresh, _ = _run_job(spark, root, tmp_path / "out_fresh", "fail")
    assert rerun == fresh
