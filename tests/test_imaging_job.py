"""End-to-end imaging job (the reference's integration test, SURVEY §5,
but with output assertions the reference lacks)."""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pytest

from aind_smartspim_data_transformation_spark.config.settings import ImagingJobSettings
from aind_smartspim_data_transformation_spark.imaging.job import run_imaging_job
from aind_smartspim_data_transformation_spark.imaging.pyramid import windowed_mean
from aind_smartspim_data_transformation_spark.imaging.zarr_sink import read_zarr_level
from tests.imaging_fixtures import (
    assert_pyramid,
    crash_before_finalize,
    ingest,
    job_store,
    make_dataset,
    make_stack,
    tree_bytes,
)


@pytest.fixture(scope="module")
def job_run(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("ds")
    out = tmp_path_factory.mktemp("out")
    arrays = make_dataset(root, height=32, width=40)
    settings = ImagingJobSettings(
        input_source=str(root),
        output_directory=str(out),
        chunk_size=[64, 64, 64],
        downsample_levels=2,
    )
    resp = run_imaging_job(spark, settings)
    return resp, out, arrays


def test_job_succeeds(job_run):
    resp, out, arrays = job_run
    assert resp["status_code"] == 200
    assert len(resp["written"]) == 8  # 2 channels × 4 stacks


def test_job_output_pixels(job_run):
    resp, out, arrays = job_run
    group = f"{out}/Ex_445_Em_469/432380_504340.ome.zarr"
    src = arrays["Ex_445_Em_469/432380_504340"]
    assert np.array_equal(read_zarr_level(group, 0), src)
    assert np.array_equal(read_zarr_level(group, 1), windowed_mean(src, (2, 2, 2)))


def test_job_observed_metrics(job_run):
    resp, out, arrays = job_run
    m = resp["metrics"]
    # 8 stacks × 2 slices each fit one z-chunk per stack
    assert m["n_chunks"] == 8
    # decoded bytes = exact uint16 voxel volume across all stacks
    assert m["chunk_bytes"] == sum(a.nbytes for a in arrays.values())


def test_job_reports_phase_seconds(job_run):
    """The job returns its band tasks' read, decode, pyramid, compress
    and write seconds as a field."""
    from aind_smartspim_data_transformation_spark.imaging.fused import PHASES

    resp, out, arrays = job_run
    phases = resp["phase_sec"]
    assert set(phases) == set(PHASES)
    assert all(v >= 0 for v in phases.values()), phases
    assert sum(phases.values()) > 0


def test_job_derivatives_passthrough(job_run):
    resp, out, arrays = job_run
    assert json.loads((out / "derivatives" / "metadata.json").read_text()) == {
        "origin": "test"
    }


def test_job_metadata_uses_acquisition_voxels(job_run):
    resp, out, arrays = job_run
    attrs = json.loads(
        (out / "Ex_561_Em_600" / "464780_530260.ome.zarr" / ".zattrs").read_text()
    )
    scale = attrs["multiscales"][0]["datasets"][0]["coordinateTransformations"][0]["scale"]
    assert scale == [1.0, 1.0, 2.0, 1.8, 1.8]

def test_job_missing_derivatives(spark, tmp_path):
    root = tmp_path / "ds2"
    make_dataset(root, height=16, width=16)
    import shutil

    shutil.rmtree(root / "derivatives")
    settings = ImagingJobSettings(
        input_source=str(root), output_directory=str(tmp_path / "o"), downsample_levels=1
    )
    with pytest.raises(FileNotFoundError, match="derivatives"):
        run_imaging_job(spark, settings)


def test_job_entrypoint_json_arg(tmp_path):
    """CLI path: -j '<json>' drives the full job (reference §3.1)."""
    import json

    from aind_smartspim_data_transformation_spark.imaging.job import job_entrypoint
    from tests.imaging_fixtures import make_dataset

    root = tmp_path / "in"
    root.mkdir()
    make_dataset(root)
    out = tmp_path / "out"
    payload = json.dumps(
        {
            "input_source": str(root),
            "output_directory": str(out),
            "chunk_size": [2, 64, 80],
            "downsample_levels": 2,
        }
    )
    resp = job_entrypoint(["-j", payload])
    assert resp["status_code"] == 200
    assert len(resp["written"]) == 8  # 2 channels x 4 stacks
    assert (out / "derivatives" / "metadata.json").exists()


def test_job_remote_uri_output(spark, tmp_path):
    """s3_location-style URI output: the whole job (zarr chunks, NGFF
    metadata, derivatives) writes through pyarrow.fs to a file:// URI —
    the same code path an s3:// root takes on a cluster (reference S9,
    minus the subprocess staging)."""
    root = tmp_path / "ds"
    out_dir = tmp_path / "remote"
    arrays = make_dataset(root, height=32, width=40)
    settings = ImagingJobSettings(
        input_source=str(root),
        output_directory=str(tmp_path / "unused_local"),
        s3_location=f"file://{out_dir}",
        chunk_size=[64, 64, 64],
        downsample_levels=2,
    )
    resp = run_imaging_job(spark, settings)
    assert resp["status_code"] == 200
    # groups returned as URIs; readable via the URI-aware reader
    group = sorted(resp["written"])[0]
    assert group.startswith("file://")
    lvl0 = read_zarr_level(group, 0)
    assert np.array_equal(lvl0, arrays["Ex_445_Em_469/432380_504340"])
    lvl1 = read_zarr_level(group, 1)
    assert np.array_equal(
        lvl1, windowed_mean(arrays["Ex_445_Em_469/432380_504340"], (2, 2, 2))
    )
    # derivatives landed under the URI root too, local dir untouched
    assert (out_dir / "derivatives" / "metadata.json").is_file()
    assert not (tmp_path / "unused_local").exists()


def test_partition_stacks_reference_counts():
    """Reference partitioning goldens (`tests/test_smartspim_job.py:40-54`):
    75 elements → 5 partitions of 15; → 2 partitions of 38/37; all
    elements preserved exactly once."""
    from aind_smartspim_data_transformation_spark.imaging.job import partition_stacks

    items = [f"s{i:03d}" for i in range(75)]
    p5 = partition_stacks(items, 5)
    assert [len(p) for p in p5] == [15] * 5
    assert sorted(sum(p5, [])) == items
    p2 = partition_stacks(items, 2)
    assert [len(p) for p in p2] == [38, 37]
    assert sorted(sum(p2, [])) == items
    # round-robin: element i in partition i % n (sorted order)
    assert p2[0][:3] == ["s000", "s002", "s004"]


def test_job_partitioned_runs_cover_all_stacks(spark, tmp_path):
    """num_of_partitions=2 across two runs: disjoint stack sets whose
    union is the full acquisition; only partition 0 copies derivatives."""
    root = tmp_path / "ds"
    make_dataset(root, height=16, width=20)
    outs = []
    for k in (0, 1):
        out = tmp_path / f"out{k}"
        resp = run_imaging_job(
            spark,
            ImagingJobSettings(
                input_source=str(root),
                output_directory=str(out),
                chunk_size=[64, 64, 64],
                downsample_levels=1,
                num_of_partitions=2,
                partition_to_process=k,
            ),
        )
        assert resp["status_code"] == 200
        outs.append({g.split(str(out) + "/")[1] for g in resp["written"]})
    assert outs[0] & outs[1] == set()
    assert len(outs[0] | outs[1]) == 8  # 2 channels × 4 stacks
    assert (tmp_path / "out0" / "derivatives" / "metadata.json").is_file()
    assert not (tmp_path / "out1" / "derivatives").exists()


def test_job_ingest_paths_write_identical_stores(spark, tmp_path):
    """Both decode paths of the job — fail mode's windowed decode and
    quarantine mode's whole-plane decode — must produce byte-identical
    zarr stores on a clean tree through the FULL job (chunk bytes AND
    metadata JSON), equal to the numpy oracle, with the exact ingest
    accounting: level-0 chunk count and raw unpadded bytes."""
    root = tmp_path / "ds"
    arrays = make_dataset(root, height=24, width=28)

    def run(on_error: str) -> tuple[dict[str, bytes], dict]:
        return job_store(
            spark, root, tmp_path / f"out_{on_error}", [64, 64, 64], 2, on_error
        )

    (fail, fail_resp), (quar, quar_resp) = run("fail"), run("quarantine")
    assert fail == quar
    expect = {
        "n_chunks": len(arrays),
        "chunk_bytes": sum(a.nbytes for a in arrays.values()),
    }
    assert fail_resp["metrics"] == expect
    assert quar_resp["metrics"] == {**expect, "dead_letters": []}
    for key, vol in arrays.items():
        assert_pyramid(f"{tmp_path}/out_fail/{key}.ome.zarr", vol, 2)


def _one_stack_store(spark, tmp_path, name, planes, n_levels):
    """A one-stack OME-Zarr store of ``planes`` written by the fused
    ingest at chunk [64, 64, 64] (clamped to the stack's extents)."""
    src = tmp_path / f"{name}_src"
    make_stack(src, np.asarray(planes))
    [group], _ = ingest(spark, src, tmp_path / name, (64, 64, 64), n_levels)
    return group


def _slab(planes, n_levels, chunk_z=None):
    """A z-slab as the append transaction takes it: its own
    ``windowed_mean`` pyramid (computed independently of the store),
    ``geo``, ``chunk_info`` (level-0 z-chunk ``chunk_z``, default the
    whole slab, halved per level) and a ``write_level`` that writes
    each level's chunks on the store's chunk grid, shifted by ``off``
    z-chunks."""
    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
        DEFAULT_COMPRESSOR,
        ChunkWriter,
        _fs_for,
        _make_codec,
        chunk_key,
    )

    levels = [np.asarray(planes)]
    for _ in range(n_levels - 1):
        levels.append(windowed_mean(levels[-1], (2, 2, 2)))
    geo = [(lv.shape, str(lv.dtype)) for lv in levels]
    dz = chunk_z or levels[0].shape[0]
    chunk_info = []
    for lv in levels:
        chunk_info.append((min(dz, lv.shape[0]), -(-lv.shape[0] // dz)))
        dz = -(-dz // 2)

    def write_level(group):
        def write(lvl, off, meta):
            fs, gbase = _fs_for(group)
            arr = levels[lvl]
            cw = ChunkWriter(
                fs, _make_codec(DEFAULT_COMPRESSOR, None, arr.itemsize)[1]
            )
            cdz, cdy, cdx = meta["chunks"][2:]
            for z0 in range(0, arr.shape[0], cdz):
                for y0 in range(0, arr.shape[1], cdy):
                    for x0 in range(0, arr.shape[2], cdx):
                        cw.write(
                            chunk_key(
                                gbase, lvl, z0 // cdz + off, y0 // cdy, x0 // cdx
                            ),
                            arr[z0 : z0 + cdz, y0 : y0 + cdy, x0 : x0 + cdx],
                            (cdz, cdy, cdx),
                        )

        return write

    return geo, chunk_info, write_level


def _store_files(group):
    return {p: p.read_bytes() for p in Path(group).rglob("*") if p.is_file()}


def _assert_refused(group, geo, chunk_info, match):
    """The append is refused before any chunk lands: ``write_level``
    is never called and every store file (``.zattrs`` included, so no
    fence) is byte-unchanged."""
    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
        append_slab_transaction,
    )

    def never(lvl, off, meta):
        pytest.fail(f"a refused slab wrote level {lvl}")

    before = _store_files(group)
    with pytest.raises(ValueError, match=match):
        append_slab_transaction(group, geo, chunk_info, never)
    assert _store_files(group) == before


def test_append_z_slab_equals_one_shot(spark, tmp_path):
    """Incremental acquisition: slab A written, slab B appended later
    (each slab's pyramid computed independently) reassembles to exactly
    the one-shot store of the full stack, at every level; a slab with a
    mismatched plane, or an odd depth (it would finalize a truncated
    boundary window), is refused before any chunk lands."""
    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
        append_slab_transaction,
    )

    rng = np.random.default_rng(11)
    full = rng.integers(0, 65535, size=(8, 32, 40), dtype=np.uint16)
    group = _one_stack_store(spark, tmp_path, "inc", full[:4], 2)
    one_shot = _one_stack_store(spark, tmp_path, "oneshot", full, 2)

    geo, info, write_level = _slab(full[4:], 2)
    append_slab_transaction(group, geo, info, write_level(group))
    for lvl in (0, 1):
        np.testing.assert_array_equal(
            read_zarr_level(group, lvl), read_zarr_level(one_shot, lvl)
        )
    # level-0 equals the source exactly
    np.testing.assert_array_equal(read_zarr_level(group, 0), full)

    bad = rng.integers(0, 9, size=(2, 16, 40), dtype=np.uint16)
    _assert_refused(group, *_slab(bad, 2)[:2], "plane")
    odd = rng.integers(0, 9, size=(3, 32, 40), dtype=np.uint16)
    _assert_refused(group, *_slab(odd, 2)[:2], "truncated")


def test_append_refuses_shallow_slab_and_chunk_mismatch(spark, tmp_path):
    """(1) A slab shallower than factor**(n_levels-1) is refused (its
    deepest levels finalize truncated windows — the extent-ratio check
    alone cannot see this once an extent hits 1); (2) a slab whose
    z-chunking differs from the store's is refused with the store's
    chunk size named, and re-chunking to that size succeeds."""
    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
        append_slab_transaction,
    )

    rng = np.random.default_rng(3)
    full12 = rng.integers(0, 65535, size=(12, 16, 20), dtype=np.uint16)
    # (1) 2-deep slab into a 3-level store: level extents [2, 1, 1] —
    # the slab-ratio check passes this; the store-ladder check must not
    s3 = _one_stack_store(spark, tmp_path, "s3", full12[:8], 3)
    shallow = rng.integers(0, 9, size=(2, 16, 20), dtype=np.uint16)
    _assert_refused(s3, *_slab(shallow, 3)[:2], "truncated")

    # (2) store whose z-chunk was clamped by a 4-deep first wave; the
    # second wave is DEEPER (8 planes), so its single 8-deep chunk
    # cannot land on the store's 4-plane grid
    g2 = _one_stack_store(spark, tmp_path, "clamped", full12[:4], 2)
    _assert_refused(g2, *_slab(full12[4:], 2)[:2], "chunk_z=4")
    geo, info, write_level = _slab(full12[4:], 2, chunk_z=4)  # re-chunked
    append_slab_transaction(g2, geo, info, write_level(g2))
    np.testing.assert_array_equal(read_zarr_level(g2, 0), full12)


def test_append_crash_fence_and_roll_forward(spark, tmp_path):
    """A crash mid-append leaves a DETECTABLE state (the .zattrs append
    fence) and a retry with the same slab rolls forward to exactly the
    one-shot store — never a double-append.  Crash points: (a) after
    the fence but before any level commits, (b) after level 0 commits
    but before level 1.  A slab of a different depth is refused while
    the fence is up."""
    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
        append_slab_transaction,
    )

    rng = np.random.default_rng(29)
    full = rng.integers(0, 65535, size=(8, 16, 20), dtype=np.uint16)
    one_shot = _one_stack_store(spark, tmp_path, "oneshot", full, 2)
    geo, info, write_level = _slab(full[4:], 2)

    for crash_lvl in (0, 1):
        group = _one_stack_store(spark, tmp_path, f"crash{crash_lvl}", full[:4], 2)
        real = write_level(group)

        def crashing(lvl, off, meta, crash_lvl=crash_lvl, real=real):
            if lvl == crash_lvl:
                raise OSError("simulated crash mid-append")
            real(lvl, off, meta)

        with pytest.raises(OSError, match="simulated crash"):
            append_slab_transaction(group, geo, info, crashing)
        attrs = json.loads(Path(group, ".zattrs").read_text())
        assert attrs["append_in_progress"] == {"pre_z": [4, 2], "post_z": [8, 4]}
        level0 = json.loads(Path(group, "0", ".zarray").read_text())
        assert level0["shape"][2] == (4 if crash_lvl == 0 else 8)
        # a different-GEOMETRY slab is refused while the fence is up
        # (same-geometry slabs are indistinguishable by design — the
        # fence pins extents, not content)
        _assert_refused(group, *_slab(full[:2], 2)[:2], "crashed midway")
        # retry with the SAME slab rolls forward to the one-shot store
        append_slab_transaction(group, geo, info, real)
        for lvl in (0, 1):
            np.testing.assert_array_equal(
                read_zarr_level(group, lvl), read_zarr_level(one_shot, lvl)
            )
        attrs = json.loads(Path(group, ".zattrs").read_text())
        assert "append_in_progress" not in attrs


def test_fused_multi_slab_store_identical(spark, tmp_path, monkeypatch):
    """Multi-z-slab geometry: 10 slices at chunk_z=4 → 3 slabs (partial
    last), 3 y chunk-rows → multiple bands.  Level data must equal the
    numpy windowed-mean oracle, and the store must be byte-identical to
    the one an X-tiled band plan writes — this covers the slab/band/tile
    boundary arithmetic the 2-slice fixture never reaches (pair windows
    falling ON slab boundaries, edge-chunk padding in the partial
    slab)."""
    from aind_smartspim_data_transformation_spark.imaging import fused

    root = tmp_path / "ds"
    rng = np.random.default_rng(7)
    vol = rng.integers(0, 65535, size=(10, 12, 16)).astype(np.uint16)
    ch, stack = make_stack(root, vol)

    store, _ = job_store(spark, root, tmp_path / "out", [4, 4, 4], 3)
    g = f"{tmp_path}/out/{ch}/{stack}.ome.zarr"
    assert_pyramid(g, vol, 3)
    # 12×16 uint16: 384 B decoded span; a one-chunk-row band of 4·4·2 B
    # per column → a 700 B envelope leaves 2-column x-tiles
    monkeypatch.setattr(fused, "FUSED_MAX_TASK_BYTES", 700)
    geo = fused.probe_stack_geometry(spark, str(root / "SmartSPIM"))
    assert fused._band_plan(geo, [4, 4, 4], 32)[(ch, stack)][2:] == (2, 2)
    tiled, _ = job_store(spark, root, tmp_path / "out_tiled", [4, 4, 4], 3)
    assert tiled == store


def test_fused_rerun_and_partial_damage_repair(spark, tmp_path):
    """Fused writes are idempotent at fixed chunk keys: a re-run over
    an existing store (the task-retry / job-retry model — no staging,
    no rename commit) must reproduce the byte-identical store, and a
    re-run over a PARTIALLY damaged store (chunks deleted mid-write,
    as a crashed executor leaves it) must repair it to the same
    bytes."""
    root = tmp_path / "ds"
    make_dataset(root, height=24, width=28)

    def run(out):
        resp = run_imaging_job(
            spark,
            ImagingJobSettings(
                input_source=str(root),
                output_directory=str(out),
                chunk_size=[8, 8, 8],
                downsample_levels=2,
            ),
        )
        return resp

    def snap(out):
        return {
            str(p.relative_to(out)): p.read_bytes()
            for p in sorted(out.rglob("*"))
            if p.is_file()
        }

    out = tmp_path / "out"
    run(out)
    first = snap(out)
    run(out)  # full re-run over the existing store
    assert snap(out) == first
    # simulate a crashed write: remove some chunk files + one .zarray
    victims = [p for p in sorted(out.rglob("*")) if p.is_file()][::7]
    for v in victims:
        v.unlink()
    assert snap(out) != first
    run(out)
    assert snap(out) == first


def test_fused_mixed_png_tiff_stack(spark, tmp_path):
    """Fused path over a stack MIXING PNG and multi-strip deflate TIFF
    slices: exercises the header-only geometry probe's TIFF fallback
    (IFD at the file tail — the 64-byte fast path cannot see it) and
    the band tasks' TIFF strip-window decode inside the real pipeline.
    Store must equal the numpy oracle."""
    from aind_smartspim_data_transformation_spark.sources.png_codec import (
        encode_png_gray,
    )
    from aind_smartspim_data_transformation_spark.sources.tiff_codec import (
        encode_tiff_gray,
    )

    def encode(z, plane):  # extension stays .png — content sniffing must win
        if z % 2:
            return encode_tiff_gray(plane, compression=8, rows_per_strip=4)
        return encode_png_gray(plane)

    root = tmp_path / "ds"
    rng = np.random.default_rng(11)
    vol = rng.integers(0, 65535, size=(6, 12, 16)).astype(np.uint16)
    ch, stack = make_stack(root, vol, encode)
    job_store(spark, root, tmp_path / "out", [4, 4, 4], 2)
    assert_pyramid(f"{tmp_path}/out/{ch}/{stack}.ome.zarr", vol, 2)


def test_fused_four_band_store_matches_oracle(spark, tmp_path):
    """16 y-rows at chunk 4, one slab → 4 one-chunk-row bands, one task
    each: every band decodes its own row window of every slice into its
    own buffer and writes its own chunk row.  Store must equal the
    numpy oracle."""
    from aind_smartspim_data_transformation_spark.imaging.fused import (
        _band_plan,
        probe_stack_geometry,
    )

    root = tmp_path / "ds"
    rng = np.random.default_rng(13)
    vol = rng.integers(0, 65535, size=(4, 16, 8)).astype(np.uint16)
    ch, stack = make_stack(root, vol)

    geo = probe_stack_geometry(spark, str(root))
    plan = _band_plan(geo, [4, 4, 4], spark.sparkContext.defaultParallelism)
    assert plan[(ch, stack)][:3] == (4, 1, 1)
    job_store(spark, root, tmp_path / "out", [4, 4, 4], 2)
    assert_pyramid(f"{tmp_path}/out/{ch}/{stack}.ome.zarr", vol, 2)


def test_fully_resumed_run_adds_no_phase_seconds(spark, tmp_path, monkeypatch):
    """A rerun whose every band is marker-complete writes no band, so
    its phase timings are all zero while its accounting still counts
    the resumed bands."""
    from aind_smartspim_data_transformation_spark.imaging.fused import (
        PHASES,
        run_fused_ingest,
    )

    root = tmp_path / "ds"
    arrays = make_dataset(root, height=16, width=20)
    args = dict(
        voxel_size_zyx=[2.0, 1.8, 1.8],
        scale_factor_zyx=[2, 2, 2],
        chunk_zyx=[64, 64, 64],
        n_levels=2,
    )
    out = str(tmp_path / "out")
    crash_before_finalize(
        monkeypatch, lambda: run_fused_ingest(spark, str(root), out, **args)
    )
    _, metrics = run_fused_ingest(spark, str(root), out, **args)
    assert metrics["phase_sec"] == dict.fromkeys(PHASES, 0.0)
    assert metrics["n_chunks"] == len(arrays)
    assert metrics["chunk_bytes"] == sum(a.nbytes for a in arrays.values())


def test_fused_mid_job_kill_resume_skips_completed_bands(
    spark, tmp_path, monkeypatch
):
    """VERDICT r7 ask #3 done-criterion: a fused job killed mid-flight
    leaves per-band completion markers; the rerun SKIPS the completed
    bands (proven by their chunk files' mtimes never changing across
    the resume) and finalizes a store byte-identical to an
    uninterrupted build, with the metrics contract intact.

    The kill is injected from outside the code under test: the job
    crashes at its driver-side finalize, then one band's marker and
    chunk files are deleted — the state a job killed with that band
    unfinished leaves behind."""
    from aind_smartspim_data_transformation_spark.imaging.fused import (
        _PROGRESS_DIRNAME,
        _band_plan,
        _marker_name,
        run_fused_ingest,
    )
    from aind_smartspim_data_transformation_spark.sources.png_codec import (
        encode_png_gray,
    )

    ch, col, stack = "Ex_445_Em_469", "432380", "432380_504340"
    root = tmp_path / "ds"
    d = root / "SmartSPIM" / ch / col / stack
    d.mkdir(parents=True)
    rng = np.random.default_rng(13)
    vol = rng.integers(0, 65535, size=(10, 12, 16)).astype(np.uint16)
    for z in range(10):
        (d / f"{z:06d}.png").write_bytes(encode_png_gray(vol[z]))

    args = dict(
        voxel_size_zyx=[2.0, 1.8, 1.8],
        scale_factor_zyx=[2, 2, 2],
        chunk_zyx=[4, 4, 4],
        n_levels=3,
    )

    def snap(out):
        return {
            str(p.relative_to(out)): p.read_bytes()
            for p in sorted(out.rglob("*"))
            if p.is_file()
        }

    fresh = tmp_path / "fresh"
    _, fresh_metrics = run_fused_ingest(spark, str(root), str(fresh), **args)

    plan = _band_plan(
        [{"channel": ch, "stack": stack, "z": 10, "y": 12, "x": 16,
          "dtype": "uint16"}],
        [4, 4, 4],
        spark.sparkContext.defaultParallelism,
    )
    nb, per_band, n_xt, _ = plan[(ch, stack)]
    assert n_xt == 1  # a group is (slab, band)
    n_slabs, n_cy, n_cx = 3, 3, 4
    all_keys = {
        (ch, stack, slab, band)
        for slab in range(n_slabs)
        for band in range(nb)
    }
    fail_key = (ch, stack, 0, 0)

    out = tmp_path / "out"
    crash_before_finalize(
        monkeypatch,
        lambda: run_fused_ingest(spark, str(root), str(out), **args),
    )

    # metadata-last held: the killed target must not parse as a store
    assert not list(out.rglob(".zattrs")) and not list(out.rglob(".zarray"))
    # every band completed before the finalize crashed
    pdir = out / _PROGRESS_DIRNAME
    markers = {
        tuple(json.loads(p.read_text())["key"]): json.loads(p.read_text())
        for p in pdir.glob("*.json")
    }
    assert set(markers) == all_keys

    # the chunk files each band owns
    def band_files(slab, band):
        cys = range(band * per_band, min((band + 1) * per_band, n_cy))
        return [
            out / ch / f"{stack}.ome.zarr" / str(lvl) / "0" / "0"
            / str(slab) / str(cy) / str(cx)
            for lvl in range(3)
            for cy in cys
            for cx in range(n_cx)
        ]

    # un-finish one band: no marker, no chunks
    (pdir / _marker_name(*fail_key)).unlink()
    for p in band_files(*fail_key[2:]):
        p.unlink()
    del markers[fail_key]

    # the completed bands' chunk files, with their mtimes
    before = {}
    for (_, _, slab, band) in markers:
        for p in band_files(slab, band):
            assert p.is_file(), f"completed band missing chunk {p}"
            before[p] = p.stat().st_mtime_ns

    # resume: only the one unfinished band runs
    _, metrics = run_fused_ingest(spark, str(root), str(out), **args)
    assert not pdir.exists()  # progress retired after the finalize
    assert snap(out) == snap(fresh)
    # phase timings cover only the bands each run wrote: wall seconds,
    # not accounting (test_fully_resumed_run_adds_no_phase_seconds)
    metrics.pop("phase_sec")
    fresh_metrics.pop("phase_sec")
    assert metrics == fresh_metrics
    after = {p: p.stat().st_mtime_ns for p in before}
    rewritten = [p for p in before if before[p] != after[p]]
    assert rewritten == [], f"resume rewrote completed bands: {rewritten}"


def test_fused_progress_marker_config_mismatch_refused(spark, tmp_path):
    """A rerun whose STORE layout differs from the markers' (chunk /
    factors / levels / codec / geometry) must refuse loudly — the
    target would mix chunk layouts — while a PLAN-only difference
    (band split / on_error) just invalidates the markers and the run
    redoes everything over the idempotent chunk keys."""
    from aind_smartspim_data_transformation_spark.imaging.fused import (
        _PROGRESS_DIRNAME,
        _marker_name,
        run_fused_ingest,
    )
    from aind_smartspim_data_transformation_spark.sources.png_codec import (
        encode_png_gray,
    )

    ch, col, stack = "Ex_445_Em_469", "432380", "432380_504340"
    root = tmp_path / "ds"
    d = root / "SmartSPIM" / ch / col / stack
    d.mkdir(parents=True)
    rng = np.random.default_rng(17)
    vol = rng.integers(0, 65535, size=(4, 8, 8)).astype(np.uint16)
    for z in range(4):
        (d / f"{z:06d}.png").write_bytes(encode_png_gray(vol[z]))

    out = tmp_path / "out"
    args = dict(
        voxel_size_zyx=[2.0, 1.8, 1.8],
        scale_factor_zyx=[2, 2, 2],
        chunk_zyx=[4, 4, 4],
        n_levels=1,
    )
    pdir = out / _PROGRESS_DIRNAME
    pdir.mkdir(parents=True)
    marker = {
        "key": [ch, stack, 0, 0],
        "n_chunks": 1,
        "chunk_bytes": 1,
        "dead": [],
        "store_fp": "not-this-configuration",
        "plan_fp": "whatever",
    }
    (pdir / _marker_name(ch, stack, 0, 0)).write_text(json.dumps(marker))
    with pytest.raises(ValueError, match="different store configuration"):
        run_fused_ingest(spark, str(root), str(out), **args)

    # same store fingerprint but a foreign PLAN fingerprint: markers are
    # dropped, the full run proceeds and produces the complete store
    from aind_smartspim_data_transformation_spark.imaging.fused import (
        _band_plan,
        _progress_fingerprints,
    )
    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
        DEFAULT_COMPRESSOR,
        _make_codec,
    )

    geo = [{"channel": ch, "stack": stack, "z": 4, "y": 8, "x": 8,
            "dtype": "uint16"}]
    codec_meta, _ = _make_codec(DEFAULT_COMPRESSOR, None)
    store_fp, _ = _progress_fingerprints(
        str(root), str(out), [4, 4, 4], [2, 2, 2], 1, codec_meta, geo,
        _band_plan(geo, [4, 4, 4], spark.sparkContext.defaultParallelism),
        "fail",
    )
    marker["store_fp"] = store_fp
    marker["plan_fp"] = "a-different-band-plan"
    (pdir / _marker_name(ch, stack, 0, 0)).write_text(json.dumps(marker))
    groups, metrics = run_fused_ingest(spark, str(root), str(out), **args)
    assert metrics["n_chunks"] == 4  # full redo: 2 cy × 2 cx × 1 slab
    assert not pdir.exists()
    g = f"{out}/{ch}/{stack}.ome.zarr"
    assert np.array_equal(read_zarr_level(g, 0), vol)


def test_fused_resume_after_input_edit_invalidates_markers(
    spark, tmp_path, monkeypatch
):
    """ADVICE r8: after a quarantine-mode crash, the likely operator
    move is replacing the corrupt slice IN PLACE (same filename, same
    shape) and re-running.  Geometry fingerprints alone would match
    and the resume would silently keep the marker-complete band's
    zeroed planes and re-report the stale dead letter.  The content
    digest folded into plan_fp (round 9) must instead invalidate every
    marker: the resume redoes everything and produces the store a
    fresh run on the FIXED input would — no zero plane, no stale dead
    letters."""
    from aind_smartspim_data_transformation_spark.imaging.fused import (
        _PROGRESS_DIRNAME,
        run_fused_ingest,
    )
    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
        read_zarr_level,
    )
    from aind_smartspim_data_transformation_spark.sources.png_codec import (
        encode_png_gray,
    )

    ch, col, stack = "Ex_445_Em_469", "432380", "432380_504340"
    root = tmp_path / "ds"
    d = root / "SmartSPIM" / ch / col / stack
    d.mkdir(parents=True)
    rng = np.random.default_rng(23)
    vol = rng.integers(0, 65535, size=(10, 12, 16)).astype(np.uint16)
    for z in range(10):
        (d / f"{z:06d}.png").write_bytes(encode_png_gray(vol[z]))
    # corrupt z=5 (slab 1) — quarantine will zero that plane
    (d / "000005.png").write_bytes(b"not a png at all")

    args = dict(
        voxel_size_zyx=[2.0, 1.8, 1.8],
        scale_factor_zyx=[2, 2, 2],
        chunk_zyx=[4, 4, 4],
        n_levels=1,
        on_error="quarantine",
    )
    out = tmp_path / "out"
    # crash AFTER every band (the corrupt one included) completed
    crash_before_finalize(
        monkeypatch,
        lambda: run_fused_ingest(spark, str(root), str(out), **args),
    )
    pdir = out / _PROGRESS_DIRNAME
    dead_markers = [
        m
        for p in pdir.glob("*.json")
        for m in [json.loads(p.read_text())]
        if m["dead"]
    ]
    assert dead_markers, "corrupt band should have completed with a dead letter"

    # operator fixes the corrupt slice in place and re-runs
    (d / "000005.png").write_bytes(encode_png_gray(vol[5]))
    _, metrics = run_fused_ingest(spark, str(root), str(out), **args)

    assert metrics["dead_letters"] == []  # no stale triage rows
    assert not pdir.exists()
    g = f"{out}/{ch}/{stack}.ome.zarr"
    # the fixed plane is REAL data, not the quarantined zeros
    assert np.array_equal(read_zarr_level(g, 0), vol)


def test_publish_marker_tolerates_concurrent_attempts(tmp_path):
    """ADVICE r9: the marker publish's check-delete-move is not atomic
    under concurrent speculative attempts.  A move that fails because a
    sibling re-created the destination must count as success (content
    is byte-equivalent by construction) and clean up the temp; a
    transient failure with no destination retries; a persistent failure
    with no destination still raises."""
    from pyarrow import fs as pafs

    from aind_smartspim_data_transformation_spark.imaging.fused import (
        _publish_marker,
    )

    class RacingFS:
        """Delegates to LocalFileSystem; first N move()s raise, and a
        sibling marker optionally appears just before the failed move
        (the delete→move window interleaving)."""

        def __init__(self, fail_moves, sibling_publishes, fail_probes=0):
            self.local = pafs.LocalFileSystem()
            self.fail_moves = fail_moves
            self.sibling = sibling_publishes
            self.fail_probes = fail_probes
            self.moves = 0
            self.probes = 0

        def get_file_info(self, p):
            self.probes += 1
            if self.probes <= self.fail_probes:
                raise OSError("transient probe failure")
            return self.local.get_file_info(p)

        def delete_file(self, p):
            self.local.delete_file(p)

        def move(self, src, dst):
            self.moves += 1
            if self.moves <= self.fail_moves:
                if self.sibling:
                    Path(dst).write_bytes(b"{}")  # sibling wins the race
                raise OSError("rename failed: destination exists")
            self.local.move(src, dst)

    def mk(name):
        p = tmp_path / name
        p.write_bytes(b"{}")
        return str(p)

    dest = str(tmp_path / "marker.json")

    # 1. sibling published between delete and move: success, temp gone
    tmp = mk("t1")
    _publish_marker(RacingFS(1, True), tmp, dest)
    assert Path(dest).exists() and not Path(tmp).exists()

    # 2. transient move failure, no sibling: retried to success
    Path(dest).unlink()
    tmp = mk("t2")
    _publish_marker(RacingFS(1, False), tmp, dest)
    assert Path(dest).exists() and not Path(tmp).exists()

    # 3. persistent failure, no sibling: raises after retries
    Path(dest).unlink()
    tmp = mk("t3")
    with pytest.raises(OSError, match="rename failed"):
        _publish_marker(RacingFS(99, False), tmp, dest)

    # 4. PROBE blips must consume attempts, not abort the loop:
    # attempt 1's pre-move probe raises, its recovery probe raises
    # (fail_probes=2); attempt 2's move raises (fail_moves=1) but its
    # recovery probe now works; attempt 3 publishes.
    Path(dest).unlink(missing_ok=True)  # case 3 never published
    tmp = mk("t4")
    _publish_marker(RacingFS(1, False, fail_probes=2), tmp, dest)
    assert Path(dest).exists() and not Path(tmp).exists()


def test_input_listing_digest_modes(spark, tmp_path):
    """ADVICE r9 (medium): the resume digest is METADATA-based — a
    timestamp-preserving equal-length replacement (cp -p / rsync -a)
    is its documented blind spot, closed by mode="content"; and mtime
    now compares at millisecond granularity, so a same-second in-place
    rewrite (the r9 truncation hole) invalidates in metadata mode."""
    import os

    from aind_smartspim_data_transformation_spark.imaging.fused import (
        input_listing_digest,
    )

    d = tmp_path / "ds" / "SmartSPIM" / "Ex_488_Em_525" / "432380" / "s0"
    d.mkdir(parents=True)
    f = d / "000000.png"
    f.write_bytes(b"A" * 64)
    (d / "000001.png").write_bytes(b"B" * 64)
    root = str(tmp_path / "ds")
    st = f.stat()

    meta0 = input_listing_digest(spark, root)
    cont0 = input_listing_digest(spark, root, mode="content")
    assert meta0.startswith("metadata:") and cont0.startswith("content:")

    # cp -p simulation: same path, same length, same mtime, new BYTES
    f.write_bytes(b"C" * 64)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert input_listing_digest(spark, root) == meta0  # the blind spot
    assert input_listing_digest(spark, root, mode="content") != cont0

    # same-second rewrite, +2 ms: metadata mode must catch it
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 2_000_000))
    assert input_listing_digest(spark, root) != meta0

    with pytest.raises(ValueError, match="metadata.*content"):
        input_listing_digest(spark, root, mode="sha1")


def test_listing_digest_matches_binaryfile_expression(spark, tmp_path):
    """Resume compatibility: the driver-side metadata digest equals the
    Spark expression earlier releases computed over a ``binaryFile``
    scan, so progress markers written before still validate."""
    from aind_smartspim_data_transformation_spark.imaging.fused import (
        input_listing_digest,
    )
    from aind_smartspim_data_transformation_spark.sources.stack_reader import (
        scan_stack_files,
    )
    from pyspark.sql import functions as F

    make_dataset(tmp_path, height=16, width=20)
    root = str(tmp_path / "SmartSPIM")

    def spark_digest(stack_filter=None):
        files = scan_stack_files(spark, root)
        if stack_filter is not None:
            keys = spark.createDataFrame(stack_filter, "channel string, stack string")
            files = files.join(keys, ["channel", "stack"])
        per_file = F.sha2(F.concat_ws("|", "path", "length", "mtime"), 256)
        d = files.agg(
            F.count("*").alias("n"),
            F.sum("length").alias("nbytes"),
            F.sum(
                F.conv(F.substring(per_file, 1, 15), 16, 10).cast("decimal(38,0)")
            ).alias("hsum"),
        ).collect()[0]
        return f"metadata:{d['n']}:{d['nbytes']}:{d['hsum']}"

    assert input_listing_digest(spark, root) == spark_digest()
    one = [("Ex_561_Em_600", "464780_530260")]
    assert input_listing_digest(spark, root, stack_filter=one) == spark_digest(one)


def test_content_digest_matches_binaryfile_expression(spark, tmp_path):
    """Resume compatibility: the content digest, now a plain RDD job
    over the listing, equals the Spark expression earlier releases
    computed over a ``binaryFile`` scan, so content-mode progress
    markers written before still validate."""
    from aind_smartspim_data_transformation_spark.imaging.fused import (
        input_listing_digest,
    )
    from aind_smartspim_data_transformation_spark.sources.stack_reader import (
        scan_stack_files,
    )
    from pyspark.sql import functions as F

    make_dataset(tmp_path, height=16, width=20)
    root = str(tmp_path / "SmartSPIM")

    def spark_digest(stack_filter=None):
        files = scan_stack_files(spark, root)
        if stack_filter is not None:
            keys = spark.createDataFrame(stack_filter, "channel string, stack string")
            files = files.join(F.broadcast(keys), ["channel", "stack"])
        per_file = F.sha2(
            F.concat(
                F.encode(F.concat_ws("|", "path", "length"), "UTF-8"),
                F.col("content"),
            ),
            256,
        )
        d = files.agg(
            F.count("*").alias("n"),
            F.sum("length").alias("nbytes"),
            F.sum(
                F.conv(F.substring(per_file, 1, 15), 16, 10).cast("decimal(38,0)")
            ).alias("hsum"),
        ).collect()[0]
        return f"content:{d['n']}:{d['nbytes']}:{d['hsum']}"

    assert input_listing_digest(spark, root, mode="content") == spark_digest()
    one = [("Ex_561_Em_600", "464780_530260")]
    assert input_listing_digest(
        spark, root, stack_filter=one, mode="content"
    ) == spark_digest(one)


def test_fused_job_runs_at_most_four_spark_jobs(spark, tmp_path):
    """One driver-side listing plans the probe, the resume digest and
    the band groups: the whole fused ingest is the probe job plus the
    band stage's jobs — no listing, JSON or window jobs before it."""
    make_dataset(tmp_path / "ds", height=32, width=40)
    settings = ImagingJobSettings(
        input_source=str(tmp_path / "ds"),
        output_directory=str(tmp_path / "out"),
        chunk_size=[64, 64, 64],
        downsample_levels=2,
    )
    sc = spark.sparkContext
    group = f"fused-job-count-{tmp_path.name}"
    sc.setJobGroup(group, "job count")
    try:
        run_imaging_job(spark, settings)
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 4, jobs


def test_fused_job_is_two_jobs_without_shuffle(spark, tmp_path):
    """The fused ingest is two plain RDD jobs of one stage each — the
    geometry probe and the band stage — and no stage writes shuffle
    bytes: nothing but driver-built path tuples reaches the band
    tasks."""
    import time

    make_dataset(tmp_path / "ds", height=32, width=40)
    settings = ImagingJobSettings(
        input_source=str(tmp_path / "ds"),
        output_directory=str(tmp_path / "out"),
        chunk_size=[64, 64, 64],
        downsample_levels=2,
    )
    sc = spark.sparkContext
    group = f"fused-two-jobs-{tmp_path.name}"
    sc.setJobGroup(group, "job shape")
    try:
        run_imaging_job(spark, settings)
    finally:
        sc._jsc.clearJobGroup()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 2, jobs
    # the listener bus updates the status store asynchronously
    deadline = time.monotonic() + 10
    while any(tracker.getJobInfo(j).status == "RUNNING" for j in jobs):
        assert time.monotonic() < deadline, "jobs did not end in the store"
        time.sleep(0.01)
    stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
    assert len(stages) == 2, stages
    store = sc._jsc.sc().statusStore()
    for s in stages:
        assert store.lastStageAttempt(s).shuffleWriteBytes() == 0, s


def test_auto_routing_boundary_on_task_budget(spark, tmp_path, monkeypatch):
    """VERDICT r8 ask #5: at an envelope that fits a full-width band
    EXACTLY the plan keeps whole-width bands, and one byte less splits
    the bands along X — in both on_error modes, with byte-identical
    stores either side of the boundary (the envelope changes the task
    split, never the output)."""
    from aind_smartspim_data_transformation_spark.imaging import fused

    root = tmp_path / "ds"
    make_dataset(root, height=24, width=28)
    chunk = [64, 64, 8]  # 28 px → 4 chunk columns to split
    geo = fused.probe_stack_geometry(spark, f"{root}/SmartSPIM")
    # one one-chunk-row band of 2 slices × 28 px, plus the 24×28 span
    fits = 2 * 64 * 28 * 2 + 24 * 28 * 2

    stores = []
    for on_error in ("fail", "quarantine"):
        for tag, cap, n_xt in (("at", fits, 1), ("over", fits - 1, 2)):
            monkeypatch.setattr(fused, "FUSED_MAX_TASK_BYTES", cap)
            plans = fused._band_plan(geo, chunk, spark.sparkContext.defaultParallelism)
            assert {p[2] for p in plans.values()} == {n_xt}, (tag, plans)
            store, _ = job_store(
                spark, root, tmp_path / f"out_{tag}_{on_error}", chunk, 2, on_error
            )
            stores.append(store)
    # the envelope never changes the bytes
    assert all(st == stores[0] for st in stores)


def test_band_plan_shrinks_to_memory_envelope(monkeypatch):
    """r11 (SCALE.md §6m): a deep acquisition must NARROW its bands to
    fit the per-task envelope.  This is the measured regression
    geometry — 4 stacks × 320 slices of 2000×1600 uint16 at 128³
    chunks: the want-derived plan (12 slabs on 32 cores → 3 bands per
    slab) picks 5-chunk-row bands whose buffer overshoots 256 MiB;
    capped 3-chunk-row bands, the tallest that fit, stay full width."""
    from aind_smartspim_data_transformation_spark.imaging import fused
    from aind_smartspim_data_transformation_spark.imaging.fused import (
        FUSED_MAX_TASK_BYTES,
        _band_plan,
    )

    geo = [
        {
            "channel": "Ex_445_Em_469",
            "stack": f"s{i}",
            "z": 320,
            "y": 1600,
            "x": 2000,
            "dtype": "uint16",
        }
        for i in range(4)
    ]
    chunk = [128, 128, 128]

    def task_bytes(per_band):  # one band at full width + the span
        return 128 * per_band * 128 * 2000 * 2 + 1600 * 2000 * 2

    plan = _band_plan(geo, chunk, 32)
    # cap shrinks the 5-chunk-row band; 2000 px stays one 16-column tile
    assert plan[("Ex_445_Em_469", "s0")] == (5, 3, 1, 16)  # ceil(13 / 3)
    assert task_bytes(3) <= FUSED_MAX_TASK_BYTES < task_bytes(4)

    # uncapped want-derived plan for contrast: 12 slabs on 32 cores →
    # 3 bands of 5 chunk rows → 334 MB task > cap
    monkeypatch.setattr(fused, "FUSED_MAX_TASK_BYTES", 1 << 40)
    loose = _band_plan(geo, chunk, 32)
    assert loose[("Ex_445_Em_469", "s0")] == (3, 5, 1, 16)
    assert task_bytes(5) > FUSED_MAX_TASK_BYTES


def test_band_plan_cap_never_changes_store_bytes(
    spark, tmp_path, monkeypatch
):
    """The envelope cap changes the BAND SPLIT, never the output: the
    same acquisition written under a cap that forces 1-chunk-row bands
    must be byte-identical to the uncapped plan.  Geometry chosen so
    the cap actually binds (height 80 / cy 4 → n_cy 20, 8 slabs on 8
    cores → one band of 20 chunk rows uncapped; cap 5000 B → pb_cap 1,
    and the capped 1-row task (4928 B) still fits at full width)."""
    from aind_smartspim_data_transformation_spark.imaging import fused

    root = tmp_path / "ds"
    make_dataset(root, height=80, width=28)
    geo = fused.probe_stack_geometry(spark, f"{root}/SmartSPIM")
    P = spark.sparkContext.defaultParallelism
    monkeypatch.setattr(fused, "FUSED_MAX_TASK_BYTES", 1 << 40)
    loose = fused._band_plan(geo, [4, 4, 4], P)
    monkeypatch.setattr(fused, "FUSED_MAX_TASK_BYTES", 5000)
    tight = fused._band_plan(geo, [4, 4, 4], P)
    first = next(iter(loose))
    assert loose[first][1] > tight[first][1] == 1, (
        "fixture no longer makes the cap bind — adjust geometry",
        loose[first],
        tight[first],
    )

    def run(tag: str, cap: int):
        monkeypatch.setattr(fused, "FUSED_MAX_TASK_BYTES", cap)
        out = tmp_path / f"out_{tag}"
        resp = run_imaging_job(
            spark,
            ImagingJobSettings(
                input_source=str(root),
                output_directory=str(out),
                chunk_size=[4, 4, 4],
                downsample_levels=2,
            ),
        )
        assert resp["status_code"] == 200
        return tree_bytes(out)

    assert run("loose", 1 << 40) == run("tight", 5000)


def test_band_plan_invariants_hypothesis():
    """Property sweep of the capped band plan over arbitrary
    geometries (tiny planes, z < cz, single-pixel widths, all dtypes):
    the plan must always (1) floor per_band and per_xt at 1, (2) cover
    every y chunk row and every x chunk column exactly once (no empty
    trailing band or tile), (3) keep the band buffer within its
    budget — the envelope less one decoded span, but at least 1/16 of
    a z-slab — whenever a 1×1-chunk tile fits it, (4) keep whole-width
    bands whenever a one-chunk-row full-width band fits the budget,
    (5) never produce MORE bands than chunk rows or tiles than chunk
    columns, nor more than ceil(parallelism / slabs) bands unless the
    budget forces them, and (6) give every band it narrowed below the
    parallelism target, and every full tile when it splits along X,
    more than half the budget, so the group count (and with it the
    slices' re-decodes) stays within twice what the budget forces."""
    from unittest import mock

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aind_smartspim_data_transformation_spark.imaging import fused

    @settings(max_examples=300, deadline=None)
    @given(
        z=st.integers(1, 4096),
        y=st.integers(1, 8192),
        x=st.integers(1, 8192),
        cz=st.integers(1, 256),
        cy=st.integers(1, 256),
        cx=st.integers(1, 256),
        par=st.integers(1, 64),
        dtype=st.sampled_from(["uint8", "uint16", "float32"]),
        cap=st.integers(1, 1 << 30),
    )
    def check(z, y, x, cz, cy, cx, par, dtype, cap):
        geo = [
            {"channel": "C", "stack": "s0", "z": z, "y": y, "x": x,
             "dtype": dtype}
        ]
        with mock.patch.object(fused, "FUSED_MAX_TASK_BYTES", cap):
            plan = fused._band_plan(geo, [cz, cy, cx], par)
        nb, per_band, n_xt, per_xt = plan[("C", "s0")]
        n_cy, n_cx = -(-y // cy), -(-x // cx)
        assert per_band >= 1 and per_xt >= 1
        assert nb == -(-n_cy // per_band)  # no empty trailing bands
        assert nb <= n_cy
        assert n_xt <= n_cx
        # the x-tiles [xt·per_xt, (xt+1)·per_xt) cover each column once
        cols = [
            c
            for xt in range(n_xt)
            for c in range(xt * per_xt, min((xt + 1) * per_xt, n_cx))
        ]
        assert cols == list(range(n_cx))
        item = np.dtype(dtype).itemsize
        zz = min(cz, z)
        budget = max(cap - y * x * item, zz * y * x * item // 16)
        if zz * cy * x * item <= budget:
            assert n_xt == 1
        one_tile = zz * min(cy, y) * min(cx, x) * item
        band_rows = min(per_band * cy, y)
        tile_cols = min(per_xt * cx, x)
        worst = zz * band_rows * tile_cols * item
        if worst > budget:
            # the budget was missed — only legal when even a
            # 1×1-chunk tile cannot fit it
            assert per_band == 1 and per_xt == 1 and one_tile > budget
        want = -(-par // -(-z // cz))
        # at most ceil(parallelism / slabs) bands unless the budget
        # forces more
        assert nb <= want or per_band == 1 or (
            zz * (per_band + 1) * cy * x * item > budget
        )
        if per_band < -(-n_cy // min(want, n_cy)):
            assert zz * per_band * cy * x * item > budget // 2
        if n_xt > 1:
            assert zz * per_band * cy * per_xt * cx * item > budget // 2

    check()


def test_band_plan_giant_plane_splits_in_x():
    """A plane too wide for even a one-chunk-row band splits its bands
    along X: 1024 × 32768 × 256 uint16 at 128³ chunks plans 8 one-row
    bands of 2 tiles × 128 chunk columns.  The envelope less the span
    (192 MiB) would split each slab into ~22 groups, every one
    re-decoding its slices' rows; the buffer gets 1/16 of a slab
    (512 MiB) instead, so a slab is 16 groups."""
    from aind_smartspim_data_transformation_spark.imaging.fused import (
        FUSED_MAX_TASK_BYTES,
        _band_plan,
    )

    geo = [
        {"channel": "C", "stack": "s0", "z": 256, "y": 1024, "x": 32768,
         "dtype": "uint16"}
    ]
    span = 1024 * 32768 * 2
    plan = _band_plan(geo, [128, 128, 128], 32)
    assert plan[("C", "s0")] == (8, 1, 2, 128)
    # full width: 128·128·32768·2 = 1 GiB, over the envelope alone
    assert 128 * 128 * 32768 * 2 > FUSED_MAX_TASK_BYTES
    # one tile: exactly 1/16 of a 128-slice slab
    assert 128 * 128 * 128 * 128 * 2 == 128 * span // 16
    assert 128 * span // 16 > FUSED_MAX_TASK_BYTES - span


def test_band_plan_giant_span_bounds_groups_per_slab():
    """Planes whose envelope fit would need hundreds of band groups per
    slab.  A 16384² uint16 span (512 MiB) alone exceeds the 256 MiB
    envelope: at 8 slices the plan keeps full-width bands of 1/16 of
    the slab, 16 groups per slab on 4 cores (32 on 32 cores, from the
    parallelism target) — not 8,192 groups of one chunk each.  8192² ×
    256 at 128³ keeps full-width 4-row bands, 16 groups per slab on 4
    and on 32 cores, not 128 x-tiled ones."""
    from aind_smartspim_data_transformation_spark.imaging.fused import (
        _band_plan,
    )

    def plan(z, y, x, par):
        geo = [{"channel": "C", "stack": "s0", "z": z, "y": y, "x": x,
                "dtype": "uint16"}]
        return _band_plan(geo, [128, 128, 128], par)[("C", "s0")]

    assert plan(8, 16384, 16384, 4) == (16, 8, 1, 128)
    # one band of 8 chunk rows: 1/16 of the 8-slice slab
    assert 8 * 8 * 128 * 16384 * 2 == 8 * 16384 * 16384 * 2 // 16
    assert plan(8, 16384, 16384, 32) == (32, 4, 1, 128)
    assert plan(256, 8192, 8192, 4) == (16, 4, 1, 64)
    assert plan(256, 8192, 8192, 32) == (16, 4, 1, 64)


def test_band_plan_decodes_per_slice():
    """A band group inflates its slices' PNG rows from the top to its
    band's end, so the plan's decodes per slice are the groups' band
    ends summed over slices × height.  Pinned on perfbench's
    ``imaging_ingest`` geometry (4 stacks × 8 × 1600 × 2000 uint16) and
    on one 128-deep slab of the same plane, at 128³ chunks.  One deep
    slab on 16 cores plans 13 one-row groups: their extra decodes run
    on cores that would otherwise sit idle, and the critical path stays
    one full-plane decode plus one chunk row."""
    from aind_smartspim_data_transformation_spark.imaging.fused import (
        _band_plan,
    )

    def decodes(n_stacks, z, par):
        geo = [{"channel": "C", "stack": f"s{i}", "z": z, "y": 1600,
                "x": 2000, "dtype": "uint16"} for i in range(n_stacks)]
        plan = _band_plan(geo, [128, 128, 128], par)
        rows = groups = 0
        for g in geo:
            nb, per_band, n_xt, _ = plan[(g["channel"], g["stack"])]
            ends = sum(min((b + 1) * per_band * 128, g["y"]) for b in range(nb))
            rows += g["z"] * n_xt * ends
            groups += nb * n_xt
        return round(rows / sum(g["z"] * g["y"] for g in geo), 2), groups // n_stacks

    assert decodes(4, 8, 4) == (1.0, 1)  # one band per slab
    assert decodes(4, 8, 8) == (1.56, 2)
    assert decodes(4, 8, 32) == (4.36, 7)
    assert decodes(1, 128, 4) == (3.4, 5)  # the envelope narrows bands
    assert decodes(1, 128, 16) == (7.24, 13)


def test_band_plan_span_over_cap_ingests(spark, tmp_path, monkeypatch):
    """A plane whose decoded span ALONE exceeds the envelope: the band
    buffer gets 1/16 of the slab, so each slab splits into 8 two-column
    tiles, and the job still writes the numpy oracle's store."""
    from aind_smartspim_data_transformation_spark.imaging import fused

    root = tmp_path / "ds"
    rng = np.random.default_rng(5)
    vol = rng.integers(0, 65535, size=(6, 8, 64)).astype(np.uint16)
    ch, stack = make_stack(root, vol)
    # span 1,024 B > 1,000 B envelope; a 2-slice slab is 2,048 B, so
    # the budget is 128 B: two chunk columns of a one-row band
    # (2·4·4·2 B each) per tile
    monkeypatch.setattr(fused, "FUSED_MAX_TASK_BYTES", 1000)
    geo = fused.probe_stack_geometry(spark, str(root / "SmartSPIM"))
    assert fused._band_plan(geo, [2, 4, 4], 32)[(ch, stack)] == (2, 1, 8, 2)
    job_store(spark, root, tmp_path / "out", [2, 4, 4], 2)
    assert_pyramid(f"{tmp_path}/out/{ch}/{stack}.ome.zarr", vol, 2)


@pytest.mark.parametrize("on_error", ["fail", "quarantine"])
def test_fused_x_tiled_ingest_matches_oracle(spark, tmp_path, monkeypatch, on_error):
    """End to end at an n_xt > 1 plan (envelope lowered): a mixed
    PNG/TIFF stack of 10 slices × 12 × 20 at chunk 4³ splits into
    3 x-tiles of 2, 2 and 1 chunk columns.  The store equals the numpy
    oracle at every level; in quarantine mode a corrupt slice, decoded
    by every band and tile of its slab, is one dead letter and one zero
    plane."""
    from aind_smartspim_data_transformation_spark.imaging import fused
    from aind_smartspim_data_transformation_spark.sources.png_codec import (
        encode_png_gray,
    )
    from aind_smartspim_data_transformation_spark.sources.tiff_codec import (
        encode_tiff_gray,
    )

    def encode(z, plane):
        if z % 3 == 1:
            return encode_tiff_gray(plane, compression=8, rows_per_strip=4)
        return encode_png_gray(plane)

    root = tmp_path / "ds"
    rng = np.random.default_rng(19)
    vol = rng.integers(0, 65535, size=(10, 12, 20)).astype(np.uint16)
    ch, stack = make_stack(root, vol, encode)
    expect = vol.copy()
    if on_error == "quarantine":
        bad = next((root / "SmartSPIM").rglob("000005.png"))
        bad.write_bytes(b"\x89PNG\r\n\x1a\n" + b"\x00" * 40)
        expect[5] = 0
    # 480 B span; a one-chunk-row band costs 32 B per column, so 800 B
    # leaves (800 − 480) // 128 = 2 columns per tile
    monkeypatch.setattr(fused, "FUSED_MAX_TASK_BYTES", 800)
    geo = fused.probe_stack_geometry(spark, str(root / "SmartSPIM"))
    assert fused._band_plan(geo, [4, 4, 4], 32)[(ch, stack)][1:] == (1, 3, 2)
    _, resp = job_store(spark, root, tmp_path / "out", [4, 4, 4], 3, on_error)
    assert_pyramid(f"{tmp_path}/out/{ch}/{stack}.ome.zarr", expect, 3)
    assert resp["metrics"]["n_chunks"] == 3 * 3 * 5  # slabs × rows × cols
    if on_error == "quarantine":
        dead = resp["metrics"]["dead_letters"]
        assert [(d["stack"], d["z"]) for d in dead] == [(stack, 5)]
