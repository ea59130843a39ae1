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
from tests.imaging_fixtures import make_dataset


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
    """All THREE ingest paths — fused (the round-6 default), the
    DataSource scan, and the UDF pipeline — must produce byte-identical
    zarr stores through the FULL job (chunk bytes AND metadata JSON),
    and 'auto' must actually pick the fused path at this geometry."""
    root = tmp_path / "ds"
    make_dataset(root, height=24, width=28)

    def run(ingest: str) -> tuple[dict[str, bytes], dict]:
        out = tmp_path / f"out_{ingest}"
        resp = run_imaging_job(
            spark,
            ImagingJobSettings(
                input_source=str(root),
                output_directory=str(out),
                chunk_size=[64, 64, 64],
                downsample_levels=2,
                ingest=ingest,
            ),
        )
        assert resp["status_code"] == 200
        return {
            str(p.relative_to(out)): p.read_bytes()
            for p in sorted(out.rglob("*"))
            if p.is_file()
        }, resp

    (ds, ds_resp), (udf, _), (fused, fused_resp) = (
        run("datasource"), run("udf"), run("fused")
    )
    assert ds == udf
    assert fused == ds
    # metrics contract parity: fused reports the same ingest accounting
    # VALUES the chunk-table job's Observation produces (level-0 chunk
    # count and raw unpadded bytes)
    assert fused_resp["metrics"] == ds_resp["metrics"]
    assert set(fused_resp["metrics"]) == {"n_chunks", "chunk_bytes"}
    # 'auto' takes the fused path at this (tiny) geometry
    (auto, auto_resp) = run("auto")
    assert auto == fused
    assert auto_resp["route"] == "fused"
    # the availability gate: this pyspark has the DataSource API
    assert hasattr(spark, "dataSource")


def test_append_z_slab_equals_one_shot(spark, tmp_path):
    """Incremental acquisition: slab A written, slab B appended later
    (each slab's pyramid computed independently) reassembles to exactly
    the one-shot store of the full stack, at every level; a third
    append with a mismatched plane is refused."""
    import numpy as np

    from aind_smartspim_data_transformation_spark.imaging.pyramid import (
        build_pyramid,
    )
    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
        append_ome_zarr_z,
        read_zarr_level,
        write_ome_zarr_all,
    )
    from aind_smartspim_data_transformation_spark.sources.png_codec import (
        encode_png_gray,
    )
    from aind_smartspim_data_transformation_spark.sources.stack_reader import (
        read_stack_tree,
    )

    rng = np.random.default_rng(11)
    full = rng.integers(0, 65535, size=(8, 32, 40), dtype=np.uint16)

    def write_tree(root, planes, z0):
        d = root / "SmartSPIM" / "Ex_488_Em_525" / "400000" / "400000_500000"
        d.mkdir(parents=True)
        for i, img in enumerate(planes):
            (d / f"{z0 + i:06d}.png").write_bytes(encode_png_gray(img))

    roots = {k: tmp_path / k for k in ("a", "b", "full")}
    write_tree(roots["a"], full[:4], 0)
    write_tree(roots["b"], full[4:], 4)  # names continue; z is slab-local
    write_tree(roots["full"], full, 0)

    def pyramid(root):
        chunks = read_stack_tree(spark, str(root / "SmartSPIM"), chunk_z=64)
        return build_pyramid(chunks, (2, 2, 2), 2, chunk_zyx=[64, 64, 64])

    kw = dict(
        voxel_size_zyx=[2.0, 1.8, 1.8],
        scale_factor_zyx=[2, 2, 2],
        chunk_zyx=[64, 64, 64],
    )
    [group] = write_ome_zarr_all(pyramid(roots["a"]), str(tmp_path / "inc"), **kw)
    append_ome_zarr_z(pyramid(roots["b"]), group)
    [one_shot] = write_ome_zarr_all(
        pyramid(roots["full"]), str(tmp_path / "oneshot"), **kw
    )
    for lvl in (0, 1):
        np.testing.assert_array_equal(
            read_zarr_level(group, lvl), read_zarr_level(one_shot, lvl)
        )
    # level-0 equals the source exactly
    np.testing.assert_array_equal(read_zarr_level(group, 0), full)

    # refusal: a slab with the wrong plane size must not corrupt
    bad = tmp_path / "bad"
    write_tree(bad, rng.integers(0, 9, size=(2, 16, 40), dtype=np.uint16), 0)
    with pytest.raises(ValueError, match="plane"):
        append_ome_zarr_z(pyramid(bad), group)

    # refusal: an ODD slab depth would finalize a truncated boundary
    # window (level-1 would diverge from the one-shot pyramid)
    odd = tmp_path / "odd"
    write_tree(odd, rng.integers(0, 9, size=(3, 32, 40), dtype=np.uint16), 0)
    with pytest.raises(ValueError, match="truncated"):
        append_ome_zarr_z(pyramid(odd), group)


def test_append_refuses_shallow_slab_and_chunk_mismatch(spark, tmp_path):
    """Round-5 self-review regressions: (1) a slab shallower than
    factor**(n_levels-1) must be refused (its deepest levels finalize
    truncated windows — the extent-ratio check alone cannot see this
    once an extent hits 1); (2) a slab whose z-chunking differs from
    the store's must be refused with the store's chunk size named, and
    re-chunking to that size must succeed."""
    import numpy as np

    from aind_smartspim_data_transformation_spark.imaging.pyramid import (
        build_pyramid,
    )
    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
        append_ome_zarr_z,
        read_zarr_level,
        write_ome_zarr_all,
    )
    from aind_smartspim_data_transformation_spark.sources.png_codec import (
        encode_png_gray,
    )
    from aind_smartspim_data_transformation_spark.sources.stack_reader import (
        read_stack_tree,
    )

    rng = np.random.default_rng(3)

    def tree(name, planes):
        root = tmp_path / name
        d = root / "SmartSPIM" / "Ex_488_Em_525" / "400000" / "400000_500000"
        d.mkdir(parents=True)
        for i, img in enumerate(planes):
            (d / f"{i:06d}.png").write_bytes(encode_png_gray(img))
        return root

    def pyr(root, n_levels, chunk_z=64):
        chunks = read_stack_tree(spark, str(root / "SmartSPIM"), chunk_z=chunk_z)
        return build_pyramid(chunks, (2, 2, 2), n_levels, chunk_zyx=[64, 64, 64])

    kw = dict(
        voxel_size_zyx=[2.0, 1.8, 1.8],
        scale_factor_zyx=[2, 2, 2],
        chunk_zyx=[64, 64, 64],
    )
    full8 = rng.integers(0, 65535, size=(8, 16, 20), dtype=np.uint16)
    [group] = write_ome_zarr_all(
        pyr(tree("base", full8), 3), str(tmp_path / "s3"), **kw
    )
    # (1) 2-deep slab into a 3-level store: level extents [2,1,1] — the
    # old slab-ratio check passed this; the store-ladder check must not
    shallow = tree("shallow", rng.integers(0, 9, size=(2, 16, 20), dtype=np.uint16))
    with pytest.raises(ValueError, match="truncated"):
        append_ome_zarr_z(pyr(shallow, 3), group)

    # (2) store whose z-chunk was clamped by a 4-deep first wave; the
    # second wave is DEEPER (8 planes), so its single 8-deep chunk
    # cannot land on the store's 4-plane grid
    full12 = np.concatenate([full8, rng.integers(0, 65535, size=(4, 16, 20), dtype=np.uint16)])
    [g2] = write_ome_zarr_all(
        pyr(tree("w1", full12[:4]), 2), str(tmp_path / "clamped"), **kw
    )
    w2 = tree("w2", full12[4:])
    with pytest.raises(ValueError, match="chunk_z=4"):
        append_ome_zarr_z(pyr(w2, 2), g2)  # slab chunk dz=8 != store 4
    append_ome_zarr_z(pyr(w2, 2, chunk_z=4), g2)  # re-chunked: fine
    np.testing.assert_array_equal(read_zarr_level(g2, 0), full12)


def test_append_crash_fence_and_roll_forward(spark, tmp_path, monkeypatch):
    """Advisor r6: a crash mid-append must leave a DETECTABLE state
    (the .zattrs append fence) and a retry with the same slab must
    roll forward to exactly the one-shot store — never double-append.
    Crash points exercised: (a) after the fence but before any level
    commits, (b) after level 0 commits but before level 1.  A retry
    with a DIFFERENT slab against a fenced store must refuse."""
    from aind_smartspim_data_transformation_spark.imaging import zarr_sink
    from aind_smartspim_data_transformation_spark.imaging.pyramid import (
        build_pyramid,
    )
    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
        append_ome_zarr_z,
        write_ome_zarr_all,
    )
    from aind_smartspim_data_transformation_spark.sources.png_codec import (
        encode_png_gray,
    )
    from aind_smartspim_data_transformation_spark.sources.stack_reader import (
        read_stack_tree,
    )

    rng = np.random.default_rng(29)
    full = rng.integers(0, 65535, size=(8, 16, 20), dtype=np.uint16)

    def tree(name, planes, z0=0):
        root = tmp_path / name
        d = root / "SmartSPIM" / "Ex_488_Em_525" / "400000" / "400000_500000"
        d.mkdir(parents=True)
        for i, img in enumerate(planes):
            (d / f"{z0 + i:06d}.png").write_bytes(encode_png_gray(img))
        return root

    def pyr(root):
        chunks = read_stack_tree(spark, str(root / "SmartSPIM"), chunk_z=64)
        return build_pyramid(chunks, (2, 2, 2), 2, chunk_zyx=[64, 64, 64])

    kw = dict(
        voxel_size_zyx=[2.0, 1.8, 1.8],
        scale_factor_zyx=[2, 2, 2],
        chunk_zyx=[64, 64, 64],
    )
    slab_a, slab_b = tree("a", full[:4]), tree("b", full[4:], 4)
    slab_c = tree("c", full[:2])  # different DEPTH: fence must refuse it
    [one_shot] = write_ome_zarr_all(
        pyr(tree("full", full)), str(tmp_path / "oneshot"), **kw
    )

    real_write_json = zarr_sink._write_json

    def run_crash_at(nth_zarray_write: int) -> str:
        """Fresh store from slab A, then append slab B crashing at the
        nth .zarray write; returns the group path."""
        dest = tmp_path / f"crash{nth_zarray_write}"
        [group] = write_ome_zarr_all(pyr(slab_a), str(dest), **kw)
        seen = {"n": 0}

        def exploding(path, obj):
            if path.endswith("/.zarray"):
                seen["n"] += 1
                if seen["n"] == nth_zarray_write:
                    raise OSError("simulated crash mid-append")
            return real_write_json(path, obj)

        monkeypatch.setattr(zarr_sink, "_write_json", exploding)
        with pytest.raises(OSError, match="simulated crash"):
            append_ome_zarr_z(pyr(slab_b), group)
        monkeypatch.setattr(zarr_sink, "_write_json", real_write_json)
        return group

    for crash_at in (1, 2):
        group = run_crash_at(crash_at)
        # partial state is detectable: the fence survives the crash
        from pathlib import Path

        attrs = json.loads(Path(group, ".zattrs").read_text())
        assert "append_in_progress" in attrs
        # a different-GEOMETRY slab must be refused while the fence is
        # up (same-geometry slabs are indistinguishable by design — the
        # fence pins extents, not content)
        with pytest.raises(ValueError, match="crashed midway"):
            append_ome_zarr_z(pyr(slab_c), group)
        # retry with the SAME slab rolls forward to the one-shot store
        append_ome_zarr_z(pyr(slab_b), group)
        for lvl in (0, 1):
            np.testing.assert_array_equal(
                zarr_sink.read_zarr_level(group, lvl),
                zarr_sink.read_zarr_level(one_shot, lvl),
            )
        attrs = json.loads(Path(group, ".zattrs").read_text())
        assert "append_in_progress" not in attrs


def test_fused_multi_slab_store_identical(spark, tmp_path):
    """Multi-z-slab geometry through the FUSED path: 10 slices at
    chunk_z=4 → 3 slabs (partial last), 3 y chunk-rows → multiple
    bands.  The fused store must be byte-identical to the chunk-table
    pipeline's, and level data must equal the numpy windowed-mean
    oracle — this covers the slab/band boundary arithmetic the 2-slice
    fixture never reaches (pair windows falling ON slab boundaries,
    edge-chunk padding in the partial slab)."""
    from aind_smartspim_data_transformation_spark.sources.png_codec import (
        encode_png_gray,
    )

    root = tmp_path / "ds"
    ch, col, stack = "Ex_445_Em_469", "432380", "432380_504340"
    d = root / "SmartSPIM" / ch / col / stack
    d.mkdir(parents=True)
    rng = np.random.default_rng(7)
    vol = rng.integers(0, 65535, size=(10, 12, 16)).astype(np.uint16)
    for z in range(10):
        (d / f"{z:06d}.png").write_bytes(encode_png_gray(vol[z]))
    (root / "derivatives").mkdir()
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

    def run(ingest):
        out = tmp_path / f"out_{ingest}"
        resp = run_imaging_job(
            spark,
            ImagingJobSettings(
                input_source=str(root),
                output_directory=str(out),
                chunk_size=[4, 4, 4],
                downsample_levels=3,
                ingest=ingest,
            ),
        )
        assert resp["status_code"] == 200
        return out, {
            str(p.relative_to(out)): p.read_bytes()
            for p in sorted(out.rglob("*"))
            if p.is_file()
        }

    (out_f, fused), (_, ds) = run("fused"), run("datasource")
    assert fused == ds
    # numpy oracle at every level
    g = f"{out_f}/{ch}/{stack}.ome.zarr"
    expect = vol
    for lvl in range(3):
        assert np.array_equal(read_zarr_level(g, lvl), expect)
        expect = windowed_mean(expect, (2, 2, 2))


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
        return run_imaging_job(
            spark,
            ImagingJobSettings(
                input_source=str(root),
                output_directory=str(out),
                chunk_size=[8, 8, 8],
                downsample_levels=2,
                ingest="fused",
            ),
        )

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
    Store must equal the chunk-table pipeline's and the numpy oracle."""
    from aind_smartspim_data_transformation_spark.sources.png_codec import (
        encode_png_gray,
    )
    from aind_smartspim_data_transformation_spark.sources.tiff_codec import (
        encode_tiff_gray,
    )

    root = tmp_path / "ds"
    ch, col, stack = "Ex_445_Em_469", "432380", "432380_504340"
    d = root / "SmartSPIM" / ch / col / stack
    d.mkdir(parents=True)
    rng = np.random.default_rng(11)
    vol = rng.integers(0, 65535, size=(6, 12, 16)).astype(np.uint16)
    for z in range(6):
        if z % 2:  # extension stays .png — content sniffing must win
            (d / f"{z:06d}.png").write_bytes(
                encode_tiff_gray(vol[z], compression=8, rows_per_strip=4)
            )
        else:
            (d / f"{z:06d}.png").write_bytes(encode_png_gray(vol[z]))
    (root / "derivatives").mkdir()
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

    def run(ingest):
        out = tmp_path / f"out_{ingest}"
        resp = run_imaging_job(
            spark,
            ImagingJobSettings(
                input_source=str(root),
                output_directory=str(out),
                chunk_size=[4, 4, 4],
                downsample_levels=2,
                ingest=ingest,
            ),
        )
        assert resp["status_code"] == 200
        return out, {
            str(p.relative_to(out)): p.read_bytes()
            for p in sorted(out.rglob("*"))
            if p.is_file()
        }

    (out_f, fused), (_, ds) = run("fused"), run("datasource")
    assert fused == ds
    g = f"{out_f}/{ch}/{stack}.ome.zarr"
    expect = vol
    for lvl in range(2):
        assert np.array_equal(read_zarr_level(g, lvl), expect)
        expect = windowed_mean(expect, (2, 2, 2))


def test_fused_even_band_count_folds_pairwise(spark, tmp_path):
    """16 y-rows at chunk 4 → 4 bands → folds {0,3} and {1,2}: every
    task is a PAIR (no middle singleton) — covers the two-band decode
    and buffer routing for even band counts.  Store must equal the
    chunk-table pipeline's and the numpy oracle."""
    from aind_smartspim_data_transformation_spark.sources.png_codec import (
        encode_png_gray,
    )

    root = tmp_path / "ds"
    ch, col, stack = "Ex_445_Em_469", "432380", "432380_504340"
    d = root / "SmartSPIM" / ch / col / stack
    d.mkdir(parents=True)
    rng = np.random.default_rng(13)
    vol = rng.integers(0, 65535, size=(4, 16, 8)).astype(np.uint16)
    for z in range(4):
        (d / f"{z:06d}.png").write_bytes(encode_png_gray(vol[z]))
    (root / "derivatives").mkdir()
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
    from aind_smartspim_data_transformation_spark.imaging.fused import (
        _band_plan,
        probe_stack_geometry,
    )

    geo = probe_stack_geometry(spark, str(root))
    nb, per_band = _band_plan(geo, [4, 4, 4], 32)[(ch, f"{col}_504340")]
    assert nb == 4 and per_band == 1  # the even-fold shape this pins

    def run(ingest):
        out = tmp_path / f"out_{ingest}"
        resp = run_imaging_job(
            spark,
            ImagingJobSettings(
                input_source=str(root),
                output_directory=str(out),
                chunk_size=[4, 4, 4],
                downsample_levels=2,
                ingest=ingest,
            ),
        )
        assert resp["status_code"] == 200
        return out, {
            str(p.relative_to(out)): p.read_bytes()
            for p in sorted(out.rglob("*"))
            if p.is_file()
        }

    (out_f, fused), (_, ds) = run("fused"), run("datasource")
    assert fused == ds
    g = f"{out_f}/{ch}/{stack}.ome.zarr"
    expect = vol
    for lvl in range(2):
        assert np.array_equal(read_zarr_level(g, lvl), expect)
        expect = windowed_mean(expect, (2, 2, 2))


def test_fused_mid_job_kill_resume_skips_completed_bands(spark, tmp_path):
    """VERDICT r7 ask #3 done-criterion: a fused job killed mid-flight
    leaves per-band completion markers; the rerun SKIPS the completed
    bands (proven by their chunk files' mtimes never changing across
    the resume) and finalizes a store byte-identical to an
    uninterrupted build, with the metrics contract intact."""
    from aind_smartspim_data_transformation_spark.imaging.fused import (
        _PROGRESS_DIRNAME,
        _band_plan,
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
    nb, per_band = plan[(ch, stack)]
    n_slabs, n_cy, n_cx = 3, 3, 4
    all_keys = {
        (ch, stack, slab, fold)
        for slab in range(n_slabs)
        for fold in range((nb + 1) // 2)
    }
    fail_key = (ch, stack, 0, 0)

    out = tmp_path / "out"
    with pytest.raises(Exception, match="failpoint_fail_key"):
        run_fused_ingest(
            spark, str(root), str(out), **args, failpoint_fail_key=fail_key
        )

    # metadata-last held: the killed target must not parse as a store
    assert not list(out.rglob(".zattrs")) and not list(out.rglob(".zarray"))
    # every band but the failpointed one completed (the failpoint waits
    # for the siblings' markers before raising)
    pdir = out / _PROGRESS_DIRNAME
    markers = {
        tuple(json.loads(p.read_text())["key"]): json.loads(p.read_text())
        for p in pdir.glob("*.json")
    }
    assert set(markers) == all_keys - {fail_key}

    # the chunk files each completed band owns, with their mtimes
    def band_files(slab, fold):
        cys = []
        for b in sorted({fold, nb - 1 - fold}):
            cys.extend(
                range(b * per_band, min((b + 1) * per_band, n_cy))
            )
        return [
            out / ch / f"{stack}.ome.zarr" / str(lvl) / "0" / "0"
            / str(slab) / str(cy) / str(cx)
            for lvl in range(3)
            for cy in cys
            for cx in range(n_cx)
        ]

    before = {}
    for (_, _, slab, fold) in markers:
        for p in band_files(slab, fold):
            assert p.is_file(), f"completed band missing chunk {p}"
            before[p] = p.stat().st_mtime_ns

    # resume: no failpoint — only the one unfinished band runs
    _, metrics = run_fused_ingest(spark, str(root), str(out), **args)
    assert not pdir.exists()  # progress retired after the finalize
    assert snap(out) == snap(fresh)
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
        _make_codec,
    )

    geo = [{"channel": ch, "stack": stack, "z": 4, "y": 8, "x": 8,
            "dtype": "uint16"}]
    codec_meta, _ = _make_codec("zlib", None)
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


def test_fused_resume_after_input_edit_invalidates_markers(spark, tmp_path):
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
    # crash AFTER slab 1 (the corrupt band) completes: fail slab 0
    fail_key = (ch, stack, 0, 0)
    with pytest.raises(Exception, match="failpoint_fail_key"):
        run_fused_ingest(
            spark, str(root), str(out), **args, failpoint_fail_key=fail_key
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


def test_auto_routing_boundary_on_task_budget(spark, tmp_path, monkeypatch):
    """VERDICT r8 ask #5 (auto-routing half): 'auto' must take the
    fused path when the probed per-task band buffer fits
    FUSED_MAX_TASK_BYTES EXACTLY, and fall back to the chunk-table
    pipeline one byte past it — with byte-identical stores either
    side of the boundary (the budget changes the ROUTE, never the
    output).  tools/fused_memory_probe.py measures the same boundary
    at a bigger geometry (wall + peak tree RSS, SCALE.md §6g)."""
    from aind_smartspim_data_transformation_spark.imaging import fused

    root = tmp_path / "ds"
    make_dataset(root, height=24, width=28)
    geo = fused.probe_stack_geometry(spark, f"{root}/SmartSPIM")
    task_bytes = fused.fused_task_bytes(
        geo, [64, 64, 64], spark.sparkContext.defaultParallelism
    )

    def run(tag: str, cap: int):
        monkeypatch.setattr(fused, "FUSED_MAX_TASK_BYTES", cap)
        out = tmp_path / f"out_{tag}"
        resp = run_imaging_job(
            spark,
            ImagingJobSettings(
                input_source=str(root),
                output_directory=str(out),
                chunk_size=[64, 64, 64],
                downsample_levels=2,
                ingest="auto",
            ),
        )
        assert resp["status_code"] == 200
        return {
            str(p.relative_to(out)): p.read_bytes()
            for p in sorted(out.rglob("*"))
            if p.is_file()
        }, resp

    at, at_resp = run("at", task_bytes)          # fits exactly → fused
    over, over_resp = run("over", task_bytes - 1)  # one byte short → fallback
    assert at_resp["route"] == "fused"
    assert over_resp["route"] != "fused"
    assert at == over  # the route never changes the bytes


def test_band_plan_shrinks_to_memory_envelope():
    """r11 (SCALE.md §6m): a deep acquisition must NARROW its bands to
    fit the per-task envelope, not tip the whole job off the fused
    path.  This is the measured regression geometry — 4 stacks × 320
    slices of 2000×1600 uint16 at 128³ chunks: the want-derived plan
    picks 2-chunk-row bands whose folded buffers overshoot 256 MiB by
    ~0.04%, and before the cap the auto route fell back to the
    chunk-table pipeline at half the fused throughput."""
    from aind_smartspim_data_transformation_spark.imaging.fused import (
        FUSED_MAX_TASK_BYTES,
        _band_plan,
        fused_task_bytes,
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
    plan = _band_plan(geo, chunk, 32)
    nb, per_band = plan[("Ex_445_Em_469", "s0")]
    assert per_band == 1, "cap must shrink the 2-chunk-row band"
    assert nb == 13  # ceil(1600 / 128)
    # and the reported worst case now fits, so auto stays fused
    assert fused_task_bytes(geo, chunk, 32) <= FUSED_MAX_TASK_BYTES

    # uncapped want-derived plan (the pre-r11 shape) for contrast:
    # 12 slabs → want 10 → 2-chunk-row bands → 268.5 MB task > cap
    loose = _band_plan(geo, chunk, 32, max_task_bytes=1 << 40)
    assert loose[("Ex_445_Em_469", "s0")] == (7, 2)

    # ADVICE r11: the probe must size the SAME plan a custom-envelope
    # caller would execute — fused_task_bytes(max_task_bytes=X) sizes
    # _band_plan(max_task_bytes=X), so the uncapped probe reports the
    # loose plan's overshoot while the default probe reports the fit.
    assert fused_task_bytes(geo, chunk, 32, max_task_bytes=1 << 40) > (
        FUSED_MAX_TASK_BYTES
    )


def test_band_plan_cap_never_changes_store_bytes(
    spark, tmp_path, monkeypatch
):
    """The envelope cap changes the BAND SPLIT, never the output: the
    same acquisition written under a cap that forces 1-chunk-row bands
    must be byte-identical to the uncapped plan.  Geometry chosen so
    the cap actually binds (height 80 / cy 4 → n_cy 20, want-derived
    bands of 5 chunk rows uncapped; cap 6000 B → pb_cap 1, and the
    capped 1-row task (5376 B) still fits, so both runs stay fused)."""
    from aind_smartspim_data_transformation_spark.imaging import fused

    root = tmp_path / "ds"
    make_dataset(root, height=80, width=28)
    geo = fused.probe_stack_geometry(spark, f"{root}/SmartSPIM")
    P = spark.sparkContext.defaultParallelism
    loose = fused._band_plan(geo, [4, 4, 4], P, max_task_bytes=1 << 40)
    tight = fused._band_plan(geo, [4, 4, 4], P, max_task_bytes=6000)
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
                ingest="fused",
            ),
        )
        assert resp["status_code"] == 200
        assert resp["route"] == "fused"
        return {
            str(p.relative_to(out)): p.read_bytes()
            for p in sorted(out.rglob("*"))
            if p.is_file()
        }

    assert run("loose", 1 << 40) == run("tight", 6000)


def test_band_plan_invariants_hypothesis():
    """Property sweep of the capped band plan over arbitrary
    geometries (tiny planes, z < cz, single-pixel widths, all dtypes):
    the plan must always (1) floor per_band at 1, (2) cover every y
    chunk row exactly (no empty trailing band), (3) respect the
    envelope whenever a single-chunk-row band can — i.e.
    fused_task_bytes > cap implies even per_band=1 doesn't fit, and
    (4) never produce MORE bands than chunk rows."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aind_smartspim_data_transformation_spark.imaging.fused import (
        _band_plan,
    )

    @settings(max_examples=200, deadline=None)
    @given(
        z=st.integers(1, 4096),
        y=st.integers(1, 8192),
        x=st.integers(1, 8192),
        cz=st.integers(1, 256),
        cy=st.integers(1, 256),
        par=st.integers(1, 64),
        dtype=st.sampled_from(["uint8", "uint16", "float32"]),
        cap=st.integers(1, 1 << 30),
    )
    def check(z, y, x, cz, cy, par, dtype, cap):
        geo = [
            {"channel": "C", "stack": "s0", "z": z, "y": y, "x": x,
             "dtype": dtype}
        ]
        chunk = [cz, cy, 1]
        plan = _band_plan(geo, chunk, par, max_task_bytes=cap)
        nb, per_band = plan[("C", "s0")]
        n_cy = -(-y // cy)
        assert per_band >= 1
        assert nb == -(-n_cy // per_band)  # no empty trailing bands
        assert nb <= n_cy
        item = np.dtype(dtype).itemsize
        one_row = 2 * min(cz, z) * min(cy, y) * x * item + y * x * item
        band_rows = min(per_band * cy, y)
        capped_worst = 2 * min(cz, z) * band_rows * x * item + y * x * item
        if capped_worst > cap:
            # the envelope was missed — only legal when even a
            # single-chunk-row band cannot fit
            assert per_band == 1 and one_row > cap

    check()


def test_band_plan_giant_plane_still_falls_back():
    """Even single-chunk-row bands can't fit a wide-enough plane; the
    plan floors at per_band=1 and fused_task_bytes honestly exceeds
    the envelope — job.py's auto route must keep the chunk-table
    fallback for exactly this case."""
    from aind_smartspim_data_transformation_spark.imaging.fused import (
        FUSED_MAX_TASK_BYTES,
        _band_plan,
        fused_task_bytes,
    )

    geo = [
        {
            "channel": "C",
            "stack": "s0",
            "z": 256,
            "y": 4096,
            # one chunk row alone: 2·128·128·600k·2 ≈ 39 GB ≫ envelope
            "x": 600_000,
            "dtype": "uint16",
        }
    ]
    chunk = [128, 128, 128]
    plan = _band_plan(geo, chunk, 32)
    assert plan[("C", "s0")][1] == 1  # floored, never zero
    assert fused_task_bytes(geo, chunk, 32) > FUSED_MAX_TASK_BYTES
