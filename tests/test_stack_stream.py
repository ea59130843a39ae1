"""Incremental streaming ingest converges to the batch ingest.

Slices arrive in two waves; the file-source checkpoint must process
each file exactly once, and the accumulated chunk table must equal the
batch path run over the finished tree — including the reference
fixture's NON-dense filename stems (000000/000020, which make rank-z
and stem-z differ and so exercise the slice_key design).
"""

from __future__ import annotations

import numpy as np
import pytest

from aind_smartspim_data_transformation_spark.sources.png_codec import encode_png_gray
from aind_smartspim_data_transformation_spark.sources.stack_reader import (
    read_stack_tree,
)
from aind_smartspim_data_transformation_spark.streaming import stack_stream as ss


def _write_slice(root, channel, stack, stem, value, shape=(8, 10)):
    d = root / "SmartSPIM" / channel / stack.split("_")[0] / stack
    d.mkdir(parents=True, exist_ok=True)
    arr = np.full(shape, value, dtype=np.uint16)
    (d / f"{stem:06d}.png").write_bytes(encode_png_gray(arr))


def test_incremental_ingest_matches_batch(spark, tmp_path):
    root = tmp_path / "acq"
    out = str(tmp_path / "landed")
    ckpt = str(tmp_path / "ckpt")

    # wave 1: one stack, reference-style sparse stems
    _write_slice(root, "Ex_488_Em_525", "400000_500000", 0, 100)
    _write_slice(root, "Ex_488_Em_525", "400000_500000", 20, 200)
    ss.run_incremental_ingest(spark, str(root / "SmartSPIM"), out, ckpt)
    landed1 = spark.read.parquet(out)
    assert landed1.count() == 2

    # wave 2: a late slice for stack 1 + a brand-new stack
    _write_slice(root, "Ex_488_Em_525", "400000_500000", 40, 300)
    _write_slice(root, "Ex_488_Em_525", "400000_530000", 0, 400)
    ss.run_incremental_ingest(spark, str(root / "SmartSPIM"), out, ckpt)
    landed2 = spark.read.parquet(out)
    # exactly-once: wave-1 files were NOT re-decoded
    assert landed2.count() == 4
    assert landed2.select("stack", "slice_key").distinct().count() == 4

    # accumulated chunks == batch chunks over the finished tree
    stream_chunks = ss.accumulated_slices_to_chunks(spark, out, chunk_z=2)
    batch_chunks = read_stack_tree(spark, str(root / "SmartSPIM"), chunk_z=2)
    key = ["channel", "stack", "t", "c", "cz", "cy", "cx"]
    s_rows = sorted(
        (tuple(r[k] for k in key) + (r["dz"], r["dy"], r["dx"], r["dtype"], bytes(r["data"])))
        for r in stream_chunks.collect()
    )
    b_rows = sorted(
        (tuple(r[k] for k in key) + (r["dz"], r["dy"], r["dx"], r["dtype"], bytes(r["data"])))
        for r in batch_chunks.collect()
    )
    assert s_rows == b_rows


def test_stream_ingests_tiff_slices(spark, tmp_path):
    """The stream scan admits .tif and the decoder dispatches on magic
    bytes — a mixed PNG/TIFF wave lands identically to batch."""
    from aind_smartspim_data_transformation_spark.sources.tiff_codec import (
        encode_tiff_gray,
    )

    root = tmp_path / "acq"
    out = str(tmp_path / "landed")
    ckpt = str(tmp_path / "ckpt")
    d = root / "SmartSPIM" / "Ex_488_Em_525" / "400000" / "400000_500000"
    d.mkdir(parents=True)
    a = np.full((8, 10), 111, dtype=np.uint16)
    b = np.full((8, 10), 222, dtype=np.uint16)
    (d / "000000.png").write_bytes(encode_png_gray(a))
    (d / "000020.tif").write_bytes(encode_tiff_gray(b))
    ss.run_incremental_ingest(spark, str(root / "SmartSPIM"), out, ckpt)
    landed = spark.read.parquet(out)
    assert landed.count() == 2
    vals = {
        int(np.frombuffer(bytes(r["data"]), dtype=np.uint16)[0])
        for r in landed.collect()
    }
    assert vals == {111, 222}


def test_streamed_waves_append_into_one_zarr(spark, tmp_path):
    """The full incremental acquisition story: slices stream in over
    two waves; each wave's slab is assembled from the landed table and
    appended to ONE OME-Zarr store, which ends identical to a one-shot
    batch build of the finished acquisition."""
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

    rng = np.random.default_rng(5)
    full = rng.integers(0, 65535, size=(8, 16, 20), dtype=np.uint16)
    root = tmp_path / "acq"
    d = root / "SmartSPIM" / "Ex_488_Em_525" / "400000" / "400000_500000"
    d.mkdir(parents=True)
    out = str(tmp_path / "landed")
    ckpt = str(tmp_path / "ckpt")
    kw = dict(
        voxel_size_zyx=[2.0, 1.8, 1.8],
        scale_factor_zyx=[2, 2, 2],
        chunk_zyx=[64, 64, 64],
    )

    def pyr(chunks):
        return build_pyramid(chunks, (2, 2, 2), 2, chunk_zyx=[64, 64, 64])

    # wave 1: planes 0-3 arrive, stream lands them, store is created
    for z in range(4):
        (d / f"{z:06d}.png").write_bytes(encode_png_gray(full[z]))
    ss.run_incremental_ingest(spark, str(root / "SmartSPIM"), out, ckpt)
    slab = ss.landed_slab_chunks(spark, out, after_key=-1, chunk_z=64)
    [group] = write_ome_zarr_all(pyr(slab), str(tmp_path / "store"), **kw)

    # wave 2: planes 4-7 arrive later; only THEY are decoded + appended
    for z in range(4, 8):
        (d / f"{z:06d}.png").write_bytes(encode_png_gray(full[z]))
    ss.run_incremental_ingest(spark, str(root / "SmartSPIM"), out, ckpt)
    slab2 = ss.landed_slab_chunks(spark, out, after_key=3, chunk_z=64)
    append_ome_zarr_z(pyr(slab2), group)

    np.testing.assert_array_equal(read_zarr_level(group, 0), full)
    from aind_smartspim_data_transformation_spark.imaging.pyramid import (
        windowed_mean,
    )

    np.testing.assert_array_equal(
        read_zarr_level(group, 1), windowed_mean(full, (2, 2, 2))
    )


def test_writestream_smartspim_waves_equal_one_shot(spark, tmp_path):
    """writeStream.format('smartspim'): two waves through the streaming
    DataSource writer end ARRAY-identical at every level to a one-shot
    batch build of the finished acquisition — no foreachBatch glue, no
    landed table."""
    import numpy as np

    from aind_smartspim_data_transformation_spark.imaging.pyramid import (
        build_pyramid,
        windowed_mean,
    )
    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
        read_zarr_level,
    )
    from aind_smartspim_data_transformation_spark.sources.png_codec import (
        encode_png_gray,
    )

    rng = np.random.default_rng(11)
    full = {
        "400000_500000": rng.integers(0, 65535, size=(8, 16, 20), dtype=np.uint16),
        "400000_530000": rng.integers(0, 65535, size=(8, 16, 20), dtype=np.uint16),
    }
    root = tmp_path / "acq"
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    dirs = {}
    for stack in full:
        d = root / "SmartSPIM" / "Ex_488_Em_525" / "400000" / stack
        d.mkdir(parents=True)
        dirs[stack] = d

    # wave 1: planes 0-3 of both stacks; wave 2: planes 4-7
    for lo, hi in ((0, 4), (4, 8)):
        for stack, vol in full.items():
            for z in range(lo, hi):
                (dirs[stack] / f"{z:06d}.png").write_bytes(
                    encode_png_gray(vol[z])
                )
        ss.run_streaming_store_ingest(
            spark,
            str(root / "SmartSPIM"),
            store,
            ckpt,
            chunk_zyx=[64, 64, 64],
            n_levels=2,
        )

    for stack, vol in full.items():
        group = f"{store}/Ex_488_Em_525/{stack}.ome.zarr"
        np.testing.assert_array_equal(read_zarr_level(group, 0), vol)
        np.testing.assert_array_equal(
            read_zarr_level(group, 1), windowed_mean(vol, (2, 2, 2))
        )
    # stores parse cleanly: no fence, no staging leftovers
    import json

    for stack in full:
        attrs = json.loads(
            (tmp_path / "store" / "Ex_488_Em_525" / f"{stack}.ome.zarr" / ".zattrs").read_text()
        )
        assert "append_in_progress" not in attrs
    assert not (tmp_path / "store" / ".staging").exists() or not any(
        (tmp_path / "store" / ".staging").iterdir()
    )


def test_writestream_smartspim_crash_fence_roll_forward(spark, tmp_path):
    """Mid-stream kill: the SECOND wave's commit dies after level 0's
    shape commit (fence present, level 1 unpromoted — the
    ``failpoint_before_level`` fault injection; the streaming sink's
    commit runs in a detached Python worker a monkeypatch cannot
    reach).  Restarting the stream with the same checkpoint must ROLL
    FORWARD through the shared append transaction and end identical to
    an uninterrupted run."""
    import json

    import numpy as np

    from aind_smartspim_data_transformation_spark.imaging.pyramid import (
        windowed_mean,
    )
    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
        read_zarr_level,
    )
    from aind_smartspim_data_transformation_spark.sources.png_codec import (
        encode_png_gray,
    )

    rng = np.random.default_rng(13)
    vol = rng.integers(0, 65535, size=(8, 16, 20), dtype=np.uint16)
    root = tmp_path / "acq"
    d = root / "SmartSPIM" / "Ex_488_Em_525" / "400000" / "400000_500000"
    d.mkdir(parents=True)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    group = f"{store}/Ex_488_Em_525/400000_500000.ome.zarr"

    def ingest(**extra):
        ss.run_streaming_store_ingest(
            spark, str(root / "SmartSPIM"), store, ckpt,
            chunk_zyx=[64, 64, 64], n_levels=2,
            extra_options=extra or None,
        )

    for z in range(4):
        (d / f"{z:06d}.png").write_bytes(encode_png_gray(vol[z]))
    ingest()

    # wave 2 arrives; kill the commit right before level 1's promotion
    # (level 0's .zarray shape is committed, the fence is up)
    for z in range(4, 8):
        (d / f"{z:06d}.png").write_bytes(encode_png_gray(vol[z]))
    with pytest.raises(Exception, match="simulated crash"):
        ingest(failpoint_before_level="1")

    # detectable crash state: fence present, level-0 shape grown
    attrs = json.loads((tmp_path / "store" / "Ex_488_Em_525" /
                        "400000_500000.ome.zarr" / ".zattrs").read_text())
    assert attrs["append_in_progress"]["post_z"][0] == 8

    # restart with the SAME checkpoint: Spark replays the epoch, the
    # fence rolls forward, the store finishes identical to one-shot
    ingest()
    np.testing.assert_array_equal(read_zarr_level(group, 0), vol)
    np.testing.assert_array_equal(
        read_zarr_level(group, 1), windowed_mean(vol, (2, 2, 2))
    )
    attrs = json.loads((tmp_path / "store" / "Ex_488_Em_525" /
                        "400000_500000.ome.zarr" / ".zattrs").read_text())
    assert "append_in_progress" not in attrs
