"""Incremental streaming ingest converges to the batch ingest.

Slices arrive in waves; the file-source checkpoint must process each
file exactly once, and the stores the ``smartspim`` stream writer grows
wave by wave must equal a one-shot build of the finished acquisition —
including the reference fixture's NON-dense filename stems
(000000/000020, which make rank-z and stem-z differ and so exercise
the slice_key design).
"""

from __future__ import annotations

import numpy as np
import pytest

from aind_smartspim_data_transformation_spark.imaging.pyramid import windowed_mean
from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
    read_zarr_level,
)
from aind_smartspim_data_transformation_spark.sources.png_codec import encode_png_gray
from aind_smartspim_data_transformation_spark.streaming import stack_stream as ss


def _write_slice(root, channel, stack, stem, plane):
    d = root / "SmartSPIM" / channel / stack.split("_")[0] / stack
    d.mkdir(parents=True, exist_ok=True)
    (d / f"{stem:06d}.png").write_bytes(encode_png_gray(plane))


def test_incremental_ingest_matches_batch(spark, tmp_path):
    """Wave 1 lands four sparse-stem slices of one stack; wave 2 lands
    that stack's SHORT last wave (two slices) and the first slices of a
    new stack, so one epoch appends to one store and creates another.
    Each store's level 0 equals its planes in stem order (every file
    decoded exactly once, z = stem rank) and level 1 their windowed
    mean."""
    root = tmp_path / "acq"
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    ch = "Ex_488_Em_525"
    rng = np.random.default_rng(7)
    planes = {
        "400000_500000": rng.integers(0, 65535, size=(6, 16, 20), dtype=np.uint16),
        "400000_530000": rng.integers(0, 65535, size=(4, 16, 20), dtype=np.uint16),
    }

    def ingest():
        ss.run_streaming_store_ingest(
            spark, str(root / "SmartSPIM"), store, ckpt,
            chunk_zyx=[64, 64, 64], n_levels=2,
        )

    # wave 1: one stack, reference-style sparse stems 0/20/40/60
    for i in range(4):
        _write_slice(root, ch, "400000_500000", 20 * i, planes["400000_500000"][i])
    ingest()

    # wave 2: stems 80/100 of the same stack + a brand-new stack
    for i in range(4, 6):
        _write_slice(root, ch, "400000_500000", 20 * i, planes["400000_500000"][i])
    for i in range(4):
        _write_slice(root, ch, "400000_530000", 20 * i, planes["400000_530000"][i])
    ingest()

    for stack, vol in planes.items():
        group = f"{store}/{ch}/{stack}.ome.zarr"
        np.testing.assert_array_equal(read_zarr_level(group, 0), vol)
        np.testing.assert_array_equal(
            read_zarr_level(group, 1), windowed_mean(vol, (2, 2, 2))
        )


def test_stream_ingests_tiff_slices(spark, tmp_path):
    """The stream scan admits .tif and the decoder dispatches on magic
    bytes — a mixed PNG/TIFF wave lands as one stack in stem order."""
    from aind_smartspim_data_transformation_spark.sources.tiff_codec import (
        encode_tiff_gray,
    )

    root = tmp_path / "acq"
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    d = root / "SmartSPIM" / "Ex_488_Em_525" / "400000" / "400000_500000"
    d.mkdir(parents=True)
    rng = np.random.default_rng(17)
    a = rng.integers(0, 65535, size=(8, 10), dtype=np.uint16)
    b = rng.integers(0, 65535, size=(8, 10), dtype=np.uint16)
    (d / "000000.png").write_bytes(encode_png_gray(a))
    (d / "000020.tif").write_bytes(encode_tiff_gray(b))
    ss.run_streaming_store_ingest(spark, str(root / "SmartSPIM"), store, ckpt)
    group = f"{store}/Ex_488_Em_525/400000_500000.ome.zarr"
    np.testing.assert_array_equal(read_zarr_level(group, 0), np.stack([a, b]))


def test_writestream_smartspim_waves_equal_one_shot(spark, tmp_path):
    """writeStream.format('smartspim'): two waves of two stacks through
    the streaming DataSource writer end ARRAY-identical at every level
    to a one-shot build of the finished acquisition, with no fence and
    no staging left behind."""
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


@pytest.mark.parametrize("crash_level", [0, 1])
def test_writestream_smartspim_crash_fence_roll_forward(
    spark, tmp_path, crash_level
):
    """Mid-stream kill: the SECOND wave's commit dies after the fence
    went up — at level 0's promotion (before any level commits) or at
    level 1's (after level 0's shape commit).  The streaming sink's
    commit runs in a Python worker Spark spawns, out of a monkeypatch's
    reach, so the fault comes from the filesystem: a regular file sits
    where wave 2's chunks of ``crash_level`` must go, and their
    promotion fails.  Restarting the stream with the same checkpoint
    after removing it must ROLL FORWARD through the append transaction
    and end identical to an uninterrupted run."""
    import json
    from pathlib import Path

    rng = np.random.default_rng(13)
    vol = rng.integers(0, 65535, size=(8, 16, 20), dtype=np.uint16)
    root = tmp_path / "acq"
    d = root / "SmartSPIM" / "Ex_488_Em_525" / "400000" / "400000_500000"
    d.mkdir(parents=True)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    group = f"{store}/Ex_488_Em_525/400000_500000.ome.zarr"

    def ingest():
        ss.run_streaming_store_ingest(
            spark, str(root / "SmartSPIM"), store, ckpt,
            chunk_zyx=[64, 64, 64], n_levels=2,
        )

    for z in range(4):
        (d / f"{z:06d}.png").write_bytes(encode_png_gray(vol[z]))
    ingest()

    # wave 2 arrives; kill the commit at crash_level's promotion (the
    # fence is up): a regular file obstructs that level's z-chunk 1,
    # the parent of wave 2's chunks
    for z in range(4, 8):
        (d / f"{z:06d}.png").write_bytes(encode_png_gray(vol[z]))
    obstruction = Path(group, str(crash_level), "0", "0", "1")
    obstruction.write_bytes(b"")
    with pytest.raises(Exception, match="NotADirectoryError"):
        ingest()

    # detectable crash state: fence present; level 0's shape grown only
    # if the crash came after its commit
    attrs = json.loads((tmp_path / "store" / "Ex_488_Em_525" /
                        "400000_500000.ome.zarr" / ".zattrs").read_text())
    assert attrs["append_in_progress"] == {"pre_z": [4, 2], "post_z": [8, 4]}
    zarray0 = json.loads(Path(group, "0", ".zarray").read_text())
    assert zarray0["shape"][2] == (4 if crash_level == 0 else 8)

    # restart with the SAME checkpoint: Spark replays the epoch, the
    # fence rolls forward, the store finishes identical to one-shot
    obstruction.unlink()
    ingest()
    np.testing.assert_array_equal(read_zarr_level(group, 0), vol)
    np.testing.assert_array_equal(
        read_zarr_level(group, 1), windowed_mean(vol, (2, 2, 2))
    )
    attrs = json.loads((tmp_path / "store" / "Ex_488_Em_525" /
                        "400000_500000.ome.zarr" / ".zattrs").read_text())
    assert "append_in_progress" not in attrs


def test_default_codec_refuses_zlib_store_and_zlib_markers(
    spark, tmp_path, monkeypatch
):
    """Writers at the default codec meet a target written under zlib.
    A default-options stream into an existing zlib store refuses with
    the codec-mismatch error before any chunk is promoted, and a fused
    rerun whose progress markers were written under zlib refuses with
    the store-fingerprint error instead of redoing the bands silently
    into a store of mixed codecs.  A stream writer naming a codec the
    sink does not know is refused when it is built, before any task."""
    from aind_smartspim_data_transformation_spark.sources.smartspim_datasource import (
        SmartspimStreamWriter,
    )
    from tests.imaging_fixtures import crash_before_finalize, ingest

    with pytest.raises(ValueError, match="unknown compressor 'lz4'"):
        SmartspimStreamWriter({"path": str(tmp_path / "s"), "compressor": "lz4"})

    rng = np.random.default_rng(19)
    vol = rng.integers(0, 65535, size=(8, 16, 20), dtype=np.uint16)
    root = tmp_path / "acq"
    stack = "400000_500000"
    for z in range(4):
        _write_slice(root, "Ex_488_Em_525", stack, z, vol[z])
    store = tmp_path / "store"
    ingest(spark, root, store, (4, 64, 64), 2, compressor_name="zlib")
    group = store / "Ex_488_Em_525" / f"{stack}.ome.zarr"
    before = {p: p.read_bytes() for p in group.rglob("*") if p.is_file()}

    for z in range(4, 8):
        _write_slice(root, "Ex_488_Em_525", stack, z, vol[z])
    with pytest.raises(Exception, match="byte-incompatible"):
        ss.run_streaming_store_ingest(
            spark, str(root / "SmartSPIM"), str(store), str(tmp_path / "ckpt"),
            chunk_zyx=[4, 64, 64], n_levels=2,
        )
    assert {p: p.read_bytes() for p in group.rglob("*") if p.is_file()} == before

    out = tmp_path / "resumed"
    crash_before_finalize(
        monkeypatch,
        lambda: ingest(spark, root, out, (4, 64, 64), 2, compressor_name="zlib"),
    )
    with pytest.raises(ValueError, match="different store configuration"):
        ingest(spark, root, out, (4, 64, 64), 2)


def test_stream_carries_paths_not_pixels(spark, tmp_path):
    """The stream ships one short row per slice: no column of the
    streamed frame holds file bytes, so no pixel crosses the shuffle."""
    from pyspark.sql.types import BinaryType

    root = tmp_path / "acq" / "SmartSPIM"
    root.mkdir(parents=True)
    schema = ss.stream_stack_files(spark, str(root)).schema
    assert schema.fieldNames() == ["channel", "stack", "slice_key", "path"]
    assert not any(isinstance(f.dataType, BinaryType) for f in schema.fields)


def test_stream_refuses_taller_slice(spark, tmp_path):
    """A wave whose second slice is taller than its first fails the
    write task at the slab writer's header gate, naming the slice, and
    leaves no store group and no staged chunk behind."""
    rng = np.random.default_rng(23)
    root = tmp_path / "acq"
    store = tmp_path / "store"
    stack = "400000_500000"
    _write_slice(root, "Ex_488_Em_525", stack, 0,
                 rng.integers(0, 65535, size=(16, 20), dtype=np.uint16))
    _write_slice(root, "Ex_488_Em_525", stack, 20,
                 rng.integers(0, 65535, size=(24, 20), dtype=np.uint16))
    with pytest.raises(
        Exception, match=r"slice geometry mismatch in \S*/000020\.png"
    ):
        ss.run_streaming_store_ingest(
            spark, str(root / "SmartSPIM"), str(store), str(tmp_path / "ckpt"),
            chunk_zyx=[64, 64, 64], n_levels=2,
        )
    assert not (store / "Ex_488_Em_525").exists()
    staged = store / ".staging"
    assert not staged.exists() or not any(
        p.is_file() for p in staged.rglob("*")
    )
