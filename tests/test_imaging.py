"""Imaging plane: stack scan, decode, pyramid, zarr sink — golden tests
modeled on the reference's suite (SURVEY.md §5)."""

from __future__ import annotations

import numpy as np
import pytest

from aind_smartspim_data_transformation_spark.config.settings import CompressorName
from aind_smartspim_data_transformation_spark.functions.imaging_meta import (
    parse_emission_wavelength,
    wavelength_to_hex,
)
from aind_smartspim_data_transformation_spark.imaging.pyramid import windowed_mean
from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
    read_zarr_level,
)
from aind_smartspim_data_transformation_spark.sources.acquisition import (
    get_voxel_resolution,
)
from aind_smartspim_data_transformation_spark.sources.stack_reader import (
    list_stack_files,
    scan_stack_files,
)
from tests.imaging_fixtures import assert_pyramid, ingest, make_dataset, make_stack


@pytest.fixture(scope="module")
def dataset(tmp_path_factory):
    root = tmp_path_factory.mktemp("smartspim")
    arrays = make_dataset(root)
    return root, arrays


@pytest.fixture(scope="module")
def store(spark, dataset, tmp_path_factory):
    """The fixture tree ingested at 64³ chunks and 3 levels."""
    root, _ = dataset
    out = tmp_path_factory.mktemp("store")
    ingest(spark, root, out, (64, 64, 64), 3)
    return out


def test_scan_finds_all_slices(spark, dataset):
    root, arrays = dataset
    files = scan_stack_files(spark, str(root / "SmartSPIM"))
    assert files.count() == 2 * 2 * 2 * 2  # channels × cols × rows × slices
    stacks = {
        (r["channel"], r["stack"])
        for r in files.select("channel", "stack").distinct().collect()
    }
    assert len(stacks) == 8


def test_decode_matches_source_pixels(dataset):
    """Each listed slice of a stack, decoded by the band tasks' decoder
    in listing order, is the source plane at that z."""
    from aind_smartspim_data_transformation_spark.imaging.fused import _open_bytes
    from aind_smartspim_data_transformation_spark.sources.stack_reader import (
        decode_image_gray,
    )

    root, arrays = dataset
    rows = [
        r
        for r in list_stack_files(str(root / "SmartSPIM"))
        if r[1:3] == ("Ex_445_Em_469", "432380_504340")
    ]
    src = arrays["Ex_445_Em_469/432380_504340"]
    assert len(rows) == src.shape[0]
    for z, r in enumerate(rows):
        assert np.array_equal(decode_image_gray(_open_bytes(r[0])), src[z])


def test_stack_shape_golden(store, dataset):
    """Reference golden: stack assembles to (n_slices, H, W) (SURVEY §5)."""
    _, arrays = dataset
    vol = read_zarr_level(f"{store}/Ex_445_Em_469/432380_504340.ome.zarr", 0)
    assert vol.shape == (2, 64, 80)
    assert np.array_equal(vol, arrays["Ex_445_Em_469/432380_504340"])


def test_unknown_extension_rejected_by_listing_and_job(spark, tmp_path):
    """The reference's extension check (`smartspim_job.py:145-150`) now
    lives in the one listing: both the listing and the job refuse."""
    from aind_smartspim_data_transformation_spark.config.settings import (
        ImagingJobSettings,
    )
    from aind_smartspim_data_transformation_spark.imaging.job import run_imaging_job

    make_dataset(tmp_path, height=16, width=20)
    d = tmp_path / "SmartSPIM" / "Ex_445_Em_469" / "c" / "c_r"
    d.mkdir(parents=True)
    (d / "000000.bmp").write_bytes(b"xx")
    with pytest.raises(ValueError, match="unsupported image extension"):
        list_stack_files(str(tmp_path / "SmartSPIM"))
    settings = ImagingJobSettings(
        input_source=str(tmp_path), output_directory=str(tmp_path / "out")
    )
    with pytest.raises(ValueError, match="unsupported image extension"):
        run_imaging_job(spark, settings)


def test_list_stack_files_matches_binaryfile_scan(spark, tmp_path):
    """The driver listing that plans the fused ingest and the
    ``binaryFile`` scan the content digest reads must agree row for
    row: hidden files and directories, metadata JSON, an
    upper-case extension and a channel-less file included."""
    import os

    root = tmp_path / "SmartSPIM"
    make_dataset(tmp_path, height=16, width=20)
    stack = root / "Ex_445_Em_469" / "432380" / "432380_504340"
    (stack / "000040.TIF").write_bytes(b"II*\x00upper")
    (stack / ".DS_Store").write_bytes(b"finder")
    (stack / "_SUCCESS").write_bytes(b"")
    hidden = stack / ".hidden"
    hidden.mkdir()
    (hidden / "000060.png").write_bytes(b"not listed")
    (root / "acquisition.json").write_text("{}")
    (root / "000000.png").write_bytes(b"no channel")
    os.utime(stack / "000000.png", ns=(0, 1_700_000_000_123_456_789))

    rows = list_stack_files(str(root))
    scanned = (
        scan_stack_files(spark, str(root))
        .select("path", "channel", "stack", "length", "mtime")
        .collect()
    )
    assert sorted(tuple(r) for r in scanned) == rows
    assert len(rows) == 2 * 2 * 2 * 2 + 1  # the fixture + the .TIF
    assert [r[0] for r in rows] == sorted(r[0] for r in rows)
    assert any(r[0].endswith("000040.TIF") for r in rows)
    assert all(r[0].startswith("file:/") and r[1] for r in rows)


def test_voxel_resolution_golden(dataset):
    root, _ = dataset
    assert get_voxel_resolution(str(root / "acquisition.json")) == [2.0, 1.8, 1.8]


def test_voxel_resolution_missing_file(tmp_path):
    with pytest.raises(FileNotFoundError):
        get_voxel_resolution(str(tmp_path / "acquisition.json"))


def test_wavelength_goldens():
    assert wavelength_to_hex(469) == 0x3F2EFE  # FIXTURES golden (Em_469)
    assert wavelength_to_hex(600) == 0xF0121E  # FIXTURES golden (Em_600):
    # bounds are exclusive, so 600 falls through its own key to the 620 band
    assert wavelength_to_hex(620) == 0xF00050
    assert wavelength_to_hex(9000) == 0xF00050  # past last bound → last color
    assert parse_emission_wavelength("Ex_445_Em_469.zarr") == 469


def test_windowed_mean_oracle():
    rng = np.random.default_rng(7)
    a = rng.integers(0, 65535, size=(5, 6, 7)).astype(np.uint16)
    got = windowed_mean(a, (2, 2, 2))
    assert got.shape == (3, 3, 4)  # ceil semantics
    # brute-force oracle
    for z in range(3):
        for y in range(3):
            for x in range(4):
                win = a[2 * z : 2 * z + 2, 2 * y : 2 * y + 2, 2 * x : 2 * x + 2]
                assert got[z, y, x] == np.uint16(win.astype(np.float64).mean())


def test_pyramid_matches_numpy(store, dataset):
    _, arrays = dataset
    src = arrays["Ex_561_Em_600/464780_530260"]
    expect = src
    for lvl in range(3):
        got = read_zarr_level(f"{store}/Ex_561_Em_600/464780_530260.ome.zarr", lvl)
        assert np.array_equal(got, expect), f"level {lvl}"
        expect = windowed_mean(expect, (2, 2, 2))


def test_zarr_roundtrip(store, dataset):
    _, arrays = dataset
    assert_pyramid(
        f"{store}/Ex_445_Em_469/432380_530260.ome.zarr",
        arrays["Ex_445_Em_469/432380_530260"],
        3,
    )


def test_zarr_ngff_metadata(store):
    import json

    group = f"{store}/Ex_561_Em_600/432380_504340.ome.zarr"
    attrs = json.loads((open(f"{group}/.zattrs")).read())
    ms = attrs["multiscales"][0]
    assert [a["name"] for a in ms["axes"]] == ["t", "c", "z", "y", "x"]
    assert ms["datasets"][0]["coordinateTransformations"][0]["scale"] == [
        1.0, 1.0, 2.0, 1.8, 1.8,
    ]
    assert ms["datasets"][1]["coordinateTransformations"][0]["scale"] == [
        1.0, 1.0, 4.0, 3.6, 3.6,
    ]
    omero = attrs["omero"]
    assert omero["channels"][0]["color"] == "f0121e"  # Em 600 (FIXTURES golden)
    assert omero["channels"][0]["window"]["start"] == 0.0
    assert omero["channels"][0]["window"]["end"] == 350.0
    assert omero["rdefs"]["defaultZ"] == 1  # Z=2 → 2//2


# ---------------------------------------------------------------------------
# Property-based check: windowed_mean vs a brute-force per-window loop,
# over random shapes/factors/dtypes (hypothesis).
# ---------------------------------------------------------------------------
from hypothesis import given, settings, strategies as st


@st.composite
def _arrays_and_factors(draw):
    import numpy as np

    shape = tuple(draw(st.integers(1, 9)) for _ in range(3))
    factors = tuple(draw(st.integers(1, 3)) for _ in range(3))
    dtype = draw(st.sampled_from(["uint8", "uint16", "int32", "float32"]))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    if dtype.startswith("float"):
        arr = rng.random(shape, dtype=np.float32)
    else:
        info = np.iinfo(dtype)
        arr = rng.integers(info.min, info.max, size=shape, dtype=dtype)
    return arr, factors


@given(_arrays_and_factors())
@settings(max_examples=60, deadline=None)
def test_windowed_mean_property(case):
    import numpy as np

    from aind_smartspim_data_transformation_spark.imaging.pyramid import windowed_mean

    arr, factors = case
    got = windowed_mean(arr, factors)
    out_shape = tuple(-(-s // f) for s, f in zip(arr.shape, factors))
    assert got.shape == out_shape
    assert got.dtype == arr.dtype
    # brute force: mean over each (possibly truncated) window
    for idx in np.ndindex(*out_shape):
        window = arr[
            tuple(
                slice(i * f, min((i + 1) * f, s))
                for i, f, s in zip(idx, factors, arr.shape)
            )
        ]
        expect = np.asarray(window.astype(np.float64).mean(), dtype=arr.dtype)
        assert got[idx] == expect


def test_pyramid_import_leaves_pandas_unloaded():
    """The band tasks import the pyramid module for ``windowed_mean``
    only; importing it in a fresh interpreter must not load pandas
    (about 0.4 s per fresh Python worker)."""
    import subprocess
    import sys
    from pathlib import Path

    code = (
        "import sys\n"
        "import aind_smartspim_data_transformation_spark.imaging.pyramid\n"
        "assert 'pandas' not in sys.modules, 'pandas loaded'\n"
    )
    subprocess.run(
        [sys.executable, "-c", code], check=True, cwd=Path(__file__).parents[1]
    )


def test_zarr_codec_none_roundtrip(spark, dataset, tmp_path):
    """compressor_name='none' stores raw bytes; reader follows the
    .zarray metadata (compressor: null) with no decode step."""
    import json

    root, arrays = dataset
    ingest(spark, root, tmp_path / "raw", (64, 64, 64), 1, compressor_name="none")
    group = f"{tmp_path}/raw/Ex_445_Em_469/432380_530260.ome.zarr"
    meta = json.load(open(f"{group}/0/.zarray"))
    assert meta["compressor"] is None
    got = read_zarr_level(group, 0)
    assert np.array_equal(got, arrays["Ex_445_Em_469/432380_530260"])


def _codec_store(tmp_path, name, vol, chunk):
    """One-level store of ``vol`` written the way the ingest writes
    one: every chunk through ``ChunkWriter`` with the ``_make_codec``
    function of ``vol``'s dtype, then the driver's metadata."""
    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
        ChunkWriter,
        _fs_for,
        _make_codec,
        _write_all_metadata,
        chunk_key,
        plan_store_layout,
        stack_group,
    )

    out = str(tmp_path / name)
    group = stack_group(out, "Ex_445_Em_469", "s")
    fs, _ = _fs_for(out)
    cw = ChunkWriter(fs, _make_codec(name, None, vol.itemsize)[1])
    for z in range(0, vol.shape[0], chunk[0]):
        for y in range(0, vol.shape[1], chunk[1]):
            for x in range(0, vol.shape[2], chunk[2]):
                block = vol[z : z + chunk[0], y : y + chunk[1], x : x + chunk[2]]
                key = chunk_key(
                    group, 0, z // chunk[0], y // chunk[1], x // chunk[2]
                )
                cw.write(key, block, chunk)
    geo = [{"channel": "Ex_445_Em_469", "stack": "s", "z": vol.shape[0],
            "y": vol.shape[1], "x": vol.shape[2], "dtype": str(vol.dtype)}]
    plan = plan_store_layout(geo, out, list(chunk), [2, 2, 2], 1)
    _write_all_metadata(plan, [1.0, 1.0, 1.0], [2, 2, 2], name, None)
    return group


@pytest.mark.parametrize("dtype", ["uint8", "uint16"])
@pytest.mark.parametrize("name", [c.value for c in CompressorName])
def test_zarr_codec_roundtrip(tmp_path, name, dtype):
    """Every compressor the settings accept, at 1- and 2-byte dtypes,
    writes a ``.zarray`` whose compressor and filters the reader undoes
    — edge chunks (zero-padded to the chunk shape) included."""
    import json

    rng = np.random.default_rng(5)
    vol = rng.integers(0, np.iinfo(dtype).max, size=(5, 12, 10), dtype=dtype)
    group = _codec_store(tmp_path, name, vol, (4, 8, 8))
    meta = json.load(open(f"{group}/0/.zarray"))
    shuffle = [{"id": "shuffle", "elementsize": 2}]
    expected = {
        "zstd": ({"id": "zstd", "level": 1}, shuffle if dtype == "uint16" else None),
        "zlib": ({"id": "zlib", "level": 1}, None),
        "none": (None, None),
    }[name]
    assert (meta["compressor"], meta["filters"]) == expected
    np.testing.assert_array_equal(read_zarr_level(group, 0), vol)


@pytest.mark.parametrize(
    "field, value, match",
    [
        ("filters", [{"id": "delta", "dtype": "<u2"}], "delta"),
        ("filters", [{"id": "shuffle", "elementsize": 2},
                     {"id": "bitround", "keepbits": 8}], "bitround"),
        ("compressor", {"id": "lz4", "acceleration": 1}, "lz4"),
    ],
)
def test_zarr_reader_refuses_unknown_codec(tmp_path, field, value, match):
    """A filter or compressor the reader cannot undo raises, naming
    its id, instead of returning scrambled pixels."""
    import json

    vol = np.arange(4 * 8 * 8, dtype=np.uint16).reshape(4, 8, 8)
    group = _codec_store(tmp_path, "zstd", vol, (4, 8, 8))
    path = f"{group}/0/.zarray"
    meta = json.load(open(path))
    meta[field] = value
    json.dump(meta, open(path, "w"))
    with pytest.raises(ValueError, match=match):
        read_zarr_level(group, 0)


def test_default_chunk_decodes_from_spec(store, dataset):
    """A chunk file of the default store decodes from its ``.zarray``
    alone: a standard zstd frame (magic ``28b52ffd``) whose header
    carries the content size, which numcodecs' Zstd decoder requires,
    holding the byte-shuffled chunk (numcodecs ``Shuffle``: the
    little-endian bytes of every element, grouped by byte position)."""
    import json

    import pyarrow as pa

    _, arrays = dataset
    group = store / "Ex_445_Em_469" / "432380_504340.ome.zarr"
    meta = json.loads((group / "0" / ".zarray").read_text())
    assert meta["compressor"] == {"id": "zstd", "level": 1}
    assert meta["filters"] == [{"id": "shuffle", "elementsize": 2}]
    frame = (group / "0" / "0" / "0" / "0" / "0" / "0").read_bytes()
    assert frame[:4].hex() == "28b52ffd"
    descriptor = frame[4]
    # Frame_Content_Size_flag (bits 7-6) or Single_Segment_flag (bit 5)
    assert descriptor >> 6 or descriptor & 0x20
    cz, cy, cx = meta["chunks"][2:]
    dtype = np.dtype(meta["dtype"])
    raw = pa.Codec("zstd").decompress(
        frame, decompressed_size=cz * cy * cx * dtype.itemsize, asbytes=True
    )
    planes = np.frombuffer(raw, dtype=np.uint8).reshape(dtype.itemsize, -1)
    chunk = np.frombuffer(planes.T.tobytes(), dtype=dtype).reshape(cz, cy, cx)
    src = arrays["Ex_445_Em_469/432380_504340"]
    np.testing.assert_array_equal(chunk, src[:cz, :cy, :cx])


def test_tiled_chunks_match_full_plane(spark, dataset, store, tmp_path):
    """Y/X tiling (the reference's 128³-brick layout, `models.py:65-69`)
    must be a pure re-partitioning of the same voxels: the tiled store
    holds the 2×2 chunk grid and reads back the identical array, and
    its pyramid level equals the full-plane store's (tile dims stay
    factor-aligned, so the windowed mean is tile-local either way)."""
    import json

    root, arrays = dataset
    name = "Ex_445_Em_469/432380_504340.ome.zarr"
    src = arrays["Ex_445_Em_469/432380_504340"]
    ingest(spark, root, tmp_path / "tiled", (64, 32, 48), 2)
    group = tmp_path / "tiled" / name
    # 64×80 plane with 32×48 tiles → 2×2 grid, edge tiles padded in the
    # store and truncated on read
    assert json.loads((group / "0" / ".zarray").read_text())["chunks"] == [
        1, 1, 2, 32, 48,
    ]
    level0 = group / "0" / "0" / "0" / "0"
    assert {(int(p.parent.name), int(p.name)) for p in level0.glob("*/*")} == {
        (0, 0), (0, 1), (1, 0), (1, 1),
    }
    assert np.array_equal(read_zarr_level(str(group), 0), src)
    lvl1_tiled = read_zarr_level(str(group), 1)
    assert np.array_equal(lvl1_tiled, windowed_mean(src, (2, 2, 2)))
    assert np.array_equal(lvl1_tiled, read_zarr_level(f"{store}/{name}", 1))


# ---------------------------------------------------------------------------
# Pyramid geometry validation (A1 divisibility — ADVICE r2 medium item):
# per-chunk windowed means are exact only when retained-level chunk dims
# divide by the factor; anything else must raise, never silently diverge.
# ---------------------------------------------------------------------------
def test_validate_pyramid_geometry():
    from aind_smartspim_data_transformation_spark.imaging.pyramid import (
        validate_pyramid_geometry,
    )

    # reference defaults: chunk 128³, factor 2, 4 levels → 128 % 8 == 0
    validate_pyramid_geometry([128, 128, 128], [2, 2, 2], 4)
    # factor 3 with a divisible chunk
    validate_pyramid_geometry([81, 81, 81], [3, 3, 3], 4)
    # factor 3 with the default chunk is NOT computable per-chunk
    with pytest.raises(ValueError, match="not divisible"):
        validate_pyramid_geometry([128, 128, 128], [3, 3, 3], 2)
    with pytest.raises(ValueError, match=">= 1"):
        validate_pyramid_geometry([128, 0, 128], [2, 2, 2], 2)


def test_fused_ingest_rejects_indivisible_geometry(spark, dataset, tmp_path):
    """Factor 3 with the default 128 chunk is refused before any task
    runs or any file lands."""
    root, _ = dataset
    out = tmp_path / "out"
    with pytest.raises(ValueError, match="not divisible"):
        ingest(spark, root, out, (128, 128, 128), 2, factors=(3, 3, 3))
    assert not out.exists()


def test_factor3_pyramid_matches_numpy(spark, tmp_path):
    """scale_factor=[3,3,3] with a divisible chunk: the per-chunk
    pyramid the band tasks write equals the global numpy windowed mean
    exactly."""
    rng = np.random.default_rng(33)
    arr = rng.integers(0, 65535, size=(18, 18, 27), dtype=np.uint16)
    make_stack(tmp_path / "src", arr)
    [group], _ = ingest(
        spark, tmp_path / "src", tmp_path / "out", (9, 9, 9), 3, factors=(3, 3, 3)
    )
    assert_pyramid(group, arr, 3, factors=(3, 3, 3))


def test_zarr_sink_rejects_indivisible_chunks():
    """The store planner re-validates actual chunk dims: dz=10 with
    factor 3 and a 20-deep stack (two chunks) can't be reduced
    per-chunk → raise."""
    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
        plan_store_layout,
    )

    geo = [
        {"channel": "ch", "stack": "st", "z": 20, "y": 6, "x": 6,
         "dtype": "uint16"}
    ]
    with pytest.raises(ValueError, match="neither divisible"):
        # 2 levels trigger it
        plan_store_layout(geo, "/unused", [10, 6, 6], [3, 3, 3], 2)


def test_zarr_sink_failed_level_write_leaves_no_parsing_store(spark, tmp_path):
    """Metadata-last: a job that dies in its level-1 chunk writes must
    leave NO .zattrs/.zarray/.zgroup under the target — a store that
    parsed as complete would read the missing level as zeros.  The
    failure is injected from outside: a regular file sits where the
    level-1 chunk directory must go."""
    arr = np.arange(8 * 8 * 8, dtype=np.uint16).reshape(8, 8, 8)
    ch, stack = make_stack(tmp_path / "src", arr)
    out = tmp_path / "out"
    group = out / ch / f"{stack}.ome.zarr"
    group.mkdir(parents=True)
    (group / "1").write_bytes(b"not a directory")
    with pytest.raises(Exception, match="(?i)exist|directory"):
        ingest(spark, tmp_path / "src", out, (4, 4, 4), 2)
    files = [p for p in out.rglob("*") if p.is_file()]
    meta = [p for p in files if p.name in (".zattrs", ".zarray", ".zgroup")]
    assert meta == [], meta
    # level 0 was written before the failure: the job really died midway
    assert (group / "0" / "0" / "0").is_dir()


def test_imaging_does_not_clobber_arrow_batch_conf(spark, dataset):
    """Regression (ADVICE r2): building+running imaging plans must not
    mutate the session-wide Arrow batch size — later relational
    pandas-UDF queries in the same session would silently run 32-row
    batches instead of the 4096 configured in session.py."""
    root, _ = dataset
    files = scan_stack_files(spark, str(root / "SmartSPIM"))
    files.limit(2).collect()  # execute the binaryFile scan
    assert (
        spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == "4096"
    )
