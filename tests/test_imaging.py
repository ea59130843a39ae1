"""Imaging plane: stack scan, decode, pyramid, zarr sink — golden tests
modeled on the reference's suite (SURVEY.md §5)."""

from __future__ import annotations

import numpy as np
import pytest

from aind_smartspim_data_transformation_spark.functions.imaging_meta import (
    parse_emission_wavelength,
    wavelength_to_hex,
)
from aind_smartspim_data_transformation_spark.imaging.pyramid import (
    assemble_array,
    build_pyramid,
    windowed_mean,
)
from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
    read_zarr_level,
    write_ome_zarr_all,
)
from aind_smartspim_data_transformation_spark.sources.acquisition import (
    get_voxel_resolution,
)
from aind_smartspim_data_transformation_spark.sources.stack_reader import (
    decode_slices_to_tiles,
    list_stack_files,
    read_stack_tree,
    scan_stack_files,
)
from tests.imaging_fixtures import make_dataset


@pytest.fixture(scope="module")
def dataset(tmp_path_factory):
    root = tmp_path_factory.mktemp("smartspim")
    arrays = make_dataset(root)
    return root, arrays


def test_scan_finds_all_slices(spark, dataset):
    root, arrays = dataset
    files = scan_stack_files(spark, str(root / "SmartSPIM"))
    assert files.count() == 2 * 2 * 2 * 2  # channels × cols × rows × slices
    stacks = {
        (r["channel"], r["stack"])
        for r in files.select("channel", "stack").distinct().collect()
    }
    assert len(stacks) == 8


def test_decode_matches_source_pixels(spark, dataset):
    root, arrays = dataset
    files = scan_stack_files(spark, str(root / "SmartSPIM"))
    # no Y/X tiling: each slice is one full-plane tile
    tiles = decode_slices_to_tiles(files, chunk_z=2).filter(
        "channel = 'Ex_445_Em_469' AND stack = '432380_504340'"
    )
    rows = {r["z"]: r for r in tiles.collect()}
    src = arrays["Ex_445_Em_469/432380_504340"]
    assert len(rows) == src.shape[0]
    for z, r in rows.items():
        assert (r["cy"], r["cx"]) == (0, 0)
        got = np.frombuffer(r["data"], dtype=np.uint16).reshape(r["dy"], r["dx"])
        assert np.array_equal(got, src[z])


def test_ingest_never_shuffles_raw_content(spark, dataset):
    """The z-rank window runs on a content-pruned scan projection and
    rejoins by broadcast: no Exchange in the ingest plan may carry the
    raw binaryFile `content` column (VERDICT r3 scale defect — the old
    window-before-decode plan shuffled every raw byte AND hashed all
    slices of a stack onto one task)."""
    import re

    root, _ = dataset
    df = read_stack_tree(spark, str(root / "SmartSPIM"), chunk_z=2)
    fmt = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    txt = df._jdf.queryExecution().explainString(fmt)
    # formatted explain prints one "(N) NodeName" block per node with an
    # "Input [...]" / "Output [...]" line naming the columns it carries
    blocks = re.split(r"\n(?=\(\d+\) )", txt)
    exchanges = [b for b in blocks if b.startswith("(") and " Exchange" in b.splitlines()[0]]
    assert exchanges, "expected at least the chunk-assembly Exchange"
    for b in exchanges:
        assert "content#" not in b, f"Exchange carries raw content:\n{b}"
    # the pruned rank-side scan must not read bytes at all
    scans = [b for b in blocks if "Scan binaryFile" in b.splitlines()[0]]
    assert any("ReadSchema: struct<path:string>" in b for b in scans), (
        "z-rank side should scan path only"
    )


def test_stack_shape_golden(spark, dataset):
    """Reference golden: stack assembles to (n_slices, H, W) (SURVEY §5)."""
    root, arrays = dataset
    chunks = read_stack_tree(spark, str(root / "SmartSPIM"), chunk_z=64).filter(
        "channel = 'Ex_445_Em_469' AND stack = '432380_504340'"
    )
    vol = assemble_array(chunks, 64)
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
    ``binaryFile`` scan the chunk-table pipeline reads must agree row
    for row: hidden files and directories, metadata JSON, an
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


def test_pyramid_matches_numpy(spark, dataset):
    root, arrays = dataset
    chunks = read_stack_tree(spark, str(root / "SmartSPIM"), chunk_z=64).filter(
        "channel = 'Ex_561_Em_600' AND stack = '464780_530260'"
    )
    levels = build_pyramid(chunks, (2, 2, 2), 3, persist_levels=False)
    src = arrays["Ex_561_Em_600/464780_530260"]
    expect = src
    for lvl in range(3):
        got = assemble_array(levels[lvl], 64)
        assert np.array_equal(got, expect), f"level {lvl}"
        expect = windowed_mean(expect, (2, 2, 2))


def test_zarr_roundtrip(spark, dataset, tmp_path):
    root, arrays = dataset
    chunks = read_stack_tree(spark, str(root / "SmartSPIM"), chunk_z=64).filter(
        "channel = 'Ex_445_Em_469' AND stack = '432380_530260'"
    )
    levels = build_pyramid(chunks, (2, 2, 2), 3, persist_levels=False)
    [group] = write_ome_zarr_all(
        levels,
        str(tmp_path / "out"),
        voxel_size_zyx=[2.0, 1.8, 1.8],
        scale_factor_zyx=[2, 2, 2],
        chunk_zyx=[64, 64, 64],
    )
    src = arrays["Ex_445_Em_469/432380_530260"]
    expect = src
    for lvl in range(3):
        got = read_zarr_level(group, lvl)
        assert np.array_equal(got, expect), f"level {lvl}"
        expect = windowed_mean(expect, (2, 2, 2))


def test_zarr_ngff_metadata(spark, dataset, tmp_path):
    import json

    root, _ = dataset
    chunks = read_stack_tree(spark, str(root / "SmartSPIM"), chunk_z=64).filter(
        "channel = 'Ex_561_Em_600' AND stack = '432380_504340'"
    )
    levels = build_pyramid(chunks, (2, 2, 2), 2, persist_levels=False)
    [group] = write_ome_zarr_all(
        levels,
        str(tmp_path / "out2"),
        voxel_size_zyx=[2.0, 1.8, 1.8],
        scale_factor_zyx=[2, 2, 2],
        chunk_zyx=[64, 64, 64],
    )
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


def test_downsample_step_has_no_shuffle(spark, dataset):
    """One pyramid level = mapInPandas over existing partitions — the
    physical plan must contain no Exchange (SCALE.md §6)."""
    from aind_smartspim_data_transformation_spark.imaging.pyramid import (
        downsample_chunks,
    )
    from aind_smartspim_data_transformation_spark.sources.stack_reader import (
        read_stack_tree,
    )

    root, _arrays = dataset
    chunks = read_stack_tree(spark, str(root / "SmartSPIM"), chunk_z=2)
    lvl1 = downsample_chunks(chunks, (2, 2, 2))
    plan = lvl1._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan.split("MapInPandas")[0]


def test_multi_level_pyramid_has_no_shuffle(spark, dataset):
    """Three chained pyramid levels — still zero Exchange operators."""
    from aind_smartspim_data_transformation_spark.imaging.pyramid import build_pyramid
    from aind_smartspim_data_transformation_spark.sources.stack_reader import (
        read_stack_tree,
    )

    root, _arrays = dataset
    chunks = read_stack_tree(spark, str(root / "SmartSPIM"), chunk_z=2)
    levels = build_pyramid(chunks, (2, 2, 2), 3, persist_levels=False)
    plan = levels[-1]._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan.split("MapInPandas")[0]
    # ONE fused decode+tile kernel + one kernel per downsample step
    # (decode and tile split share a kernel so the pixel volume makes
    # no extra JVM↔Python round-trip); the only Exchange in the whole
    # pipeline is the tile-keyed chunk assembly below the first
    # MapInPandas
    assert plan.count("MapInPandas") == 3


def test_zarr_codec_none_roundtrip(spark, dataset, tmp_path):
    """compressor_name='none' stores raw bytes; reader follows the
    .zarray metadata (compressor: null) with no decode step."""
    import json

    root, arrays = dataset
    chunks = read_stack_tree(spark, str(root / "SmartSPIM"), chunk_z=64).filter(
        "channel = 'Ex_445_Em_469' AND stack = '432380_530260'"
    )
    levels = build_pyramid(chunks, (2, 2, 2), 1, persist_levels=False)
    [group] = write_ome_zarr_all(
        levels,
        str(tmp_path / "raw"),
        voxel_size_zyx=[2.0, 1.8, 1.8],
        scale_factor_zyx=[2, 2, 2],
        chunk_zyx=[64, 64, 64],
        compressor_name="none",
    )
    meta = json.load(open(f"{group}/0/.zarray"))
    assert meta["compressor"] is None
    got = read_zarr_level(group, 0)
    assert np.array_equal(got, arrays["Ex_445_Em_469/432380_530260"])


def test_zarr_codec_blosc_gated():
    """Asking for blosc without python-blosc fails fast at plan time
    (never mid-write on an executor); with it installed the same call
    returns the reference's codec metadata."""
    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import _make_codec

    try:
        import blosc  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="python-blosc"):
            _make_codec("blosc", {})
    else:  # pragma: no cover - container has no blosc
        meta, _ = _make_codec("blosc", {"cname": "zstd", "clevel": 3})
        assert meta["id"] == "blosc" and meta["cname"] == "zstd"


def test_tiled_chunks_match_full_plane(spark, dataset):
    """Y/X tiling (the reference's 128³-brick layout, `models.py:65-69`)
    must be a pure re-partitioning of the same voxels: the tiled chunk
    table reassembles to the identical array, and the tiled pyramid
    level equals the full-plane pyramid level (tile dims stay
    factor-aligned, so the windowed mean is tile-local either way)."""
    root, arrays = dataset
    sel = "channel = 'Ex_445_Em_469' AND stack = '432380_504340'"
    src = arrays["Ex_445_Em_469/432380_504340"]
    tiled = read_stack_tree(
        spark, str(root / "SmartSPIM"), chunk_z=64, chunk_y=32, chunk_x=48
    ).filter(sel)
    rows = tiled.select("cy", "cx", "dy", "dx").distinct().collect()
    # 64×80 plane with 32×48 tiles → 2×2 grid, edge tiles truncated
    assert {(r["cy"], r["cx"]) for r in rows} == {(0, 0), (0, 1), (1, 0), (1, 1)}
    assert {(r["dy"], r["dx"]) for r in rows} == {(32, 48), (32, 32)}
    assert np.array_equal(assemble_array(tiled, 64), src)
    lvl1_tiled = assemble_array(
        build_pyramid(tiled, (2, 2, 2), 2, persist_levels=False)[1], 64
    )
    assert np.array_equal(lvl1_tiled, windowed_mean(src, (2, 2, 2)))


@st.composite
def _blocks_and_tiles(draw):
    dz = draw(st.integers(1, 4))
    h = draw(st.integers(1, 40))
    w = draw(st.integers(1, 40))
    ty = draw(st.one_of(st.none(), st.integers(1, 48)))
    tx = draw(st.one_of(st.none(), st.integers(1, 48)))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    block = rng.integers(0, 65535, size=(dz, h, w), dtype=np.uint16)
    return block, ty, tx


@given(_blocks_and_tiles())
@settings(max_examples=80, deadline=None)
def test_tile_plane_block_property(case):
    """Tiling is a lossless re-partitioning: tiles are contiguous,
    edge-truncated, and reassemble to the exact source block."""
    from aind_smartspim_data_transformation_spark.sources.stack_reader import (
        tile_plane_block,
    )

    block, ty, tx = case
    _, h, w = block.shape
    ety, etx = ty or h, tx or w
    tiles = list(tile_plane_block(block, ty, tx))
    assert len(tiles) == (-(-h // ety)) * (-(-w // etx))
    out = np.zeros_like(block)
    for cy, cx, tile in tiles:
        assert tile.flags["C_CONTIGUOUS"]
        assert tile.shape[0] == block.shape[0]
        assert tile.shape[1] == min(ety, h - cy * ety)
        assert tile.shape[2] == min(etx, w - cx * etx)
        out[:, cy * ety : cy * ety + tile.shape[1], cx * etx : cx * etx + tile.shape[2]] = tile
    assert np.array_equal(out, block)


# ---------------------------------------------------------------------------
# Pyramid geometry validation (A1 divisibility — ADVICE r2 medium item):
# per-chunk windowed means are exact only when retained-level chunk dims
# divide by the factor; anything else must raise, never silently diverge.
# ---------------------------------------------------------------------------
def _chunk_table(spark, arr, chunk):
    """Synthetic single-stack chunk table over a (Z,Y,X) numpy array."""
    from aind_smartspim_data_transformation_spark.sources.stack_reader import (
        CHUNK_SCHEMA,
    )

    cz_n = -(-arr.shape[0] // chunk[0])
    cy_n = -(-arr.shape[1] // chunk[1])
    cx_n = -(-arr.shape[2] // chunk[2])
    rows = []
    for cz in range(cz_n):
        for cy in range(cy_n):
            for cx in range(cx_n):
                tile = arr[
                    cz * chunk[0] : (cz + 1) * chunk[0],
                    cy * chunk[1] : (cy + 1) * chunk[1],
                    cx * chunk[2] : (cx + 1) * chunk[2],
                ]
                rows.append(
                    (
                        "ch", "st", 0, 0, cz, cy, cx,
                        tile.shape[0], tile.shape[1], tile.shape[2],
                        str(arr.dtype), np.ascontiguousarray(tile).tobytes(),
                    )
                )
    return spark.createDataFrame(rows, schema=CHUNK_SCHEMA)


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


def test_build_pyramid_rejects_indivisible_geometry(spark):
    from aind_smartspim_data_transformation_spark.imaging.pyramid import build_pyramid

    arr = np.arange(4 * 4 * 4, dtype=np.uint16).reshape(4, 4, 4)
    chunks = _chunk_table(spark, arr, (4, 4, 4))
    with pytest.raises(ValueError, match="not divisible"):
        build_pyramid(chunks, (3, 3, 3), 2, chunk_zyx=[128, 128, 128])


def test_factor3_pyramid_matches_numpy(spark):
    """scale_factor=[3,3,3] with a divisible chunk: the distributed
    per-chunk pyramid equals the global numpy windowed mean exactly."""
    from aind_smartspim_data_transformation_spark.imaging.pyramid import build_pyramid

    rng = np.random.default_rng(33)
    arr = rng.integers(0, 65535, size=(18, 18, 27), dtype=np.uint16)
    chunks = _chunk_table(spark, arr, (9, 9, 9))
    levels = build_pyramid(
        chunks, (3, 3, 3), 3, persist_levels=False, chunk_zyx=[9, 9, 9]
    )
    expect = arr
    for lvl in range(3):
        got = assemble_array(levels[lvl], 9)
        assert np.array_equal(got, expect), f"level {lvl}"
        expect = windowed_mean(expect, (3, 3, 3))


def test_zarr_sink_rejects_indivisible_chunks(spark, tmp_path):
    """The sink re-validates actual chunk dims: dz=10 with factor 3 and
    a 20-deep stack (two chunks) can't be reduced per-chunk → raise."""
    arr = np.arange(20 * 6 * 6, dtype=np.uint16).reshape(20, 6, 6)
    chunks = _chunk_table(spark, arr, (10, 6, 6))
    with pytest.raises(ValueError, match="neither divisible"):
        write_ome_zarr_all(
            [chunks, chunks],  # 2 levels is enough to trigger the guard
            str(tmp_path),
            voxel_size_zyx=[2.0, 1.8, 1.8],
            scale_factor_zyx=[3, 3, 3],
            chunk_zyx=[10, 6, 6],
        )


def test_zarr_sink_failed_level_write_leaves_no_parsing_store(spark, tmp_path):
    """Metadata-last for the chunk-table sink: a job that dies in its
    level-1 write must leave NO .zattrs/.zarray under the target — a
    store that parsed as complete would read the missing level as
    zeros.  The failure lives in the level table's own plan, so it
    fires inside the sink's level-1 write job."""
    from pyspark.sql import functions as F

    arr = np.arange(8 * 8 * 8, dtype=np.uint16).reshape(8, 8, 8)
    channel = F.lit("Ex_488_Em_525")
    lvl0 = _chunk_table(spark, arr, (4, 4, 4)).withColumn("channel", channel)
    lvl1 = _chunk_table(spark, windowed_mean(arr, (2, 2, 2)), (2, 2, 2))

    def explode(batches):
        for pdf in batches:
            raise RuntimeError("simulated level-1 write failure")
            yield pdf

    lvl1 = lvl1.withColumn("channel", channel).mapInPandas(
        explode, schema=lvl1.schema
    )
    out = tmp_path / "out"
    with pytest.raises(Exception, match="simulated level-1 write failure"):
        write_ome_zarr_all(
            [lvl0, lvl1], str(out), [2.0, 1.8, 1.8], [2, 2, 2], [4, 4, 4]
        )
    files = [p for p in out.rglob("*") if p.is_file()] if out.exists() else []
    meta = [p for p in files if p.name in (".zattrs", ".zarray", ".zgroup")]
    assert meta == [], meta
    # level 0 was written before the failure: the job really died midway
    assert (out / "Ex_488_Em_525" / "st.ome.zarr" / "0" / "0" / "0").is_dir()


def test_imaging_does_not_clobber_arrow_batch_conf(spark, dataset):
    """Regression (ADVICE r2): building+running imaging plans must not
    mutate the session-wide Arrow batch size — later relational
    pandas-UDF queries in the same session would silently run 32-row
    batches instead of the 4096 configured in session.py."""
    root, _ = dataset
    chunks = read_stack_tree(spark, str(root / "SmartSPIM"), chunk_z=64)
    chunks.limit(2).collect()  # execute decode + assembly kernels
    assert (
        spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == "4096"
    )
