"""SmartSPIM stack scan → slice table → chunk table.

Re-expresses the reference's imaging ingest (SURVEY.md §2.1 S1-S4):

- S1 directory-tree stack scan (`smartspim_job.py:43-63` walks
  ``SmartSPIM/<channel>/<col>/<col>_<row>/``) → :func:`list_stack_files`,
  one driver-side recursive listing sorted by path (the reference's
  ``sort(key=str)``, `smartspim_job.py:59-60`) that plans the fused
  ingest; the chunk-table pipeline reads the same rows through the
  ``binaryFile`` scan :func:`scan_stack_files` (``regexp_extract``
  path columns).
- S2/S3 lazy PNG/TIFF stack reader (`io/readers.py:129-145`, one dask
  chunk per slice; `compress/png_to_zarr.py:459-500` TIFF path) →
  one ``mapInPandas`` kernel that decodes each slice and cuts it into
  tile rows, format picked by magic bytes per file.
- S4 header probe (`io/readers.py:147-174`) → ``probe_png_header`` over
  the first KB of content, no decompression.
- P1 extension whitelist (`smartspim_job.py:145-150`), enforced by
  :func:`list_stack_files`.

The **chunk table** is the relational encoding of the 5-D canonical
tensor (SURVEY.md §1.4): one row per chunk with coordinates
``(t, c, cz, cy, cx)``, actual dims ``(dz, dy, dx)`` (t/c are size-1,
the reference's pad-to-5D P4/P5), dtype, and C-order little-endian
bytes.  All downstream imaging operators (pyramid, zarr sink) are
DataFrame transformations over this table.

Scale posture: the fused ingest plans from ONE listing held on the
driver as path-sorted tuples (metadata only, ~10⁶ rows at acquisition
scale); the chunk-table scan lists the tree again through Spark's file
index.  Decode is Arrow-batched Python with ~6.4 MB rows, and
slice→chunk assembly is ONE shuffle keyed by (channel, stack, cz) —
the only Exchange in the whole ingest that carries pixel data.  The
z-rank window shuffles a content-pruned (path, channel, stack)
projection and rejoins by broadcast, so raw bytes never cross the
wire before chunk assembly (plan-asserted).  At 100 TB the same plan
holds: binaryFile splits by file, AQE coalesces, and per-stack work
never crosses stacks.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from aind_smartspim_data_transformation_spark.sources.png_codec import (
    decode_png_gray,
    probe_png_header,
)
from aind_smartspim_data_transformation_spark.sources.tiff_codec import (
    decode_tiff_gray,
    probe_tiff_header,
)

ALLOWED_EXTENSIONS = ("png", "tif", "tiff")

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def decode_image_gray(
    data: bytes, row_stop: int | None = None, row_start: int = 0
) -> "np.ndarray":
    """Magic-byte dispatch over the supported slice formats (the
    reference's pims reader handles both PNG and TIFF stacks,
    `io/readers.py:112-184`; content sniffing beats extension trust —
    a mislabeled file fails with a clear codec error, not garbage).
    ``[row_start, row_stop)`` decodes only that row window: TIFF skips
    strips on BOTH sides of it; PNG inflates up to row_stop (its zlib
    stream is sequential) and slices — see the codec docstrings."""
    if data[:8] == _PNG_SIG:
        return decode_png_gray(data, row_stop, row_start)
    if data[:2] in (b"II", b"MM"):
        return decode_tiff_gray(data, row_stop, row_start)
    raise ValueError("unrecognized image format (PNG/TIFF supported)")


def probe_image_header(data: bytes) -> tuple[int, int, int]:
    """(width, height, bitdepth) without decompressing pixel data."""
    if data[:8] == _PNG_SIG:
        return probe_png_header(data)
    if data[:2] in (b"II", b"MM"):
        return probe_tiff_header(data)
    raise ValueError("unrecognized image format (PNG/TIFF supported)")

CHUNK_SCHEMA = (
    "channel string, stack string, t int, c int, cz int, cy int, cx int, "
    "dz int, dy int, dx int, dtype string, data binary"
)


def scan_stack_files(spark: SparkSession, root: str) -> DataFrame:
    """binaryFile scan of a SmartSPIM tree with path-derived columns.

    Built on the imaging CHILD session (session.imaging_session): the
    whole downstream lineage (decode, pyramid, sink) then executes with
    imaging-sized Arrow batches while the caller's session keeps its
    relational batch config untouched.
    """
    from aind_smartspim_data_transformation_spark.session import imaging_session

    df = (
        imaging_session(spark)
        .read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(root)
    )
    ext = F.lower(F.regexp_extract("path", r"\.([A-Za-z]+)$", 1))
    channel = F.regexp_extract("path", r"SmartSPIM/([^/]+)/", 1)
    stack = F.regexp_extract("path", r"/([^/]+)/[^/]+\.[A-Za-z]+$", 1)
    return (
        df.withColumn("ext", ext)
        .filter(F.col("ext").isin(*ALLOWED_EXTENSIONS))
        .filter(channel != "")
        .select(
            "path",
            channel.alias("channel"),
            stack.alias("stack"),
            "length",
            # millisecond granularity: cast("long") truncates to whole
            # seconds, which let an in-place same-second rewrite slip
            # past the fused resume digest (imaging/fused.py)
            F.unix_millis(F.col("modificationTime")).alias("mtime"),
            "content",
        )
    )


_EXT_RE = re.compile(r"\.([A-Za-z]+)$")
_CHANNEL_RE = re.compile(r"SmartSPIM/([^/]+)/")
_STACK_RE = re.compile(r"/([^/]+)/[^/]+\.[A-Za-z]+$")


def list_stack_files(root: str) -> list[tuple[str, str, str, int, int]]:
    """One recursive listing of a SmartSPIM tree on the driver:
    ``(path, channel, stack, length, mtime_ms)`` rows sorted by path.

    Same rows as :func:`scan_stack_files` (parity-tested): Spark's
    hidden-path rule (any path component below the root starting with
    ``.`` or ``_``), the ``ALLOWED_EXTENSIONS`` whitelist
    (case-insensitive), the ``SmartSPIM/<channel>/…/<stack>/<file>``
    parse with empty-channel rows dropped, and paths in Spark's
    ``file:/…`` form, so resume digests and progress markers match
    those a ``binaryFile`` listing produced.  Lists through
    ``zarr_sink._fs_for``, the filesystem layer the fused band tasks
    read slices with.  Raises like the reference on any file that is
    neither an image nor ``.json`` (`smartspim_job.py:145-150`)."""
    from pyarrow import fs as pafs

    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import _fs_for

    if "://" not in root:
        root = os.path.abspath(root)
    fs, base = _fs_for(root)
    base = base.rstrip("/")
    # Spark's path form: ``file:/abs/path`` locally, the URI elsewhere
    local = isinstance(fs, pafs.LocalFileSystem)
    prefix = f"file:{base}" if local else root.rstrip("/")
    rows = []
    for info in fs.get_file_info(pafs.FileSelector(base, recursive=True)):
        rel = info.path[len(base) + 1 :]
        hidden = any(part.startswith((".", "_")) for part in rel.split("/"))
        if info.type != pafs.FileType.File or hidden:
            continue
        m = _EXT_RE.search(rel)
        ext = m.group(1).lower() if m else ""
        if ext not in ALLOWED_EXTENSIONS:
            if ext != "json":  # metadata files ride along
                raise ValueError(f"unsupported image extension: .{ext}")
            continue
        path = f"{prefix}/{rel}"
        channel = _CHANNEL_RE.search(path)
        if channel is None:
            continue
        rows.append(
            (
                path,
                channel.group(1),
                _STACK_RE.search(path).group(1),
                info.size,
                info.mtime_ns // 1_000_000,
            )
        )
    rows.sort()
    return rows


def _z_indexed(files: DataFrame) -> DataFrame:
    """Attach z = rank of path within (channel, stack) — the
    reference's sorted-glob semantics (`io/readers.py:145`).  SmartSPIM
    slice names are zero-padded depths with arbitrary step ("000000",
    "000020", ...), so z is the RANK in that order, not the parsed
    number.

    The rank comes from a content-PRUNED listing window broadcast-joined
    back on path: the multi-MB ``content`` column never enters the
    window's exchange (plan-asserted in tests/test_imaging.py), and
    decode runs in the scan's own file-split partitions instead of
    hashing every slice of a stack onto one task.  The one home of the
    z contract for decode_slices_to_tiles."""
    w = W.partitionBy("channel", "stack").orderBy("path")
    zmap = (
        files.select("path", "channel", "stack")
        .withColumn("z", (F.row_number().over(w) - 1).cast("int"))
        .select("path", "z")
    )
    return files.join(F.broadcast(zmap), "path")


def probe_shapes(files: DataFrame) -> DataFrame:
    """Header-only shape/dtype probe (no decompression) per stack."""

    @F.pandas_udf("struct<width:int, height:int, bitdepth:int>")
    def _probe(content: pd.Series) -> pd.DataFrame:
        # PNG needs only the IHDR prefix; TIFF's IFD can sit anywhere in
        # the file, so the probe dispatches on the full (already-read)
        # buffer — still metadata-only, no pixel decompression.
        rows = [probe_image_header(bytes(b)) for b in content]
        return pd.DataFrame(rows, columns=["width", "height", "bitdepth"])

    return (
        files.withColumn("hdr", _probe("content"))
        .groupBy("channel", "stack")
        .agg(
            F.count("*").alias("n_slices"),
            F.first("hdr.width").alias("width"),
            F.first("hdr.height").alias("height"),
            F.first("hdr.bitdepth").alias("bitdepth"),
        )
    )


def tile_plane_block(
    block: "np.ndarray", chunk_y: int | None, chunk_x: int | None
):
    """Split a (dz, H, W) block into contiguous Y/X tiles.

    Yields (cy, cx, tile); edge tiles truncate to the remaining extent.
    With chunk_y/chunk_x None the block passes through as one tile.
    Pure function (property-tested in tests/test_imaging.py) — the
    decode UDF (``decode_slices_to_tiles``) cuts every block through it.
    """
    h, wd = block.shape[1], block.shape[2]
    ty = chunk_y or h
    tx = chunk_x or wd
    for cy in range(-(-h // ty)):
        for cx in range(-(-wd // tx)):
            yield (
                cy,
                cx,
                np.ascontiguousarray(
                    block[:, cy * ty : (cy + 1) * ty, cx * tx : (cx + 1) * tx]
                ),
            )


TILE_SCHEMA = (
    "channel string, stack string, cz int, z int, cy int, cx int, "
    "dy int, dx int, dtype string, data binary"
)
TILE_COLS = [
    "channel", "stack", "cz", "z", "cy", "cx", "dy", "dx", "dtype", "data",
]


def assemble_tiles(tiles: DataFrame, chunk_z: int | None = None) -> DataFrame:
    """Tile rows (TILE_SCHEMA) → chunk rows (CHUNK_SCHEMA): the one
    ingest shuffle, keyed by the full chunk coordinate (channel, stack,
    cz, cy, cx).  Slices are cut into their (cy, cx) tiles BEFORE the
    shuffle, in the decode's own partitions.  Grouping whole slices by
    (channel, stack, cz) and tiling after would concentrate chunk_z ×
    plane bytes (hundreds of MB at microscopy plane sizes) on ONE task
    per z-slab and cap assembly parallelism at #slabs; keying by tile
    keeps every group at chunk_z × tile bytes (~512 KB for 128³
    bricks), scales the parallelism with #tiles, and moves exactly the
    same bytes through the exchange.

    With ``chunk_z`` given, planes land at their TRUE within-chunk
    index (z − cz·chunk_z) and interior holes are zero-filled,
    preserving z alignment for the sink (quarantined slices arrive as
    explicit zero tiles since r7 — read_stack_tree rematerializes dead
    letters on the stack's tile grid, so trailing holes no longer
    shorten the slab).  Without it (default), tiles are assumed
    contiguous in z (fail-mode ingest, where a codec error aborts
    before any hole can exist)."""

    def _assemble(key, pdf):
        channel, stack, cz, cy, cx = key
        pdf = pdf.sort_values("z")
        dtype = pdf["dtype"].iloc[0]
        dy = int(pdf["dy"].iloc[0])
        dx = int(pdf["dx"].iloc[0])
        planes = [
            np.frombuffer(b, dtype=np.dtype(dtype)).reshape(dy, dx)
            for b in pdf["data"]
        ]
        if chunk_z is not None:
            idx = (pdf["z"].to_numpy() - int(cz) * chunk_z).astype(int)
            block = np.zeros((int(idx.max()) + 1, dy, dx), dtype=np.dtype(dtype))
            for i, plane in zip(idx, planes):
                block[i] = plane
        else:
            block = np.stack(planes)
        return pd.DataFrame(
            [
                (
                    channel,
                    stack,
                    0,
                    0,
                    int(cz),
                    int(cy),
                    int(cx),
                    block.shape[0],
                    dy,
                    dx,
                    dtype,
                    block.tobytes(),
                )
            ],
            columns=[
                "channel",
                "stack",
                "t",
                "c",
                "cz",
                "cy",
                "cx",
                "dz",
                "dy",
                "dx",
                "dtype",
                "data",
            ],
        )

    return tiles.groupBy("channel", "stack", "cz", "cy", "cx").applyInPandas(
        _assemble, schema=CHUNK_SCHEMA
    )


# Sentinel coordinates marking a dead-letter (quarantined) tile row:
# a corrupt slice in quarantine mode emits exactly one such row, with
# the error text + source path in ``data`` and dtype QUARANTINE_DTYPE.
QUARANTINE_DTYPE = "__quarantined__"
_QUARANTINE_COORD = -1


def decode_slices_to_tiles(
    files: DataFrame,
    chunk_z: int,
    chunk_y: int | None = None,
    chunk_x: int | None = None,
    on_error: str = "fail",
) -> DataFrame:
    """Fused decode + tile split: raw file rows → tile rows in ONE
    Python kernel.

    A slice is decoded and cut into its tiles in the same kernel, so
    the pixels never go back to the JVM in slice-row form.  z comes
    from :func:`_z_indexed` (content-pruned listing window, broadcast
    z-map).  With ``chunk_y``/``chunk_x`` None each slice is one
    full-plane tile.

    ``on_error``: ``"fail"`` (default) propagates a codec error and
    fails the job — right for curated acquisitions.  ``"quarantine"``
    turns each corrupt slice into ONE dead-letter tile row
    (dtype = QUARANTINE_DTYPE, cy = cx = −1, error text + path in
    ``data``) instead of killing a 100 TB ingest at file 10⁹ − 1;
    split with :func:`split_quarantine`.  The decoded good tiles and
    the dead-letter rows come out of the SAME single decode pass —
    persist the tile frame if both sides get consumed, or the kernel
    re-runs per action.
    """
    if on_error not in ("fail", "quarantine"):
        raise ValueError(f"on_error must be 'fail' or 'quarantine', got {on_error!r}")
    indexed = _z_indexed(files)
    quarantine = on_error == "quarantine"

    def _decode_split(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for r in pdf.itertuples(index=False):
                try:
                    arr = decode_image_gray(bytes(r.content))
                except Exception as exc:  # noqa: BLE001 — dead-letter boundary
                    if not quarantine:
                        raise
                    msg = f"{r.path}: {type(exc).__name__}: {exc}"
                    rows.append(
                        (
                            r.channel,
                            r.stack,
                            int(r.z) // chunk_z,
                            int(r.z),
                            _QUARANTINE_COORD,
                            _QUARANTINE_COORD,
                            0,
                            0,
                            QUARANTINE_DTYPE,
                            msg.encode("utf-8", "replace"),
                        )
                    )
                    continue
                block = arr.reshape(1, arr.shape[0], arr.shape[1])
                for cy, cx, tile in tile_plane_block(block, chunk_y, chunk_x):
                    rows.append(
                        (
                            r.channel,
                            r.stack,
                            int(r.z) // chunk_z,
                            int(r.z),
                            cy,
                            cx,
                            tile.shape[1],
                            tile.shape[2],
                            str(arr.dtype),
                            tile.tobytes(),
                        )
                    )
            if rows:
                yield pd.DataFrame(rows, columns=TILE_COLS)

    return indexed.select("path", "channel", "stack", "z", "content").mapInPandas(
        _decode_split, schema=TILE_SCHEMA
    )


def split_quarantine(tiles: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good_tiles, dead_letters) from a quarantine-mode tile frame.

    The dead-letter side decodes ``data`` back into the human-readable
    `error` string (path + exception) — the table an operator triages
    while the good 99.999% of the ingest proceeds."""
    good = tiles.filter(F.col("dtype") != QUARANTINE_DTYPE)
    bad = tiles.filter(F.col("dtype") == QUARANTINE_DTYPE).select(
        "channel",
        "stack",
        "z",
        F.decode(F.col("data"), "UTF-8").alias("error"),
    )
    return good, bad


def read_stack_tree(
    spark: SparkSession,
    root: str,
    chunk_z: int = 64,
    chunk_y: int | None = None,
    chunk_x: int | None = None,
    on_error: str = "fail",
) -> DataFrame:
    """Scan + decode + chunk in one declarative pipeline: the imaging
    job's chunk-table scan (decode and tile split in one kernel, see
    decode_slices_to_tiles; then the one assembly shuffle).

    With ``on_error="quarantine"`` a corrupt slice becomes a ZERO
    plane at its true z position — INCLUDING a trailing corrupt slice
    (r7): dead letters are rematerialized as zero tiles on the stack's
    tile grid (derived from its healthy slices) before assembly, so
    the slab extent equals the LISTING count exactly like the fused
    ingest — the two quarantine paths produce identical store shapes
    at any corruption position.  A stack with NO healthy slice has no
    derivable geometry and vanishes (the fused path fails its probe
    loudly instead — both refuse to invent pixels).  Use
    decode_slices_to_tiles + split_quarantine directly to also collect
    the dead-letter table."""
    tiles = decode_slices_to_tiles(
        scan_stack_files(spark, root), chunk_z, chunk_y, chunk_x, on_error
    )
    if on_error == "quarantine":
        good, dead = split_quarantine(tiles)
        # zero tiles for every dead (stack, z) over the stack's tile
        # grid: dead letters are rare and the grid aggregate is tiny
        # (one row per (stack, cy, cx)), so this join is noise — and it
        # is what keeps a trailing hole from silently shortening the
        # slab (the fused ingest sizes extents from the LISTING).
        grid = (
            good.select("channel", "stack", "cy", "cx", "dy", "dx", "dtype")
            .distinct()
        )
        dead_pos = dead.select("channel", "stack", "z").withColumn(
            "cz", (F.col("z") / chunk_z).cast("int")
        )
        import pandas as pd  # noqa: F811 — executor-side kernel below

        def _zero_tiles(batches):
            for pdf in batches:
                out = []
                for r in pdf.itertuples(index=False):
                    out.append(
                        (
                            r.channel,
                            r.stack,
                            int(r.cz),
                            int(r.z),
                            int(r.cy),
                            int(r.cx),
                            int(r.dy),
                            int(r.dx),
                            r.dtype,
                            bytes(
                                int(r.dy) * int(r.dx)
                                * np.dtype(r.dtype).itemsize
                            ),
                        )
                    )
                yield pd.DataFrame(out, columns=TILE_COLS)

        zeros = (
            dead_pos.join(grid, ["channel", "stack"])
            .mapInPandas(_zero_tiles, schema=TILE_SCHEMA)
        )
        return assemble_tiles(good.unionByName(zeros), chunk_z=chunk_z)
    return assemble_tiles(tiles)
