"""SmartSPIM stack scan and slice decode.

Re-expresses the reference's imaging ingest (SURVEY.md §2.1 S1-S4):

- S1 directory-tree stack scan (`smartspim_job.py:43-63` walks
  ``SmartSPIM/<channel>/<col>/<col>_<row>/``) → :func:`list_stack_files`,
  one driver-side recursive listing sorted by path (the reference's
  ``sort(key=str)``, `smartspim_job.py:59-60`) that plans the fused
  ingest (imaging/fused.py).  :func:`scan_stack_files` is the same
  listing as a ``binaryFile`` DataFrame with the file bytes; it pins
  the listing's parity in the tests and is the listing that
  ``perfbench/worker.py`` times.
- S2/S3 lazy PNG/TIFF stack reader (`io/readers.py:129-145`, one dask
  chunk per slice; `compress/png_to_zarr.py:459-500` TIFF path) →
  :func:`decode_image_gray`, the format picked by magic bytes per file
  and an optional row window, called inside the fused band tasks.
- S4 header probe (`io/readers.py:147-174`) → :func:`probe_image_header`
  over the header bytes, no decompression.
- P1 extension whitelist (`smartspim_job.py:145-150`), enforced by
  :func:`list_stack_files`.

``CHUNK_SCHEMA`` is the relational encoding of the 5-D canonical
tensor (SURVEY.md §1.4): one row per chunk with coordinates
``(t, c, cz, cy, cx)``, actual dims ``(dz, dy, dx)`` (t/c are size-1,
the reference's pad-to-5D P4/P5), dtype, and C-order little-endian
bytes.  ``pyramid.downsample_chunks`` and the i03 query run over it.

Scale posture: the fused ingest plans from ONE listing held on the
driver as path-sorted tuples (metadata only, ~10⁶ rows at acquisition
scale); slice bytes are read only inside the band tasks.
"""

from __future__ import annotations

import os
import re

import numpy as np

from pyspark.sql import DataFrame, SparkSession
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


# The SmartSPIM path parse (``SmartSPIM/<channel>/…/<stack>/<stem>.<ext>``);
# the Spark scans pass ``.pattern`` to ``regexp_extract``.
_EXT_RE = re.compile(r"\.([A-Za-z]+)$")
_CHANNEL_RE = re.compile(r"SmartSPIM/([^/]+)/")
_STACK_RE = re.compile(r"/([^/]+)/[^/]+\.[A-Za-z]+$")
_SLICE_KEY_RE = re.compile(r"/(\d+)\.[A-Za-z]+$")

CHUNK_SCHEMA = (
    "channel string, stack string, t int, c int, cz int, cy int, cx int, "
    "dz int, dy int, dx int, dtype string, data binary"
)


def scan_stack_files(spark: SparkSession, root: str) -> DataFrame:
    """binaryFile scan of a SmartSPIM tree with path-derived columns.

    Built on the imaging CHILD session (session.imaging_session): the
    scan and anything downstream of it execute with imaging-sized Arrow
    batches while the caller's session keeps its relational batch
    config untouched.
    """
    from aind_smartspim_data_transformation_spark.session import imaging_session

    df = (
        imaging_session(spark)
        .read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(root)
    )
    ext = F.lower(F.regexp_extract("path", _EXT_RE.pattern, 1))
    channel = F.regexp_extract("path", _CHANNEL_RE.pattern, 1)
    stack = F.regexp_extract("path", _STACK_RE.pattern, 1)
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
