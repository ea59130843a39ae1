"""OME-Zarr (v2 + NGFF 0.4) multiscale store layer.

Re-expresses the reference's zarr writer (SURVEY.md §2.1 S7,
`compress/png_to_zarr.py:533-708`) as the pieces Spark tasks and the
driver share:

- executors write chunk blobs from inside their tasks through
  ``ChunkWriter`` (the fused band tasks in imaging/fused.py and the
  streaming writer's staging) — embarrassingly parallel, no
  coordination, idempotent (re-run overwrites);
- the driver writes all JSON metadata (.zgroup/.zattrs/.zarray) ONCE,
  after every chunk has landed (metadata-last, ``_write_all_metadata``),
  from the per-level extents and chunk dims ``plan_store_layout``
  planned up front — the one layout decision every writer shares —
  which removes
  the reference's create-race handling (`safe_create_zarr_group`,
  `compress/png_to_zarr.py:503-530`) and leaves a failed job with no
  store that parses as complete;
- chunk keys use ``dimension_separator="/"`` →
  ``<level>/<t>/<c>/<z>/<y>/<x>`` exactly like the reference
  (`compress/png_to_zarr.py:697`), built only by ``chunk_key``;
- edge chunks are zero-padded to the nominal chunk shape (zarr v2
  stores full-size chunks) by ``ChunkWriter``, the one pad → encode
  → write step every writer uses;
- the chunk codec is defined once (``_make_codec``): ``zstd`` level 1
  behind a byte-shuffle filter by default (the reference writes Blosc
  zstd with byte shuffle, `compress/png_to_zarr.py:533-708`), or
  ``zlib`` / ``none``.  The metadata is plain numcodecs zarr v2
  (``"compressor": {"id": "zstd", "level": 1}``, ``"filters":
  [{"id": "shuffle", "elementsize": 2}]`` for uint16), so stock zarr
  readers decode it; the frames come from pyarrow's zstd and the
  shuffle is numpy.

``read_zarr_level`` is the verification reader: it reopens what the
sink wrote from the spec alone (no zarr library), used by the golden
round-trip tests.

Scale: writes go straight from executors to the target filesystem
through ``pyarrow.fs`` — any URI it resolves (``s3://``, ``gs://``,
``hdfs://``, ``file://``) or a plain local path — replacing the
reference's subprocess ``aws s3 sync`` staging (SURVEY.md §2.1 S9)
with direct object-store PUTs from the write tasks; the reference's
super-block scheduling workaround (S8 BlockedArrayWriter) has no
equivalent because Spark bounds in-flight tasks natively.
"""

from __future__ import annotations

import json
import os
import threading
import time
import zlib
from typing import Any

import numpy as np

from aind_smartspim_data_transformation_spark.functions.imaging_meta import (
    axes_5d,
    build_omero,
    compute_scale_ladder,
    pyramid_provenance,
)

_ZARR_DTYPES = {"uint8": "|u1", "uint16": "<u2", "uint32": "<u4", "float32": "<f4"}

# the chunk codec of the imaging job, run_fused_ingest and the
# format("smartspim") stream writer unless the caller names another
DEFAULT_COMPRESSOR = "zstd"


def _shuffle(buf, itemsize: int) -> np.ndarray:
    """numcodecs ``Shuffle``: byte j of every little-endian element,
    for j = 0 .. itemsize-1, one run after another."""
    u = np.frombuffer(buf, dtype=f"<u{itemsize}")
    out = np.empty((itemsize, u.size), dtype=np.uint8)
    for j in range(itemsize):
        np.right_shift(u, 8 * j, out=out[j], casting="unsafe")
    return out


def _unshuffle(buf, itemsize: int) -> bytes:
    """Inverse of :func:`_shuffle`."""
    planes = np.frombuffer(buf, dtype=np.uint8).reshape(itemsize, -1)
    return np.ascontiguousarray(planes.T).tobytes()


def _make_codec(name: str, kwargs: dict[str, Any] | None, itemsize: int = 2):
    """(zarr codec metadata, compress_fn) for a codec name and the
    chunk dtype's itemsize.

    The metadata is the ``.zarray`` pair ``{"compressor": ...,
    "filters": ...}``; ``compress_fn`` maps a chunk's C-order bytes to
    its stored bytes.  ``zstd`` shuffles bytes first (no filter for
    1-byte dtypes, where a shuffle is the identity); ``zlib`` and
    ``none`` take no filter.  ``kwargs`` may set ``level`` (default 1).
    """
    kwargs = kwargs or {}
    level = int(kwargs.get("level", 1))
    if name == "none":
        return {"compressor": None, "filters": None}, lambda b: b
    if name == "zlib":
        return (
            {"compressor": {"id": "zlib", "level": level}, "filters": None},
            lambda b: zlib.compress(b, level),
        )
    if name == "zstd":
        import pyarrow as pa

        codec = pa.Codec("zstd", compression_level=level)
        meta = {"compressor": {"id": "zstd", "level": level}, "filters": None}
        if itemsize == 1:
            return meta, lambda b: codec.compress(b, asbytes=True)
        meta["filters"] = [{"id": "shuffle", "elementsize": itemsize}]
        return meta, lambda b: codec.compress(
            _shuffle(b, itemsize), asbytes=True
        )
    raise ValueError(f"unknown compressor {name!r} (zstd|zlib|none)")


def _make_decodec(meta: dict[str, Any]):
    """Inverse of ``_make_codec`` from a level's on-disk ``.zarray``:
    stored chunk bytes → C-order chunk bytes.  A compressor or filter
    this reader cannot undo is refused, never passed through."""
    itemsize = np.dtype(meta["dtype"]).itemsize
    nbytes = int(np.prod(meta["chunks"])) * itemsize
    comp = meta["compressor"]
    if comp is None:
        def decompress(b):
            return b
    elif comp["id"] == "zlib":
        decompress = zlib.decompress
    elif comp["id"] == "zstd":
        import pyarrow as pa

        codec = pa.Codec("zstd")

        def decompress(b):
            return codec.decompress(b, decompressed_size=nbytes, asbytes=True)
    else:
        raise ValueError(f"unsupported compressor id {comp['id']!r}")
    filters = meta.get("filters") or []
    for f in filters:
        if f["id"] != "shuffle":
            raise ValueError(f"unsupported filter id {f['id']!r}")

    def decode(b):
        raw = decompress(b)
        for f in reversed(filters):
            raw = _unshuffle(raw, int(f["elementsize"]))
        return raw

    return decode


def pad_block(arr: np.ndarray, dims) -> np.ndarray:
    """Zero-pad an edge block to the nominal chunk shape (zarr v2
    stores full-size chunks); returns ``arr`` unchanged when already
    full.  Writers reach it through :class:`ChunkWriter` — the padding
    convention is load-bearing for byte-compatibility across write
    paths, so it must not be re-derived per site."""
    dims = tuple(dims)
    if arr.shape == dims:
        return arr
    full = np.zeros(dims, dtype=arr.dtype)
    full[tuple(slice(0, s) for s in arr.shape)] = arr
    return full


def chunk_key(group: str, lvl: int, cz: int, cy: int, cx: int) -> str:
    """Key of one chunk inside a stack group: ``<group>/<lvl>/0/0/<cz>/
    <cy>/<cx>`` (t = c = 0, ``dimension_separator="/"``, like the
    reference, `compress/png_to_zarr.py:697`).  The ONE place the
    store's chunk-key layout is spelled out — every writer and
    :func:`read_zarr_level` build keys here."""
    return f"{group}/{lvl}/0/0/{cz}/{cy}/{cx}"


def stack_group(root: str, channel: str, stack: str) -> str:
    """A stack's group under an output root: ``<root>/<channel>/
    <stack>.ome.zarr`` — for metadata paths and chunk keys alike."""
    return os.path.join(root, channel, f"{stack}.ome.zarr")


class ChunkWriter:
    """One task's chunk writes through one filesystem handle: zero-pad
    an edge block to its level's chunk dims, encode it with the
    ``_make_codec`` function of its dtype, create the parent directory
    once per task, write.  Every writer goes through it (the fused
    band tasks and the streaming writer's staging), so the write paths
    cannot drift apart on bytes."""

    def __init__(self, fs, compress=None):
        self.fs = fs
        self.compress = compress
        self._made: set[str] = set()
        # seconds spent padding + compressing, and creating directories
        # + writing files, for the caller's phase accounting
        self.compress_s = 0.0
        self.write_s = 0.0

    def make_parent(self, key: str) -> None:
        parent = key.rsplit("/", 1)[0]
        if parent not in self._made:
            self.fs.create_dir(parent, recursive=True)
            self._made.add(parent)

    def write(self, key: str, block: np.ndarray, dims) -> None:
        t0 = time.perf_counter()
        payload = self.compress(
            np.ascontiguousarray(pad_block(block, dims)).tobytes()
        )
        t1 = time.perf_counter()
        self.make_parent(key)
        with self.fs.open_output_stream(key) as f:
            f.write(payload)
        self.compress_s += t1 - t0
        self.write_s += time.perf_counter() - t1


def _fs_for(root: str):
    """(pyarrow filesystem, filesystem-local path) for a plain local
    path or any URI pyarrow.fs resolves (``file://``, ``s3://``,
    ``gs://``, ``hdfs://``...).  This is what makes the sink
    object-store capable: executors and the driver write through the
    same abstraction, no subprocess staging (reference S9 shells out to
    ``aws s3 sync``, `io/utils.py:138-201`)."""
    from pyarrow import fs as pafs

    if "://" in root:
        return pafs.FileSystem.from_uri(root)
    return pafs.LocalFileSystem(), root


def _write_json(path: str, obj: Any) -> None:
    """Race-free metadata write: stacks are written concurrently
    (imaging/job.py) and sibling stacks share the root ``.zgroup``.
    On a local filesystem this is tmp + atomic rename (the reference
    handles the same race with ContainsGroupError catching,
    `compress/png_to_zarr.py:503-530`); on an object store a single
    PUT is already atomic, so the write goes straight through."""
    from pyarrow import fs as pafs

    fs, p = _fs_for(path)
    payload = json.dumps(obj, indent=2).encode()
    parent = p.rsplit("/", 1)[0]
    fs.create_dir(parent, recursive=True)
    if isinstance(fs, pafs.LocalFileSystem):
        tmp = f"{p}.tmp.{os.getpid()}.{threading.get_ident()}"
        with fs.open_output_stream(tmp) as f:
            f.write(payload)
        fs.move(tmp, p)  # rename(2): atomic on POSIX
    else:
        with fs.open_output_stream(p) as f:
            f.write(payload)


def _write_all_metadata(
    plan: dict[tuple[str, str], dict[str, Any]],
    voxel_size_zyx: list[float],
    scale_factor_zyx: list[int],
    compressor_name: str,
    compressor_kwargs: dict[str, Any] | None,
    extra_attrs: dict[str, Any] | None = None,
) -> None:
    """Driver-side metadata writer shared by the fused ingest
    (imaging/fused.py) and the streaming writer: per stack of a
    :func:`plan_store_layout` plan, the channel and group .zgroup, the
    group .zattrs and every level's .zarray at the plan's extent and
    chunk dims — ONE implementation so the write paths can never
    disagree on metadata.  Each stack's compressor and filters come
    from ``_make_codec`` at its dtype.  ``extra_attrs`` entries land
    inside the stack's single ``.zattrs`` write (the streaming writer's
    epoch marker must be atomic with store creation — see
    append_slab_transaction)."""
    for (channel, stack), entry in plan.items():
        group, dtype, levels = entry["group"], entry["dtype"], entry["levels"]
        shape_5d = (1, 1, *levels[0][0])
        transforms = compute_scale_ladder(
            voxel_size_zyx, scale_factor_zyx, len(levels)
        )
        # the channel group (the stack group's parent), then the stack's
        for g in (os.path.dirname(group), group):
            _write_json(os.path.join(g, ".zgroup"), {"zarr_format": 2})
        attrs = {
            "multiscales": [
                {
                    "axes": axes_5d(),
                    "datasets": [
                        {"path": str(i), "coordinateTransformations": t}
                        for i, t in enumerate(transforms)
                    ],
                    "name": f"/{stack}.ome.zarr",
                    "version": "0.4",
                    "metadata": pyramid_provenance(),
                }
            ],
            "omero": build_omero(
                channel, shape_5d, np.dtype(dtype), image_name=f"{stack}.ome.zarr"
            ),
        }
        if extra_attrs:
            attrs.update(extra_attrs)
        codec, _ = _make_codec(
            compressor_name, compressor_kwargs, np.dtype(dtype).itemsize
        )
        for lvl, (extent, dims) in enumerate(levels):
            _write_json(
                os.path.join(group, str(lvl), ".zarray"),
                {
                    "zarr_format": 2,
                    "shape": [1, 1, *extent],
                    "chunks": [1, 1, *dims],
                    "dtype": _ZARR_DTYPES[dtype],
                    "compressor": codec["compressor"],
                    "fill_value": 0,
                    "filters": codec["filters"],
                    "order": "C",
                    "dimension_separator": "/",
                },
            )
        # .zattrs LAST: it is what makes the group parse as a store, so
        # nothing can observe a stack whose levels are missing — and the
        # streaming writer's epoch marker inside it becomes atomic with
        # store creation (a replay never sees marker-without-levels or
        # levels-without-marker)
        _write_json(os.path.join(group, ".zattrs"), attrs)


def plan_store_layout(
    geo,
    output_root: str,
    chunk_zyx: list[int],
    scale_factor_zyx: list[int],
    n_lvls: int,
) -> dict[tuple[str, str], dict[str, Any]]:
    """PURE layout planner, the one place a store's level layout is
    decided, with NO writes — so a writer can validate and plan BEFORE
    its data job and write metadata AFTER it (metadata-last; the fused
    ingest does exactly this).  ``geo`` rows carry channel, stack, the
    full extents z/y/x and dtype.  Per (channel, stack) the plan holds
    ``{"group": path, "dtype": ..., "levels": [(extent, dims), ...]}``
    with zyx tuples: level 0's chunk dims are ``chunk_zyx`` clamped to
    the extent, and each level's extent and chunk dims are the level
    above's ceil-divided by the factor, so the chunk GRID is the same
    at every level.

    The guard: per-chunk downsampling is exact only when a retained
    level's chunk dims are divisible by the factor OR the chunk spans
    the whole extent on that axis (then the truncated window IS the
    array edge) — refuse loudly instead of planning levels that diverge
    from the global windowed mean (see
    pyramid.validate_pyramid_geometry).  A dtype the store cannot
    declare is refused here too."""
    plan: dict[tuple[str, str], dict[str, Any]] = {}
    for r in geo:
        channel, stack = r["channel"], r["stack"]
        if r["dtype"] not in _ZARR_DTYPES:
            raise ValueError(
                f"zarr sink: unsupported dtype {r['dtype']} in "
                f"{channel}/{stack}"
            )
        extent = (int(r["z"]), int(r["y"]), int(r["x"]))
        dims = tuple(map(min, chunk_zyx, extent))
        levels = []
        for lvl in range(n_lvls):
            for ax, (d, f, e) in enumerate(zip(dims, scale_factor_zyx, extent)):
                if lvl < n_lvls - 1 and d % f != 0 and d != e:
                    raise ValueError(
                        f"zarr sink: level-{lvl} chunk dim {d} on axis "
                        f"{'zyx'[ax]} of {channel}/{stack} is neither "
                        f"divisible by factor {f} nor the full extent "
                        f"{e} — per-chunk pyramid would diverge from "
                        f"the global windowed mean"
                    )
            levels.append((extent, dims))
            extent = tuple(-(-e // f) for e, f in zip(extent, scale_factor_zyx))
            dims = tuple(-(-d // f) for d, f in zip(dims, scale_factor_zyx))
        plan[(channel, stack)] = {
            "group": stack_group(output_root, channel, stack),
            "dtype": r["dtype"],
            "levels": levels,
        }
    return plan


def read_zarr_level(group: str, level: int) -> np.ndarray:
    """Spec-only reader: reassemble one level into (Z, Y, X) numpy.
    Accepts local paths and pyarrow.fs URIs (file:// s3:// ...).
    Undoes the level's compressor and ``shuffle`` filters and raises
    ``ValueError`` on any other."""
    from pyarrow import fs as pafs

    fs, gpath = _fs_for(group)
    lvl_dir = f"{gpath}/{level}"
    with fs.open_input_stream(f"{lvl_dir}/.zarray") as f:
        meta = json.loads(f.read().decode())
    shape = meta["shape"]
    chunks = meta["chunks"]
    dtype = np.dtype(meta["dtype"])
    decompress = _make_decodec(meta)
    out = np.zeros(tuple(shape[2:]), dtype=dtype)
    cz_n = -(-shape[2] // chunks[2])
    cy_n = -(-shape[3] // chunks[3])
    cx_n = -(-shape[4] // chunks[4])
    for cz in range(cz_n):
        for cy in range(cy_n):
            for cx in range(cx_n):
                key = chunk_key(gpath, level, cz, cy, cx)
                if fs.get_file_info(key).type == pafs.FileType.NotFound:
                    continue
                with fs.open_input_stream(key) as f:
                    raw = decompress(f.read())
                block = np.frombuffer(raw, dtype=dtype).reshape(tuple(chunks[2:]))
                z0, y0, x0 = cz * chunks[2], cy * chunks[3], cx * chunks[4]
                z1 = min(z0 + chunks[2], shape[2])
                y1 = min(y0 + chunks[3], shape[3])
                x1 = min(x0 + chunks[4], shape[4])
                out[z0:z1, y0:y1, x0:x1] = block[: z1 - z0, : y1 - y0, : x1 - x0]
    return out


def append_slab_transaction(
    group: str,
    geo: list[tuple[tuple[int, int, int], str]],
    chunk_info: list[tuple[int, int]],
    write_level,
    extra_attrs: dict[str, Any] | None = None,
) -> str:
    """Append a z-slab pyramid to an EXISTING multiscale store: the
    commit of the streaming DataSource writer
    (``sources/smartspim_datasource.SmartspimStreamWriter``), whose
    chunk writes are staged-file promotions.  Each wave lands in the
    store without rereading or rewriting a byte of earlier data; the
    reference has no incremental path (every run rebuilds the full
    stack, `compress/png_to_zarr.py:673-686`).

    ``geo[lvl]`` = ((z, y, x), dtype) of the slab's level-lvl extent;
    ``chunk_info[lvl]`` = (first-chunk dz, number of z-chunks);
    ``write_level(lvl, off, meta)`` must (re-)write level lvl's chunks
    shifted by ``off`` store z-chunks — it MUST be idempotent
    (fixed keys, deterministic bytes), because the roll-forward path
    re-invokes it for uncommitted levels.

    Validation, all before any chunk lands: level count, dtype and y/x
    plane match the store; each level's slab extent is an exact
    reduction of the one above (no truncated boundary window); the
    store does not end on a partial z-chunk; the slab's z-chunk grid
    is the store's.

    Crash safety: before any chunk lands, an intent fence
    ``.zattrs["append_in_progress"] = {"pre_z": [...], "post_z": [...]}``
    records every level's pre/post z extent; it is dropped only after
    every level's chunks and ``.zarray`` shape are committed.  A retry
    with the same slab ROLLS FORWARD (per level, ``shape[2] == post_z``
    is committed and skipped, ``shape[2] == pre_z`` is redone — the
    ``.zarray`` shape update is the level's commit point); a retry
    whose slab extents differ from the fence's is refused.  Only
    ``shape`` (per level) and ``omero.rdefs.defaultZ`` change; NGFF
    transforms are depth-independent.

    ``extra_attrs`` entries are merged into ``.zattrs`` IN THE SAME
    WRITE that drops the fence — the append's overall commit point —
    so a marker (e.g. the streaming writer's epoch guard) can never be
    observed separately from the commit it guards (a separate write
    would leave a crash window where the append committed but the
    marker didn't, and a replay double-appends).
    """
    fs, gpath = _fs_for(group)
    # A slab whose level-i z extent is not an exact multiple of the
    # i→i+1 reduction factor would FINALIZE a truncated edge window at
    # the slab boundary — the one-shot pyramid instead combines those
    # planes with the next slab's, so the stores would silently
    # diverge.  The factor comes from the STORE's NGFF scale ladder
    # (scale_z ratio between levels) — inferring it from the slab's own
    # extents cannot reject slabs shallower than factor**(n_levels-1)
    # (once an extent hits 1, any ratio "divides" it).
    with fs.open_input_stream(f"{gpath}/.zattrs") as f:
        attrs = json.loads(f.read().decode())
    datasets = attrs["multiscales"][0]["datasets"]
    if len(datasets) != len(geo):
        raise ValueError(
            f"append: slab has {len(geo)} levels, store has "
            f"{len(datasets)} — rebuild the slab pyramid with the "
            f"store's level count"
        )
    scales_z = [d["coordinateTransformations"][0]["scale"][2] for d in datasets]
    for i in range(len(geo) - 1):
        fz = round(scales_z[i + 1] / scales_z[i])
        zi, zi1 = geo[i][0][0], geo[i + 1][0][0]
        if zi % fz != 0 or zi1 != zi // fz:
            raise ValueError(
                f"append: slab level-{i} z extent {zi} is not an exact "
                f"×{fz} reduction to level {i + 1} ({zi1}) — the "
                f"boundary window would be truncated and the store "
                f"would diverge from a one-shot build; append slabs in "
                f"factor**(n_levels-1)-plane multiples"
            )
    metas = []
    for lvl in range(len(geo)):
        with fs.open_input_stream(f"{gpath}/{lvl}/.zarray") as f:
            metas.append(json.loads(f.read().decode()))
    cur_z = [m["shape"][2] for m in metas]
    slab_z = [geo[lvl][0][0] for lvl in range(len(geo))]

    fence = attrs.get("append_in_progress")
    if fence is not None:
        pre_z, post_z = list(fence["pre_z"]), list(fence["post_z"])
        if [b - a for a, b in zip(pre_z, post_z)] != slab_z:
            raise ValueError(
                "append: store has an in-progress append fence for slab "
                f"z extents {[b - a for a, b in zip(pre_z, post_z)]} but "
                f"this slab's are {slab_z} — a previous append crashed "
                "midway; retry it with the SAME slab to roll forward, or "
                "rebuild the store"
            )
        bad = [
            lvl
            for lvl in range(len(geo))
            if cur_z[lvl] not in (pre_z[lvl], post_z[lvl])
        ]
        if bad:
            raise ValueError(
                f"append: levels {bad} have z extents "
                f"{[cur_z[i] for i in bad]} matching neither the fence's "
                f"pre {[pre_z[i] for i in bad]} nor post "
                f"{[post_z[i] for i in bad]} — the store was modified "
                "outside the fenced append; rebuild"
            )
        base_z = pre_z
    else:
        base_z = cur_z

    for lvl in range(len(geo)):
        meta = metas[lvl]
        (z_new, y_new, x_new), dtype = geo[lvl]
        shape = meta["shape"]
        chunks = meta["chunks"]
        if _ZARR_DTYPES[dtype] != meta["dtype"]:
            raise ValueError(
                f"append: dtype {dtype} != store {meta['dtype']} (level {lvl})"
            )
        if (y_new, x_new) != (shape[3], shape[4]):
            raise ValueError(
                f"append: plane {y_new}x{x_new} != store "
                f"{shape[3]}x{shape[4]} (level {lvl})"
            )
        # roll-forward skips this: a committed level legitimately ends
        # on the slab's own trailing partial chunk
        if fence is None and shape[2] % chunks[2] != 0:
            raise ValueError(
                f"append: store z extent {shape[2]} is not a multiple of "
                f"its z-chunk {chunks[2]} (level {lvl}) — the previous "
                f"append ended on a partial chunk; rebuild or re-chunk"
            )
        # The slab's z-chunk grid must match the STORE's: cz indices are
        # interpreted in store-chunk units, so a slab chunked deeper
        # (first-wave-clamped store chunk < later wave's chunk_z) would
        # crash mid-write, and a slab chunked shallower would scatter
        # zero-padded part-chunks one store-chunk apart — silent data
        # loss.  Valid: slab chunk z == store chunk z (trailing partial
        # allowed), or the whole slab fits one store chunk.
        head_dz, n_cz = chunk_info[lvl]
        if (z_new > chunks[2] and head_dz != chunks[2]) or (
            z_new <= chunks[2] and n_cz != 1
        ):
            raise ValueError(
                f"append: slab level-{lvl} z-chunking (first chunk dz="
                f"{head_dz}, {n_cz} z-chunks for extent {z_new}) "
                f"does not match the store's z-chunk {chunks[2]} — "
                f"assemble the slab with chunk_z={chunks[2]}"
            )

    # Every level validated and NO chunk written yet — this is the
    # point of no return: fence the append so a crash anywhere past
    # here is detectable and the retry rolls forward.
    if fence is None:
        attrs["append_in_progress"] = {
            "pre_z": base_z,
            "post_z": [a + b for a, b in zip(base_z, slab_z)],
        }
        _write_json(f"{gpath}/.zattrs", attrs)

    for lvl in range(len(geo)):
        meta = metas[lvl]
        (z_new, _y_new, _x_new), _dtype = geo[lvl]
        shape = meta["shape"]
        chunks = meta["chunks"]
        if fence is not None and cur_z[lvl] == base_z[lvl] + z_new:
            continue  # this level's append already committed
        off = base_z[lvl] // chunks[2]
        write_level(lvl, off, meta)
        # the level's COMMIT point: chunks are all on disk (idempotent
        # keys, so a redo overwrote byte-identical data), now the shape
        meta["shape"] = [1, 1, base_z[lvl] + z_new, shape[3], shape[4]]
        _write_json(f"{gpath}/{lvl}/.zarray", meta)
    # finalize: drop the fence (the append's overall commit point) and
    # keep the default display plane centered in the GROWN stack
    attrs.pop("append_in_progress", None)
    rdefs = attrs.get("omero", {}).get("rdefs")
    if rdefs is not None and "defaultZ" in rdefs:
        rdefs["defaultZ"] = (base_z[0] + slab_z[0]) // 2
    if extra_attrs:
        attrs.update(extra_attrs)
    _write_json(f"{gpath}/.zattrs", attrs)
    return group
