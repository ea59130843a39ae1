"""Fused zero-shuffle imaging ingest: decode → chunk → ALL pyramid
levels → compressed OME-Zarr chunks, in ONE Python task per
(z-slab, y-band, x-tile).  This is the imaging job's only batch route.

Pixel bytes never enter the JVM.  The driver plans every band group as
one plain tuple carrying its slice paths, and the ingest is two plain
Python RDD jobs over such tuples — the geometry probe and the band
stage (``parallelize(groups).map``, one task per group) — with no
DataFrame, Arrow, pandas or shuffle between the plan and the tasks;
each task sends back one summary tuple.  A band task's work is
:func:`write_slab`, the one slab writer, which the streaming writer
(sources/smartspim_datasource.py) calls too.

Why a task can compute the WHOLE pyramid locally: the store's chunk
GRID is preserved across levels (chunk dims shrink by the factor, so
level-L chunk (cz,cy,cx) derives exactly from level-(L-1) chunk
(cz,cy,cx)), and the geometry guard (``plan_store_layout``) only
admits chunk dims where per-chunk windowed means equal the global
windowed mean (divisible-by-factor or full-extent per axis).  The
tests check every level of the store against the numpy
``windowed_mean`` ladder of the decoded slices.

Parallelism: slabs alone can under-fill a cluster (a 64-slice
acquisition at chunk_z=128 is one slab per stack), so each slab is
further split into Y-BANDS of whole chunk rows (band count ≈ 4×
parallelism), executed FOLDED: task f processes bands f and
n_bands−1−f.  One decode pass per slice serves both bands — a PNG
must inflate up to the higher band's end anyway, so the lower band's
rows are free, per-task decode cost (≈ max band end) is near-constant
across folds instead of ramping with the band index, and slice-row
duplication halves; TIFF folds decode each band window separately
(strips are random-access, so the rows between the fold's bands are
never read).  Fold count ≈ 2× parallelism keeps full occupancy with
balanced tasks.

Memory envelope: a task buffers its fold's two bands (``2 × min(cz, z)
× band_rows × tile_width`` pixels) plus one decoded row span (``y ×
x`` at most).  :func:`_band_plan` sizes the band buffers to what
``FUSED_MAX_TASK_BYTES`` leaves after the span: it first narrows bands
to one chunk row, and when even a one-chunk-row band at full width
does not fit, it also splits each band into X-TILES of whole chunk
columns.  Every band group re-decodes its slices' rows, so the buffers
never get less than 1/16 of a z-slab: fitting the envelope splits a
slab into at most about 32 groups, and a plane too large for the
envelope (8192² × 256 or 16384² × 8 uint16 at 128³ chunks) gets tasks
above it rather than hundreds of re-decodes per slice.  The decoded
row span is the one term no split removes.  There is no setting that
changes the plan or the route.

Error handling (round 7): every slice passes a HEADER-ONLY geometry
gate against the probed stack geometry before decoding (a taller slice
decodes cleanly inside every band window, so only the header can see
it — previously its bottom rows were silently dropped), band buffers
are allocated from the probe, and each decoded window's shape/dtype is
re-checked before copying.  ``on_error="quarantine"`` gives dead-letter
semantics with WHOLE-PLANE atomicity: quarantine mode decodes the full
slice (strict end-to-end validation — PNG adler32 + exact length,
every TIFF strip/tile), so a slice corrupt ANYWHERE zero-fills at its
z position in every band and tile (a trailing corrupt slice
included), and one dead-letter row per (stack, z) rides the per-task
summary channel back — at 100 TB one bad slice costs one triage row,
not a full-job rerun.  Quarantine trades the windowed-decode saving
for that atomicity; fail mode keeps the windowed fast path.

Reference parity: the reference writes each stack via a dask graph and
re-reads every written level to compute the next
(`compress/png_to_zarr.py:350-394,673-686`); this path is strictly
fewer passes (decode once per band, no level re-reads, no staging).
"""

from __future__ import annotations

from typing import Any

import numpy as np

from pyspark.sql import SparkSession

from aind_smartspim_data_transformation_spark.imaging.pyramid import windowed_mean
from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
    DEFAULT_COMPRESSOR,
)
from aind_smartspim_data_transformation_spark.sources.stack_reader import (
    _PNG_SIG,
    decode_image_gray,
    probe_image_header,
)

# A fused task buffers one (z-slab, y-band).  256 MiB × 32 concurrent
# tasks ≈ 8 GiB peak — conservative for this container; on a real
# cluster size it to executor memory / cores.
FUSED_MAX_TASK_BYTES = 256 << 20

# Every band group re-reads and re-decodes its slices' rows, so the
# band buffers' budget never drops below 1/_MAX_SLAB_SPLIT of a z-slab
# (see _band_plan): fitting the envelope splits a slab into at most
# about twice this many band groups.
_MAX_SLAB_SPLIT = 16

# Mid-job restartability (round 8): every completed band group leaves an
# atomic marker here; a rerun skips marker-present bands and merges their
# saved metrics.  Deleted after the metadata-last finalize — a COMPLETE
# store never carries progress droppings.
_PROGRESS_DIRNAME = ".fused_progress"

# The band-task phases timed into ``metrics["phase_sec"]``: slice
# reads; header gate + decode + window checks + band-buffer copy;
# windowed means; pad + compress; directory, chunk and marker writes.
PHASES = ("read", "decode", "pyramid", "compress", "write")


def _marker_name(channel: str, stack: str, slab: int, gi: int) -> str:
    from urllib.parse import quote

    return (
        f"{quote(channel, safe='')}__{quote(stack, safe='')}"
        f"__{slab}__{gi}.json"
    )


def _publish_marker(fs, tmp: str, dest: str) -> None:
    """Move a fully-written temp marker to its final name, tolerating
    concurrent attempts (ADVICE r9): two retried/speculative tasks can
    interleave the check-delete-move so one deletes the other's freshly
    published marker and dies before its own move, or the move hits a
    target re-created between the delete and the move — which fails on
    HDFS-like no-overwrite renames despite the pre-check.  Marker
    content is byte-identical across attempts by construction (same
    band, same deterministic decode, same fingerprints), so a failed
    move whose destination EXISTS is success — a sibling published the
    equivalent bytes — and transient interleavings get a short retry.
    """
    from pyarrow import fs as _pafs

    last_exc: Exception | None = None
    for _ in range(3):
        try:
            if fs.get_file_info(dest).type != _pafs.FileType.NotFound:
                fs.delete_file(dest)
            fs.move(tmp, dest)
            return
        except OSError as exc:
            last_exc = exc
            # the recovery probe itself may hit the same transient
            # blip the retry loop exists for — a probe failure must
            # consume this attempt, not abort the remaining retries
            # with the move error masked
            try:
                dest_exists = (
                    fs.get_file_info(dest).type != _pafs.FileType.NotFound
                )
            except OSError:
                continue
            if dest_exists:
                # sibling's byte-equivalent marker; drop our temp
                try:
                    fs.delete_file(tmp)
                except OSError:
                    pass
                return
    raise last_exc


def _progress_fingerprints(
    root: str,
    output_root: str,
    chunk_zyx: list[int],
    scale_factor_zyx: list[int],
    n_levels: int,
    codec_meta: dict[str, Any] | None,
    geo: list[dict[str, Any]],
    plan: dict[tuple[str, str], tuple[int, int]],
    on_error: str,
    content_fp: str = "",
) -> tuple[str, str]:
    """(store_fp, plan_fp).  store_fp covers everything that determines
    the chunk KEY LAYOUT (a mismatch means the target holds chunks
    from a different store layout — refuse, the operator must clear it);
    plan_fp additionally covers the band split + error mode + the input
    LISTING digest (input_listing_digest: count/bytes/per-file
    hash-sum; metadata-based by default, true content checksum on
    request — a mismatch just invalidates the markers: the chunk keys
    are still idempotent, so the rerun redoes everything, correctly).
    Folding input identity into plan_fp, not store_fp, is deliberate:
    after a quarantine-mode crash the likely operator move is replacing
    the corrupt slice in place (same name, same shape) and re-running —
    the geometry fingerprints still match, so without the digest the
    resume would silently keep the marker-complete band's zeroed planes
    and re-report stale dead letters for data that is now fine.  With
    it, every marker invalidates and the full redo overwrites every
    chunk from the fixed input (for a timestamp-preserving in-place
    replacement the operator must pass resume_digest="content")."""
    import hashlib
    import json as _json

    store = _json.dumps(
        {
            "root": root,
            "output_root": output_root,
            "chunk": list(chunk_zyx),
            "factors": list(scale_factor_zyx),
            "n_levels": n_levels,
            "codec": codec_meta,
            "geo": sorted(
                (g["channel"], g["stack"], g["z"], g["y"], g["x"], g["dtype"])
                for g in geo
            ),
        },
        sort_keys=True,
    )
    plan_s = _json.dumps(
        {
            "plan": sorted((list(k), list(v)) for k, v in plan.items()),
            "on_error": on_error,
            "content": content_fp,
        },
        sort_keys=True,
    )
    h = hashlib.sha256(store.encode()).hexdigest()
    return h, hashlib.sha256((h + plan_s).encode()).hexdigest()


def _read_progress_markers(
    output_root: str, store_fp: str, plan_fp: str
) -> dict[tuple[str, str, int, int], dict[str, Any]]:
    """Valid completion markers under ``<output_root>/.fused_progress``,
    keyed by (channel, stack, slab, gi), the band group gi = fold·n_xt
    + x-tile.  A marker whose store fingerprint differs is a LOUD error
    (the target mixes layouts); a plan-only mismatch silently
    invalidates all markers (full redo is correct — chunk keys are
    idempotent)."""
    import json as _json

    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
        _fs_for,
    )
    from pyarrow import fs as pafs

    fs, base = _fs_for(output_root)
    pdir = f"{base}/{_PROGRESS_DIRNAME}"
    if fs.get_file_info(pdir).type == pafs.FileType.NotFound:
        return {}
    done: dict[tuple[str, str, int, int], dict[str, Any]] = {}
    stale = False
    for info in fs.get_file_info(pafs.FileSelector(pdir)):
        if not info.path.endswith(".json"):
            continue
        with fs.open_input_stream(info.path) as f:
            m = _json.loads(f.read().decode())
        if m.get("store_fp") != store_fp:
            raise ValueError(
                f"fused progress marker {info.path} was written by a "
                f"different store configuration (chunk/factors/levels/"
                f"codec/geometry) — the target mixes layouts; clear "
                f"{output_root} (or {pdir}) before re-running"
            )
        if m.get("plan_fp") != plan_fp:
            stale = True
            continue
        c, s, slab, gi = m["key"]
        done[(c, s, int(slab), int(gi))] = m
    if stale and not done:
        # different band plan (parallelism / on_error changed): markers
        # are meaningless under the new split — drop them and redo
        fs.delete_dir(pdir)
        return {}
    return done


def _open_bytes(path: str, n: int | None = None) -> bytes:
    """Read a file (or its first ``n`` bytes — a ranged header probe)
    by Spark-listing path: ``file:/x`` / ``file:///x`` URIs (what
    list_stack_files and binaryFile listings produce) or any pyarrow.fs URI."""
    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
        _fs_for,
    )

    if path.startswith("file:"):
        p = path[5:]
        while p.startswith("//"):
            p = p[1:]
        with open(p, "rb") as f:
            return f.read() if n is None else f.read(n)
    fs, p = _fs_for(path)
    with fs.open_input_stream(p) as f:
        return f.read() if n is None else f.read(n)


def probe_slice(path: str) -> tuple[int, int, int]:
    """(width, height, bitdepth) of one slice from its header, with no
    pixel decompression.  A PNG header needs a ranged 64-byte read —
    at 10⁴ stacks a probe reads KBs instead of the first slices' GBs;
    TIFF IFDs sit at an arbitrary offset (often the tail), so a TIFF
    is read whole."""
    head = _open_bytes(path, 64)
    return probe_image_header(head if head[:8] == _PNG_SIG else _open_bytes(path))


def write_slab(
    paths: list[str],
    wins: list[tuple[int, int, int]],
    cols: tuple[int, int, int],
    plane: tuple[int, int, str],
    chunk_yx: tuple[int, int],
    factors: tuple[int, ...],
    ladder: list[tuple[int, int, int]],
    key,
    cw,
    quarantine: bool = False,
) -> tuple[int, int, list[tuple[int, str]], float, float, float]:
    """The one slab writer, called by the fused band tasks and the
    streaming writer: read, header-gate and decode the slices ``paths``
    (one z-chunk of one stack, in z order) into the ``(cy0, y0, y1)``
    row windows ``wins`` and the ``(cx0, x0, x1)`` column span ``cols``
    (cy0/cx0: the first chunk row/column), then write every pyramid
    level of each ``chunk_yx`` chunk through the ``ChunkWriter`` ``cw``
    at ``key(lvl, cy, cx)``, padded to ``ladder[lvl]``.  ``plane`` is the
    ``(height, width, dtype)`` every slice must have; the gates and the
    ``quarantine`` semantics are the module docstring's error handling.

    Returns (level-0 chunks, raw level-0 bytes, ``(slab index, error)``
    dead letters, read_s, decode_s, pyramid_s); compress and write
    seconds accrue on ``cw``.
    """
    import time

    height, width, dtype_name = plane
    exp_dtype = np.dtype(dtype_name)
    exp_bits = exp_dtype.itemsize * 8
    cy_chunk, cx_chunk = chunk_yx
    cx0, x0, x1 = cols
    lo, hi = wins[0][1], wins[-1][2]

    def _decode_windows(data):
        if quarantine:
            # whole-plane atomicity: decode (and validate) the full slice
            full = decode_image_gray(data)
            return [full[y0:y1, x0:x1] for (_, y0, y1) in wins]
        # PNG inflates sequentially, so ONE pass to the higher window's
        # end serves both windows (the lower one is free); TIFF strips
        # are random-access, so per-window decodes skip the rows
        # BETWEEN the windows too.
        if len(wins) == 1 or data[:8] == _PNG_SIG:
            span = decode_image_gray(data, row_stop=hi, row_start=lo)
            return [span[y0 - lo : y1 - lo, x0:x1] for (_, y0, y1) in wins]
        return [
            decode_image_gray(data, row_stop=y1, row_start=y0)[:, x0:x1]
            for (_, y0, y1) in wins
        ]

    t_loop = time.perf_counter()
    read_s = 0.0
    # zeros, not empty: a quarantined slice's rows must come out
    # zero-filled AT POSITION (memset cost is noise next to the
    # decode+compress kernels this task runs)
    bufs = [
        np.zeros((len(paths), y1 - y0, x1 - x0), dtype=exp_dtype)
        for (_, y0, y1) in wins
    ]
    dead: list[tuple[int, str]] = []
    for i, path in enumerate(paths):
        try:
            t0 = time.perf_counter()
            data = _open_bytes(path)
            read_s += time.perf_counter() - t0
            # header-only gate: a windowed decode cannot see a slice
            # taller than the plane
            wp, hp, bits = probe_image_header(data)
            if (hp, wp) != (height, width) or bits != exp_bits:
                raise ValueError(
                    f"slice geometry mismatch in {path}: header "
                    f"{hp}x{wp}/{bits}bit != probed "
                    f"{height}x{width}/{exp_bits}bit"
                )
            parts = _decode_windows(data)
            for p, (_, y0, y1) in zip(parts, wins):
                if p.shape != (y1 - y0, x1 - x0) or p.dtype != exp_dtype:
                    raise ValueError(
                        f"slice geometry mismatch in {path}: decoded "
                        f"window {p.shape} {p.dtype} != probed "
                        f"{(y1 - y0, x1 - x0)} {exp_dtype}"
                    )
        except Exception as exc:  # noqa: BLE001 — dead-letter boundary
            if not quarantine:
                raise
            dead.append((i, f"{path}: {type(exc).__name__}: {exc}"))
            continue  # window rows stay zero-filled
        for buf, p in zip(bufs, parts):
            buf[i] = p
    decode_s = time.perf_counter() - t_loop - read_s
    pyramid_s = 0.0
    n_chunks = 0
    raw_bytes = 0
    for buf, (cy0, _y0, _y1) in zip(bufs, wins):
        _, bh, bw = buf.shape
        for cyy in range(-(-bh // cy_chunk)):
            ys = slice(cyy * cy_chunk, (cyy + 1) * cy_chunk)
            for cx in range(-(-bw // cx_chunk)):
                arr = buf[:, ys, cx * cx_chunk : (cx + 1) * cx_chunk]
                n_chunks += 1
                raw_bytes += arr.nbytes
                for lvl, dims in enumerate(ladder):
                    cw.write(key(lvl, cy0 + cyy, cx0 + cx), arr, dims)
                    if lvl < len(ladder) - 1:
                        # downsample the UNPADDED data: zero padding
                        # before the mean would corrupt edge windows
                        t0 = time.perf_counter()
                        arr = windowed_mean(arr, factors)
                        pyramid_s += time.perf_counter() - t0
    return n_chunks, raw_bytes, dead, read_s, decode_s, pyramid_s


def probe_stack_geometry(
    spark: SparkSession,
    root: str,
    on_error: str = "fail",
    listing: list[tuple] | None = None,
) -> list[dict[str, Any]]:
    """One geometry row per stack: (channel, stack, z, y, x, dtype) —
    z from the listing count (no content read), y/x/dtype from decoding
    each stack's FIRST slice.  ``listing`` is :func:`list_stack_files`
    of ``root`` (listed here when omitted); the driver groups it into
    one tuple per stack with its candidate paths, and the header reads
    run DISTRIBUTED (one plain RDD job over those tuples, in
    ``min(stacks, defaultParallelism)`` partitions): at acquisition
    scale (10⁴ stacks) a driver-side loop of small reads + decodes is
    minutes of serial latency before any work starts; here it is one
    tiny Spark stage.

    With ``on_error="quarantine"`` the probe tries each stack's first
    EIGHT slices in path order and uses the first that probes cleanly —
    a corrupt leading slice must not kill the job before the band tasks
    can quarantine it.  Eight consecutive corrupt leading slices still
    fail loudly (geometry cannot be invented)."""
    from aind_smartspim_data_transformation_spark.sources.stack_reader import (
        list_stack_files,
    )

    quarantine = on_error == "quarantine"
    n_cand = 8 if quarantine else 1
    if listing is None:
        listing = list_stack_files(root)
    # one row per stack: slice count + its first n_cand paths in path
    # order (the listing is path-sorted)
    counts: dict[tuple[str, str], int] = {}
    cands: dict[tuple[str, str], list[str]] = {}
    for path, ch, st, _, _ in listing:
        n = counts[(ch, st)] = counts.get((ch, st), 0) + 1
        if n <= n_cand:
            cands.setdefault((ch, st), []).append(path)
    rows = [(ch, st, counts[(ch, st)], cands[(ch, st)]) for ch, st in sorted(counts)]

    def _probe(part):
        for ch, st, n_slices, paths in part:
            got = None
            err: Exception | None = None
            for p in paths:
                try:
                    got = probe_slice(p)
                    break
                except Exception as exc:  # noqa: BLE001
                    if not quarantine:
                        raise
                    err = exc
            if got is None:
                raise RuntimeError(
                    f"geometry probe failed for stack {ch}/{st}: "
                    f"none of the first {len(paths)} slices probed "
                    f"cleanly (last error: {err})"
                ) from err
            w, h, bits = got
            yield {
                "channel": ch,
                "stack": st,
                "z": n_slices,
                "y": h,
                "x": w,
                "dtype": "uint16" if bits == 16 else "uint8",
            }

    sc = spark.sparkContext
    # collect() keeps partition order, so the result stays sorted by
    # (channel, stack) like ``rows``
    return (
        sc.parallelize(rows, max(1, min(len(rows), sc.defaultParallelism)))
        .mapPartitions(_probe)
        .collect()
    )


def _band_plan(
    geo: list[dict[str, Any]],
    chunk_zyx: list[int],
    parallelism: int,
) -> dict[tuple[str, str], tuple[int, int, int, int]]:
    """Per stack: (n_bands, cy_chunks_per_band, n_xt, cx_chunks_per_xt)
    — the y chunk rows split into bands (never more bands than chunk
    rows; at least 1), and each band split into X-tiles of whole chunk
    columns.

    Bands are executed FOLDED — task (fold f) processes bands f and
    n_bands−1−f (see :func:`run_fused_ingest`) — so the band count
    targets ≈ 4× parallelism to leave ≈ 2× parallelism tasks after
    pairing.

    The plan is capped by the per-task memory envelope
    ``FUSED_MAX_TASK_BYTES`` (read at call time): a folded task
    buffers TWO bands of ``min(cz, z) × per_band·cy_chunk × tile_x``
    pixels plus one decoded row span (``y × x``, the term no split
    removes).  The band buffers get the envelope less that span, but
    never less than ``1/_MAX_SLAB_SPLIT`` of a slab (``min(cz, z) × y
    × x`` pixels).  Every band group re-decodes the rows ``[0, hi)``
    of each slice in its slab — a PNG cannot skip rows, and quarantine
    mode decodes whole planes — so a slab split into G groups costs
    about 0.75·G plane decodes per slice.  Without the floor a
    16384² × 8 stack, whose span alone exceeds 256 MiB, would split
    into 8,192 groups per slab.  With it, each band or tile the budget narrows
    buffers more than half the budget, so the envelope splits a slab
    into at most about ``2 × _MAX_SLAB_SPLIT`` groups, and a task
    holds at most ``max(cap, span + slab / _MAX_SLAB_SPLIT)``
    (SCALE.md §6m, last follow-up).  First
    ``per_band`` shrinks, never below one chunk row, until a
    full-width band fits the budget — a deep acquisition (many
    z-slabs → low band target → tall bands) would otherwise overshoot
    the envelope (SCALE.md §6m).  When even a one-chunk-row band at
    full width does not fit, the band is also split along X into
    ``n_xt`` tiles of ``per_xt`` chunk columns, never fewer than one
    column.  Otherwise ``n_xt = 1`` and ``per_xt`` is the whole
    chunk-column count: the full width is compared against the budget
    directly, because a width that is not a multiple of the chunk is
    narrower than its whole chunk columns.  Band heights and tile
    widths use whole chunks (per_band·cy_chunk, per_xt·cx_chunk) —
    conservative by less than one chunk for the last band or tile."""
    cz, cy_chunk, cx_chunk = chunk_zyx
    slabs = sum(-(-g["z"] // cz) for g in geo)
    want = max(1, (4 * parallelism) // max(slabs, 1))
    plan = {}
    for g in geo:
        n_cy = -(-g["y"] // cy_chunk)
        n_cx = -(-g["x"] // cx_chunk)
        n_bands = min(want, n_cy)
        per_band = -(-n_cy // n_bands)
        item = np.dtype(g["dtype"]).itemsize
        span = g["y"] * g["x"] * item
        zz = min(cz, g["z"])
        # the band buffers' budget (see the docstring)
        free = max(FUSED_MAX_TASK_BYTES - span, zz * span // _MAX_SLAB_SPLIT)
        # one chunk row of one band pair, per pixel column
        row = 2 * zz * cy_chunk * item
        per_band = min(per_band, max(1, free // (row * g["x"])))
        n_bands = -(-n_cy // per_band)  # drop empty trailing bands
        if per_band * row * g["x"] <= free:
            n_xt, per_xt = 1, n_cx
        else:
            per_xt = max(1, free // (per_band * row * cx_chunk))
            n_xt = -(-n_cx // per_xt)
        plan[(g["channel"], g["stack"])] = (n_bands, per_band, n_xt, per_xt)
    return plan


def input_listing_digest(
    spark: SparkSession,
    root: str,
    stack_filter: list[tuple[str, str]] | None = None,
    mode: str = "metadata",
    listing: list[tuple] | None = None,
) -> str:
    """Order-independent digest of the input tree, for resume safety.

    ``mode="metadata"`` (default) hashes (path, length, mtime-millis)
    per file from the listing alone — a METADATA digest, not a content
    checksum.  It catches adds, removes, renames, size changes, and any
    rewrite that bumps the millisecond mtime.  Its documented blind
    spot: a timestamp-PRESERVING equal-length replacement (``cp -p``,
    ``rsync -a``, ``tar -x`` of an older archive) produces an identical
    digest, so a resume would keep marker-complete bands built from the
    old bytes.  mtime is compared at millisecond granularity
    (stack_reader.py), so an in-place rewrite landing in the same
    wall-clock second — the r9 digest's truncation hole — is still
    caught whenever the filesystem stores sub-second stamps.

    ``mode="content"`` sha256-hashes every file's BYTES (after its
    ``path|length``): one full read of the input, a plain RDD job over
    the listing that keeps every byte out of the JVM.  Use it for
    post-quarantine reruns where a corrupt slice may have been replaced
    with a timestamp-preserving copy; at 100 TB it costs one extra pass
    over the acquisition, which is exactly the price of certainty.

    Both modes sum a 60-bit prefix of each per-file sha256 —
    commutative, so listing order never matters.  Both run over
    ``listing`` (the :func:`list_stack_files` rows of ``root``; listed
    here when omitted), so run_fused_ingest plans the probe, this
    digest and its band groups from ONE listing.  Each mode equals the
    Spark expression earlier releases summed over a
    ``scan_stack_files`` frame — ``sha2(concat_ws("|", path, length,
    mtime))`` and ``sha2(concat(encode(concat_ws("|", path, length)),
    content))`` (resume-compatibility-tested) — so markers written by
    those implementations still validate.
    """
    import hashlib

    from aind_smartspim_data_transformation_spark.sources.stack_reader import (
        list_stack_files,
    )

    if mode not in ("metadata", "content"):
        raise ValueError(
            f"resume digest mode must be 'metadata' or 'content', got {mode!r}"
        )
    keep = None if stack_filter is None else set(stack_filter)
    if listing is None:
        listing = list_stack_files(root)
    files = [
        (path, length, mtime)
        for path, ch, st, length, mtime in listing
        if keep is None or (ch, st) in keep
    ]

    def _hash(file) -> int:
        path, length, mtime = file
        if mode == "content":
            h = hashlib.sha256(f"{path}|{length}".encode())
            h.update(_open_bytes(path))
        else:
            h = hashlib.sha256(f"{path}|{length}|{mtime}".encode())
        return int(h.hexdigest()[:15], 16)

    if mode == "content":
        sc = spark.sparkContext
        hsum = (
            sc.parallelize(files, max(1, min(len(files), sc.defaultParallelism)))
            .map(_hash)
            .sum()
        )
    else:
        hsum = sum(map(_hash, files))
    return f"{mode}:{len(files)}:{sum(f[1] for f in files)}:{hsum}"


def run_fused_ingest(
    spark: SparkSession,
    root: str,
    output_root: str,
    voxel_size_zyx: list[float],
    scale_factor_zyx: list[int],
    chunk_zyx: list[int],
    n_levels: int,
    compressor_name: str = DEFAULT_COMPRESSOR,
    compressor_kwargs: dict[str, Any] | None = None,
    stack_filter: list[tuple[str, str]] | None = None,
    on_error: str = "fail",
    resume_digest: str = "metadata",
    listing: list[tuple] | None = None,
) -> tuple[list[str], dict[str, Any]]:
    """Write every stack's full multiscale store via fused band tasks.

    The band stage is one plain Python RDD job: the driver-built group
    tuples go to ``min(groups, 32768)`` partitions (one task per group
    up to the cap), each task returns one summary tuple, and the driver
    sums and dedups them.

    Returns (sorted group paths, {"n_chunks": level-0 chunks written,
    "chunk_bytes": raw unpadded level-0 bytes, "phase_sec": ...});
    ``phase_sec`` maps each of :data:`PHASES` (read, decode, pyramid,
    compress, write) to the band tasks' seconds, summed over the bands
    THIS run wrote (resumed bands add nothing).  With
    ``on_error="quarantine"`` the metrics dict also carries
    ``"dead_letters"``: one {channel, stack, z, error} dict per corrupt
    slice, sorted by (channel, stack, z) — a slice decoded by several
    folds (or also saved in a resumed band's marker) keeps its smallest
    error string, so reruns report identical rows — and the store holds
    ZERO planes at the quarantined z positions (asserted in
    tests/test_quarantine.py).  The list is driver-side because dead
    letters are rare by construction; an operator at 100 TB persists it
    to the triage table of their choice.

    Mid-job restartability: each completed band group writes an atomic
    completion marker (chunk writes first, then the marker via
    temp-file + rename) under ``<output_root>/.fused_progress/``; a
    rerun after a failure or kill validates the markers' store/plan
    fingerprints, SKIPS every marker-present band (its chunks are
    already final — the store stays metadata-less until the very end,
    so "final" is invisible to readers), merges the saved per-band
    metrics and dead letters, and deletes the progress directory after
    the metadata-last finalize.  At a petabyte acquisition a late
    failure costs only the unfinished bands, not a full re-decode.  A
    marker from a DIFFERENT store layout refuses loudly; a marker from
    a different band plan (cluster size / on_error changed) — or from a
    different input LISTING digest (a slice added/removed/edited, e.g.
    a corrupt slice replaced in place after a quarantine crash) —
    merely invalidates the skip and the rerun redoes everything over
    the idempotent chunk keys.  ``resume_digest`` selects that digest:
    ``"metadata"`` (default, a driver-side hash of the listing — blind to a
    timestamp-preserving equal-length replacement such as ``cp -p`` /
    ``rsync -a``) or ``"content"`` (sha256 of every input byte — one
    extra full read; use for post-quarantine reruns).  See
    :func:`input_listing_digest` for the exact contract.

    ``listing`` is :func:`list_stack_files` of ``root`` (listed here
    when omitted): the probe, the resume digest and the band groups
    are all planned from it on the driver.
    """
    if on_error not in ("fail", "quarantine"):
        raise ValueError(
            f"on_error must be 'fail' or 'quarantine', got {on_error!r}"
        )
    quarantine = on_error == "quarantine"
    from aind_smartspim_data_transformation_spark.imaging.pyramid import (
        validate_pyramid_geometry,
    )
    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
        _make_codec,
        _write_all_metadata,
    )
    from aind_smartspim_data_transformation_spark.sources.stack_reader import (
        list_stack_files,
    )

    validate_pyramid_geometry(chunk_zyx, scale_factor_zyx, n_levels)
    codec_meta, _ = _make_codec(compressor_name, compressor_kwargs)
    if listing is None:
        listing = list_stack_files(root)
    geo = probe_stack_geometry(spark, root, on_error=on_error, listing=listing)
    if stack_filter is not None:
        keep = set(stack_filter)
        geo = [g for g in geo if (g["channel"], g["stack"]) in keep]
    if not geo:
        return [], {
            "n_chunks": 0,
            "chunk_bytes": 0,
            "phase_sec": dict.fromkeys(PHASES, 0.0),
        }
    meta_rows = [
        {
            **g,
            "cdz": min(chunk_zyx[0], g["z"]),
            "cdy": min(chunk_zyx[1], g["y"]),
            "cdx": min(chunk_zyx[2], g["x"]),
        }
        for g in geo
    ]
    # PLAN now (geometry guard fails fast, the band tasks get the chunk
    # ladder), WRITE metadata only after every band task has succeeded
    # (metadata-last, at the bottom of this function): a failed or
    # killed fused job must not leave a target that parses as a
    # complete store with missing chunks silently reading as zeros.
    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
        plan_store_layout,
    )

    groups, ladder = plan_store_layout(
        meta_rows, output_root, scale_factor_zyx, n_levels
    )

    cz_chunk, cy_chunk, cx_chunk = chunk_zyx
    factors = tuple(scale_factor_zyx)
    plan = _band_plan(geo, chunk_zyx, spark.sparkContext.defaultParallelism)

    # Input-listing digest feeds plan_fp so a resume against EDITED
    # input (a slice added/removed/edited, e.g. a corrupt slice
    # replaced in place after a quarantine crash) invalidates the
    # markers instead of silently keeping a marker-complete band's
    # zeroed planes.  Mode semantics live in input_listing_digest's
    # docstring — "metadata" hashes the listing on the driver with a
    # documented timestamp-preserving-replacement blind spot;
    # "content" reads every byte and closes it.
    content_fp = input_listing_digest(
        spark,
        root,
        stack_filter=stack_filter,
        mode=resume_digest,
        listing=listing,
    )

    # restartability: validate + load completion markers from an earlier
    # failed/killed run of THIS configuration; their bands are skipped
    store_fp, plan_fp = _progress_fingerprints(
        root, output_root, chunk_zyx, scale_factor_zyx, n_levels,
        codec_meta, geo, plan, on_error, content_fp,
    )
    markers = _read_progress_markers(output_root, store_fp, plan_fp)
    # a band group is (slab, gi) with gi = fold·n_xt + x-tile; with one
    # x-tile, gi is the fold
    n_groups = {
        k: (nb + 1) // 2 * n_xt for k, (nb, _, n_xt, _) in plan.items()
    }
    all_keys = [
        (g["channel"], g["stack"], slab, gi)
        for g in geo
        for slab in range(-(-g["z"] // cz_chunk))
        for gi in range(n_groups[(g["channel"], g["stack"])])
    ]
    # one pass over the keys, one dict lookup each: O(groups), never
    # O(markers × groups)
    done = {k: markers[k] for k in all_keys if k in markers}
    remaining = [k for k in all_keys if k not in done]
    # probed (height, width, dtype) per stack: band buffers are sized
    # from THIS, never from the first decoded slice, and every decoded
    # window is validated against it (a rogue-geometry slice must fail
    # or quarantine, not silently crop)
    geom = {
        (g["channel"], g["stack"]): (g["y"], g["x"], g["dtype"]) for g in geo
    }

    # listing → one row per remaining (slab, gi) group carrying its
    # slice paths in z order; z is the path rank within the stack (the
    # reference's sorted-glob semantics, `io/readers.py:145`), computed
    # here on the driver.  Each slice path rides once per FOLD — fold f
    # covers bands f and n_bands−1−f, so one decode of the slice's row
    # span serves both bands (a PNG must inflate up to the higher
    # band's end anyway; the lower band's rows come out of the same
    # pass free), the per-task decode cost max(ends) is near-constant
    # across folds instead of ramping with the band index, and
    # slice-path duplication halves.  The x-tiles of one fold each
    # decode the same rows and keep their own columns.  Completed
    # (marker-present) groups of a resumed run are simply never
    # shipped.
    stack_paths: dict[tuple[str, str], list[str]] = {k: [] for k in plan}
    for path, ch, st, _, _ in listing:
        if (ch, st) in stack_paths:
            stack_paths[(ch, st)].append(path)
    group_rows = []
    for c, st, slab, gi in remaining:
        z0 = slab * cz_chunk
        paths = stack_paths[(c, st)][z0 : z0 + cz_chunk]
        group_rows.append((c, st, slab, gi, paths))

    def _write_band(row):
        import json as _json
        import time
        import uuid as _uuid

        from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
            ChunkWriter,
            _fs_for,
            _make_codec as make_codec,
            chunk_key,
            stack_group,
        )

        channel, stack, cz, gi, paths = row
        nb, per_band, n_xt, per_xt = plan[(channel, stack)]
        fold, xt = divmod(gi, n_xt)
        height, width, dtype_name = geom[(channel, stack)]
        # the x-tile's columns [x0, x1), from chunk column cx0
        cx0 = xt * per_xt
        x0 = cx0 * cx_chunk
        cols = (cx0, x0, min(x0 + per_xt * cx_chunk, width))
        # the fold's band windows: (cy0, y0, y1) for bands f and
        # nb−1−f (one window when they coincide)
        wins = []
        for b in sorted({fold, nb - 1 - fold}):
            cy0 = b * per_band
            y0 = cy0 * cy_chunk
            wins.append(
                (cy0, y0, min(y0 + per_band * cy_chunk, height))
            )
        fs, base = _fs_for(output_root)
        _, compress = make_codec(
            compressor_name, compressor_kwargs, np.dtype(dtype_name).itemsize
        )
        cw = ChunkWriter(fs, compress)
        group = stack_group(base, channel, stack)
        n_chunks, raw_bytes, dead, read_s, decode_s, pyramid_s = write_slab(
            paths, wins, cols, geom[(channel, stack)], (cy_chunk, cx_chunk),
            factors, ladder[(channel, stack)],
            lambda lvl, cy, cx: chunk_key(group, lvl, cz, cy, cx),
            cw, quarantine,
        )
        dead = [(cz * cz_chunk + i, err) for i, err in dead]
        # completion marker LAST (all chunks durable), via temp + rename
        # so a kill mid-write can never leave a parsing half-marker; a
        # speculative duplicate attempt rewrites identical content.
        t0 = time.perf_counter()
        pdir = f"{base}/{_PROGRESS_DIRNAME}"
        fs.create_dir(pdir, recursive=True)
        tmp = f"{pdir}/.tmp-{_uuid.uuid4().hex}"
        with fs.open_output_stream(tmp) as f:
            f.write(
                _json.dumps(
                    {
                        "key": [channel, stack, cz, gi],
                        "n_chunks": n_chunks,
                        "chunk_bytes": raw_bytes,
                        "dead": [[z, err] for z, err in dead],
                        "store_fp": store_fp,
                        "plan_fp": plan_fp,
                    }
                ).encode()
            )
        dest = f"{pdir}/{_marker_name(channel, stack, cz, gi)}"
        # race-tolerant check-delete-move with retry; a failed move
        # whose destination exists counts as a sibling attempt's
        # byte-equivalent publish (see _publish_marker)
        _publish_marker(fs, tmp, dest)
        write_s = cw.write_s + time.perf_counter() - t0
        return (
            n_chunks,
            raw_bytes,
            [(channel, stack, z, err) for z, err in dead],
            (read_s, decode_s, pyramid_s, cw.compress_s, write_s),
        )

    # one task per group (at most 32,768 tasks): the plan is already
    # balanced, so no shuffle or grouping sits between it and the bands
    fresh = []
    if group_rows:  # a resumed run may have NOTHING left but the finalize
        fresh = (
            spark.sparkContext.parallelize(
                group_rows, min(len(group_rows), 32_768)
            )
            .map(_write_band)
            .collect()
        )
    metrics: dict[str, Any] = {
        "n_chunks": sum(r[0] for r in fresh)
        + sum(int(m["n_chunks"]) for m in done.values()),
        "chunk_bytes": sum(r[1] for r in fresh)
        + sum(int(m["chunk_bytes"]) for m in done.values()),
        # summed over the bands this run wrote; resumed bands add nothing
        "phase_sec": {
            name: sum((r[3][i] for r in fresh), 0.0)
            for i, name in enumerate(PHASES)
        },
    }
    if quarantine:
        # a corrupt slice is decoded by EVERY group of its slab, and a
        # resumed run also brings the skipped bands' saved dead letters
        # (their slices were quarantined in the earlier run): keep one
        # triage row per (stack, z), the smallest error string
        dead = {d for r in fresh for d in r[2]}
        dead |= {
            (c, s, int(z), err)
            for (c, s, _slab, _gi), m in done.items()
            for z, err in m.get("dead", [])
        }
        first: dict[tuple[str, str, int], str] = {}
        for c, s, z, err in sorted(dead):
            first.setdefault((c, s, z), err)
        metrics["dead_letters"] = [
            {"channel": c, "stack": s, "z": z, "error": err}
            for (c, s, z), err in first.items()
        ]
    # every band task succeeded — NOW the stores may parse as complete
    _write_all_metadata(
        meta_rows,
        output_root,
        voxel_size_zyx,
        scale_factor_zyx,
        chunk_zyx,
        n_levels,
        compressor_name,
        compressor_kwargs,
    )
    # the job is complete and finalized — retire the progress markers
    # (a COMPLETE store carries no droppings; the next run starts clean)
    from pyarrow import fs as pafs

    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
        _fs_for,
    )

    fs, out_base = _fs_for(output_root)
    pdir = f"{out_base}/{_PROGRESS_DIRNAME}"
    if fs.get_file_info(pdir).type != pafs.FileType.NotFound:
        fs.delete_dir(pdir)
    return sorted(groups), metrics
