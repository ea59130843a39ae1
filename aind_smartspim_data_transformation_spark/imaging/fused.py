"""Fused zero-shuffle imaging ingest: decode → chunk → ALL pyramid
levels → compressed OME-Zarr chunks, in ONE Python task per
(z-slab, y-band).

The round-6 profile (NOTES_r06.md) showed the chunk-table pipeline's
cost is ~95% data plane: the pixel volume crosses Python→JVM as Arrow
tile rows, through a full-volume assembly shuffle, back to Python for
the pyramid, and again for each level's write — 1713 executor core-s
for a 1.6 GB job whose numpy kernels need 83.  This path removes every
one of those crossings: pixel bytes never enter the JVM.  Spark moves
only PATH rows (the listing shuffle that groups a slab's slice paths
into one task) and one summary row back per task.

Why a task can compute the WHOLE pyramid locally: the store's chunk
GRID is preserved across levels (chunk dims shrink by the factor, so
level-L chunk (cz,cy,cx) derives exactly from level-(L-1) chunk
(cz,cy,cx)), and the sink's geometry guard (shared
``plan_store_layout``) only admits chunk dims where per-chunk
windowed means equal the global windowed mean (divisible-by-factor or
full-extent per axis).  The guard protects both write paths — they
cannot disagree on metadata or geometry — and
tests/test_imaging_job.py asserts the two stores are ARRAY-IDENTICAL
at every level.

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
balanced tasks; the per-task buffer is two band buffers + one decoded
slice span.

Memory envelope: one task holds its band (≤ chunk_z × band_rows ×
width bytes, +1 decoded slice).  The ``auto`` ingest picks fused only
when the probed per-task buffer fits ``FUSED_MAX_TASK_BYTES``;
giant-plane acquisitions keep the tile-first shuffle pipeline, whose
peak per-group memory is chunk-sized.

Error handling (round 7): every slice passes a HEADER-ONLY geometry
gate against the probed stack geometry before decoding (a taller slice
decodes cleanly inside every band window, so only the header can see
it — previously its bottom rows were silently dropped), band buffers
are allocated from the probe, and each decoded window's shape/dtype is
re-checked before copying.  ``on_error="quarantine"`` ports the UDF
path's dead-letter semantics into the band task with WHOLE-PLANE
atomicity: quarantine mode decodes the full slice (strict end-to-end
validation — PNG adler32 + exact length, every TIFF strip/tile), so a
slice corrupt ANYWHERE zero-fills at its z position in every band
(matching the UDF store byte-for-byte, including a trailing corrupt
slice), and one dead-letter row per (stack, z) rides the per-task
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
from pyspark.sql import functions as F

# A fused task buffers one (z-slab, y-band).  256 MiB × 32 concurrent
# tasks ≈ 8 GiB peak — conservative for this container; on a real
# cluster size it to executor memory / cores.
FUSED_MAX_TASK_BYTES = 256 << 20

# Mid-job restartability (round 8): every completed band group leaves an
# atomic marker here; a rerun skips marker-present bands and merges their
# saved metrics.  Deleted after the metadata-last finalize — a COMPLETE
# store never carries progress droppings.
_PROGRESS_DIRNAME = ".fused_progress"


def _marker_name(channel: str, stack: str, slab: int, fold: int) -> str:
    from urllib.parse import quote

    return (
        f"{quote(channel, safe='')}__{quote(stack, safe='')}"
        f"__{slab}__{fold}.json"
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
    keyed by (channel, stack, slab, fold).  A marker whose store
    fingerprint differs is a LOUD error (the target mixes layouts); a
    plan-only mismatch silently invalidates all markers (full redo is
    correct — chunk keys are idempotent)."""
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
        c, s, slab, fold = m["key"]
        done[(c, s, int(slab), int(fold))] = m
    if stale and not done:
        # different band plan (parallelism / on_error changed): markers
        # are meaningless under the new split — drop them and redo
        fs.delete_dir(pdir)
        return {}
    return done


def _open_bytes(path: str, n: int | None = None) -> bytes:
    """Read a file (or its first ``n`` bytes — a ranged header probe)
    by Spark-listing path: ``file:/x`` / ``file:///x`` URIs (what
    binaryFile listings produce) or any pyarrow.fs URI."""
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


def probe_stack_geometry(
    spark: SparkSession, root: str, on_error: str = "fail"
) -> list[dict[str, Any]]:
    """One geometry row per stack: (channel, stack, z, y, x, dtype) —
    z from the listing count (no content read), y/x/dtype from decoding
    each stack's FIRST slice.  The decode runs DISTRIBUTED (mapInPandas
    over the #stacks first-paths): at acquisition scale (10⁴ stacks)
    a driver-side loop of small reads + decodes is minutes of serial
    latency before any work starts; here it is one tiny Spark stage.

    With ``on_error="quarantine"`` the probe tries each stack's first
    EIGHT slices in path order and uses the first that probes cleanly —
    a corrupt leading slice must not kill the job before the band tasks
    can quarantine it.  Eight consecutive corrupt leading slices still
    fail loudly (geometry cannot be invented).  The candidate list is
    bounded IN THE AGGREGATION BUFFER, not just the output: paths past
    the candidate rank are nulled before collect_list (which skips
    nulls), so the agg state holds ≤ 8 paths per stack — never the
    10⁴-slice listing."""
    from aind_smartspim_data_transformation_spark.sources.stack_reader import (
        scan_stack_files,
    )

    from pyspark.sql.window import Window as W

    quarantine = on_error == "quarantine"
    n_cand = 8 if quarantine else 1
    # collect_list BOUNDED before aggregation: rank each stack's paths
    # and null out everything past the candidate count — collect_list
    # skips nulls, so the agg buffer holds ≤ n_cand paths per stack
    # instead of the stack's whole listing (10⁴+ slices at acquisition
    # scale).  The rank window shares the groupBy's partitioning key,
    # so this adds no exchange.
    ranked = scan_stack_files(spark, root).withColumn(
        "_rk",
        F.row_number().over(
            W.partitionBy("channel", "stack").orderBy("path")
        ),
    )
    firsts = ranked.groupBy("channel", "stack").agg(
        F.count("*").alias("n_slices"),
        F.sort_array(
            F.collect_list(F.when(F.col("_rk") <= n_cand, F.col("path")))
        ).alias("probe_paths"),
    )

    def _probe(batches):
        import pandas as pd

        from aind_smartspim_data_transformation_spark.sources.png_codec import (
            probe_png_header,
        )
        from aind_smartspim_data_transformation_spark.sources.stack_reader import (
            _PNG_SIG,
            probe_image_header,
        )

        for pdf in batches:
            ys, xs, dts = [], [], []
            for paths, ch, st in zip(
                pdf["probe_paths"], pdf["channel"], pdf["stack"]
            ):
                got = None
                err: Exception | None = None
                for p in paths:
                    try:
                        # ranged read: a PNG header probe needs 29
                        # bytes, not the whole multi-MB slice — at 10⁴
                        # stacks the probe stage reads KBs instead of
                        # the first-slice GBs
                        head = _open_bytes(p, 64)
                        if head[:8] == _PNG_SIG:
                            got = probe_png_header(head)
                        else:
                            # TIFF IFDs sit at an arbitrary offset
                            # (often the tail), so fall back to the
                            # full read — the probe still skips pixel
                            # decompression entirely
                            got = probe_image_header(_open_bytes(p))
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
                ys.append(h)
                xs.append(w)
                dts.append("uint16" if bits == 16 else "uint8")
            yield pd.DataFrame(
                {
                    "channel": pdf["channel"],
                    "stack": pdf["stack"],
                    "z": pdf["n_slices"],
                    "y": ys,
                    "x": xs,
                    "dtype": dts,
                }
            )

    rows = firsts.mapInPandas(
        _probe,
        schema="channel string, stack string, z long, y long, x long, "
        "dtype string",
    ).collect()
    return [
        {
            "channel": r["channel"],
            "stack": r["stack"],
            "z": int(r["z"]),
            "y": int(r["y"]),
            "x": int(r["x"]),
            "dtype": r["dtype"],
        }
        for r in sorted(rows, key=lambda r: (r["channel"], r["stack"]))
    ]


def _band_plan(
    geo: list[dict[str, Any]],
    chunk_zyx: list[int],
    parallelism: int,
    max_task_bytes: int | None = None,
) -> dict[tuple[str, str], tuple[int, int]]:
    """Per stack: (n_bands, cy_chunks_per_band) splitting the y chunk
    rows into bands (never more bands than chunk rows; at least 1).

    Bands are executed FOLDED — task (fold f) processes bands f and
    n_bands−1−f (see :func:`run_fused_ingest`) — so the band count
    targets ≈ 4× parallelism to leave ≈ 2× parallelism tasks after
    pairing.

    The band height is additionally capped by the per-task memory
    envelope (``max_task_bytes``, default the module's
    ``FUSED_MAX_TASK_BYTES``): a folded task buffers TWO bands of
    ``min(cz, z) × per_band·cy_chunk × x`` pixels plus one decoded
    slice span, so ``per_band`` shrinks (never below one chunk row)
    until that fits.  Without this, a deep acquisition (many z-slabs →
    low band target → tall bands) tips the whole job off the fused
    path over a ~0.04% envelope overshoot — measured at 4×320 slices
    of 2000×1600: the auto route fell back to the chunk-table pipeline
    at 47 MB/s where capped 1-chunk-row bands stay fused (SCALE.md
    §6m).  The cap uses the UNCLAMPED band height (per_band·cy_chunk,
    not min(·, y)) — conservative by < one chunk row for a band
    spanning the whole plane; :func:`fused_task_bytes` reports the
    exact clamped figure."""
    if max_task_bytes is None:
        max_task_bytes = FUSED_MAX_TASK_BYTES
    cz, cy_chunk, _ = chunk_zyx
    slabs = sum(-(-g["z"] // cz) for g in geo)
    want = max(1, (4 * parallelism) // max(slabs, 1))
    plan = {}
    for g in geo:
        n_cy = -(-g["y"] // cy_chunk)
        n_bands = min(want, n_cy)
        per_band = -(-n_cy // n_bands)
        item = np.dtype(g["dtype"]).itemsize
        denom = 2 * min(cz, g["z"]) * cy_chunk * g["x"] * item
        pb_cap = max(1, (max_task_bytes - g["y"] * g["x"] * item) // denom)
        per_band = min(per_band, pb_cap)
        n_bands = -(-n_cy // per_band)  # drop empty trailing bands
        plan[(g["channel"], g["stack"])] = (n_bands, per_band)
    return plan


def fused_task_bytes(
    geo: list[dict[str, Any]],
    chunk_zyx: list[int],
    parallelism: int,
    max_task_bytes: int | None = None,
) -> int:
    """Worst-case per-task buffer: a folded task holds TWO band
    buffers (bands f and n_bands−1−f) plus one decoded slice span.

    Because :func:`_band_plan` already shrinks the band height to the
    envelope, this exceeds the envelope only when even a
    single-chunk-row band doesn't fit (a genuinely giant plane) — the
    one case where job.py's auto route SHOULD take the chunk-table
    fallback.  ``max_task_bytes`` (default ``FUSED_MAX_TASK_BYTES``)
    is threaded to the internal :func:`_band_plan` call so the probe
    always sizes the SAME plan a caller passing a custom envelope
    would execute — the probe and the plan can't drift apart."""
    plan = _band_plan(geo, chunk_zyx, parallelism, max_task_bytes)
    worst = 0
    for g in geo:
        _, per_band = plan[(g["channel"], g["stack"])]
        band_rows = min(per_band * chunk_zyx[1], g["y"])
        item = np.dtype(g["dtype"]).itemsize
        worst = max(
            worst,
            2 * min(chunk_zyx[0], g["z"]) * band_rows * g["x"] * item
            + g["y"] * g["x"] * item,  # +1 full decoded slice span
        )
    return worst


def input_listing_digest(
    spark: SparkSession,
    root: str,
    stack_filter: list[tuple[str, str]] | None = None,
    mode: str = "metadata",
    listing: "DataFrame | None" = None,
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
    (``unix_millis``; stack_reader.py), so an in-place rewrite landing
    in the same wall-clock second — the r9 digest's truncation hole —
    is still caught whenever the filesystem stores sub-second stamps.

    ``mode="content"`` sha256-hashes every file's BYTES (plus its
    path): one full read of the input, distributed across executors
    with a bounded DECIMAL-sum agg buffer.  Use it for post-quarantine
    reruns where a corrupt slice may have been replaced with a
    timestamp-preserving copy; at 100 TB it costs one extra pass over
    the acquisition, which is exactly the price of certainty.

    Both modes fold a 60-bit prefix of each per-file sha256 into a
    DECIMAL(38,0) sum — commutative (listing order never matters) and
    constant driver-side state.

    Pass ``listing`` (a scan_stack_files DataFrame for ``root``) to
    reuse an already-built file index: each scan_stack_files call
    performs its own recursive file-status listing of the tree, which
    at acquisition scale is minutes of driver-side LIST traffic —
    run_fused_ingest shares ONE listing between this digest and its
    band groups.
    """
    if mode not in ("metadata", "content"):
        raise ValueError(
            f"resume digest mode must be 'metadata' or 'content', got {mode!r}"
        )
    if listing is None:
        from aind_smartspim_data_transformation_spark.sources.stack_reader import (
            scan_stack_files,
        )

        listing = scan_stack_files(spark, root)
    if stack_filter is not None:
        _keys = spark.createDataFrame(
            list(stack_filter), "channel string, stack string"
        )
        listing = listing.join(F.broadcast(_keys), ["channel", "stack"])
    if mode == "content":
        per_file = F.sha2(
            F.concat(
                F.encode(F.concat_ws("|", "path", "length"), "UTF-8"),
                F.col("content"),
            ),
            256,
        )
    else:
        # metadata-only: Catalyst prunes the binary content column out
        # of the scan entirely (plan-asserted in tests)
        per_file = F.sha2(F.concat_ws("|", "path", "length", "mtime"), 256)
    _dig = listing.agg(
        F.count("*").alias("n"),
        F.sum("length").alias("nbytes"),
        F.sum(
            F.conv(F.substring(per_file, 1, 15), 16, 10).cast("decimal(38,0)")
        ).alias("hsum"),
    ).collect()[0]
    return f"{mode}:{_dig['n']}:{_dig['nbytes']}:{_dig['hsum']}"


def run_fused_ingest(
    spark: SparkSession,
    root: str,
    output_root: str,
    voxel_size_zyx: list[float],
    scale_factor_zyx: list[int],
    chunk_zyx: list[int],
    n_levels: int,
    compressor_name: str = "zlib",
    compressor_kwargs: dict[str, Any] | None = None,
    stack_filter: list[tuple[str, str]] | None = None,
    geo: list[dict[str, Any]] | None = None,
    on_error: str = "fail",
    failpoint_fail_key: tuple[str, str, int, int] | None = None,
    resume_digest: str = "metadata",
) -> tuple[list[str], dict[str, Any]]:
    """Write every stack's full multiscale store via fused band tasks.

    Returns (sorted group paths, {"n_chunks": level-0 chunks written,
    "chunk_bytes": raw level-0 bytes}) — the same metrics contract as
    the chunk-table job's Observation.  With ``on_error="quarantine"``
    the metrics dict also carries ``"dead_letters"``: one
    {channel, stack, z, error} dict per corrupt slice (deduped across
    the folds that each decode it), and the store holds ZERO planes at
    the quarantined z positions — byte-identical to the UDF quarantine
    pipeline's store (asserted in tests/test_quarantine.py).  The list
    is driver-side because dead letters are rare by construction; an
    operator at 100 TB persists it to the triage table of their choice.

    Mid-job restartability (round 8): each completed band group writes
    an atomic completion marker (chunk writes first, then the marker
    via temp-file + rename) under ``<output_root>/.fused_progress/``;
    a rerun after a failure or kill validates the markers' store/plan
    fingerprints, SKIPS every marker-present band (its chunks are
    already final — the store stays metadata-less until the very end,
    so "final" is invisible to readers), merges the saved per-band
    metrics and dead letters, and deletes the progress directory after
    the metadata-last finalize.  At a petabyte acquisition a late
    failure now costs only the unfinished bands, not a full re-decode
    (previously the round-7 missing item #1).  A marker from a
    DIFFERENT store layout refuses loudly; a marker from a different
    band plan (cluster size / on_error changed) — or, round 9, from a
    different input LISTING digest (a slice added/removed/edited, e.g.
    a corrupt slice replaced in place after a quarantine crash) —
    merely invalidates the skip and the rerun redoes everything over
    the idempotent chunk keys.  ``resume_digest`` selects that digest:
    ``"metadata"`` (default, metadata-only listing scan — blind to a
    timestamp-preserving equal-length replacement such as ``cp -p`` /
    ``rsync -a``) or ``"content"`` (sha256 of every input byte — one
    extra full read; use for post-quarantine reruns).  See
    :func:`input_listing_digest` for the exact contract.

    ``failpoint_fail_key`` is crash-test plumbing (the band tasks run
    in detached Python workers a test monkeypatch cannot reach — the
    streaming writer's ``failpoint_before_level`` precedent): the band
    task whose (channel, stack, slab, fold) matches raises before
    writing anything, failing the job with the other bands' markers in
    place — the crash-mid-job the restartability test needs.
    """
    if on_error not in ("fail", "quarantine"):
        raise ValueError(
            f"on_error must be 'fail' or 'quarantine', got {on_error!r}"
        )
    quarantine = on_error == "quarantine"
    from pyspark.sql.window import Window as W

    from aind_smartspim_data_transformation_spark.imaging.pyramid import (
        validate_pyramid_geometry,
    )
    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
        _make_codec,
        _write_all_metadata,
    )
    from aind_smartspim_data_transformation_spark.sources.stack_reader import (
        scan_stack_files,
    )

    validate_pyramid_geometry(chunk_zyx, scale_factor_zyx, n_levels)
    codec_meta, _ = _make_codec(compressor_name, compressor_kwargs)
    if geo is None:
        geo = probe_stack_geometry(spark, root, on_error=on_error)
    if stack_filter is not None:
        keep = set(stack_filter)
        geo = [g for g in geo if (g["channel"], g["stack"]) in keep]
    if not geo:
        return [], {"n_chunks": 0, "chunk_bytes": 0}
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
    # docstring — "metadata" is a metadata-only scan with a documented
    # timestamp-preserving-replacement blind spot; "content" reads
    # every byte and closes it.
    # ONE scan_stack_files (one recursive file-status listing of the
    # tree) shared between the digest and the band groups — a second
    # scan would re-list the whole acquisition
    full_listing = scan_stack_files(spark, root)
    content_fp = input_listing_digest(
        spark,
        root,
        stack_filter=stack_filter,
        mode=resume_digest,
        listing=full_listing,
    )
    # band-group view of the same listing (content pruned by Catalyst)
    listing = full_listing.select(
        "path", "channel", "stack", "length", "mtime"
    )
    if stack_filter is not None:
        _keys = spark.createDataFrame(
            list(stack_filter), "channel string, stack string"
        )
        listing = listing.join(F.broadcast(_keys), ["channel", "stack"])

    # restartability: validate + load completion markers from an earlier
    # failed/killed run of THIS configuration; their bands are skipped
    store_fp, plan_fp = _progress_fingerprints(
        root, output_root, chunk_zyx, scale_factor_zyx, n_levels,
        codec_meta, geo, plan, on_error, content_fp,
    )
    done = _read_progress_markers(output_root, store_fp, plan_fp)
    all_keys = [
        (g["channel"], g["stack"], slab, fold)
        for g in geo
        for slab in range(-(-g["z"] // cz_chunk))
        for fold in range((plan[(g["channel"], g["stack"])][0] + 1) // 2)
    ]
    done = {k: m for k, m in done.items() if k in set(all_keys)}
    remaining = [k for k in all_keys if k not in done]
    # probed (height, width, dtype) per stack: band buffers are sized
    # from THIS, never from the first decoded slice, and every decoded
    # window is validated against it (a rogue-geometry slice must fail
    # or quarantine, not silently crop)
    geom = {
        (g["channel"], g["stack"]): (g["y"], g["x"], g["dtype"]) for g in geo
    }

    # listing → (slab, fold) groups.  The z-rank window moves ~100-byte
    # path rows (content never scanned); each slice row is duplicated
    # once per FOLD — fold f covers bands f and n_bands−1−f, so one
    # decode of the slice's row span serves both bands (a PNG must
    # inflate up to the higher band's end anyway; the lower band's
    # rows come out of the same pass free), the per-task decode cost
    # max(ends) is near-constant across folds instead of ramping with
    # the band index, and slice-row duplication halves.  The groupBy
    # shuffle lands each task's ≤chunk_z paths together.
    files = listing.select("path", "channel", "stack")
    w = W.partitionBy("channel", "stack").orderBy("path")
    folds_df = spark.createDataFrame(
        [
            (c, s, f)
            for (c, s), (nb, _) in plan.items()
            for f in range((nb + 1) // 2)
        ],
        "channel string, stack string, fold int",
    )
    # EXPLICIT numPartitions on the group key: the group rows are tiny
    # (paths), so AQE would coalesce the groupBy shuffle into ONE
    # partition — it sizes by bytes and cannot see that each row
    # explodes into seconds of decode+compress work (measured: the
    # whole 1.6 GB job serialized into a single 142 core-s task).  An
    # explicit repartition count is exempt from AQE coalescing and
    # satisfies applyInPandas's required clustering, so the write stage
    # runs one task per hash bucket; 4× groups over-partitioning keeps
    # hash collisions from doubling a straggler's work.
    n_groups = sum(
        -(-g["z"] // cz_chunk)
        * ((plan[(g["channel"], g["stack"])][0] + 1) // 2)
        for g in geo
    )
    # Cap the partition count: a petabyte acquisition can have 10⁶
    # (slab, band) groups, and 4× that in hash buckets is pure
    # scheduler overhead — past the cap, hash collisions just put a
    # few groups per task, which applyInPandas handles serially and
    # correctly.  The floor keeps small trees from under-filling.
    n_parts = max(
        2 * spark.sparkContext.defaultParallelism,
        min(4 * n_groups, 32_768),
    )
    slabs = (
        files.withColumn("z", (F.row_number().over(w) - 1).cast("int"))
        .withColumn("slab", (F.col("z") / cz_chunk).cast("int"))
        .join(F.broadcast(folds_df), ["channel", "stack"])
    )
    if done:
        # resume: drop the completed bands before the group shuffle —
        # the skipped groups' slice paths never enter the write stage
        done_df = spark.createDataFrame(
            [(c, s, slab, fold) for (c, s, slab, fold) in done],
            "channel string, stack string, slab int, fold int",
        )
        slabs = slabs.join(
            F.broadcast(done_df),
            ["channel", "stack", "slab", "fold"],
            "left_anti",
        )
    slabs = slabs.repartition(n_parts, "channel", "stack", "slab", "fold")

    def _write_band(pdf):
        import pandas as pd

        from aind_smartspim_data_transformation_spark.imaging.pyramid import (
            windowed_mean,
        )
        from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
            ChunkWriter,
            _fs_for,
            _make_codec as make_codec,
            chunk_key,
            stack_group,
        )
        from aind_smartspim_data_transformation_spark.sources.stack_reader import (
            decode_image_gray,
        )

        _, compress = make_codec(compressor_name, compressor_kwargs)
        pdf = pdf.sort_values("z")
        channel = pdf["channel"].iloc[0]
        stack = pdf["stack"].iloc[0]
        cz = int(pdf["slab"].iloc[0])
        fold = int(pdf["fold"].iloc[0])
        if failpoint_fail_key is not None and (
            channel, stack, cz, fold
        ) == tuple(failpoint_fail_key):
            # deterministic kill: wait for every OTHER band's marker to
            # be durable first, so the crash test always observes
            # all-but-one bands complete (otherwise stage cancellation
            # races the siblings and the test's skip-proof is flaky)
            import time as _time

            from pyarrow import fs as pafs

            from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
                _fs_for as fsf,
            )

            fp_fs, fp_base = fsf(output_root)
            fp_dir = f"{fp_base}/{_PROGRESS_DIRNAME}"
            want = len(remaining) - 1
            deadline = _time.time() + 120
            while _time.time() < deadline:
                try:
                    n = sum(
                        1
                        for i in fp_fs.get_file_info(pafs.FileSelector(fp_dir))
                        if i.path.endswith(".json")
                    )
                except FileNotFoundError:
                    n = 0
                if n >= want:
                    break
                _time.sleep(0.1)
            raise RuntimeError(
                f"simulated band failure at {failpoint_fail_key} "
                f"(failpoint_fail_key)"
            )
        nb, per_band = plan[(channel, stack)]
        height, width, dtype_name = geom[(channel, stack)]
        exp_dtype = np.dtype(dtype_name)
        # the fold's band windows: (cy0, y0, y1) for bands f and
        # nb−1−f (one window when they coincide)
        wins = []
        for b in sorted({fold, nb - 1 - fold}):
            cy0 = b * per_band
            y0 = cy0 * cy_chunk
            wins.append(
                (cy0, y0, min(y0 + per_band * cy_chunk, height))
            )
        lo, hi = wins[0][1], wins[-1][2]
        stack_ladder = ladder[(channel, stack)]

        def _check_header(path, data):
            # header-only geometry gate (cheap — no pixel decode): the
            # WINDOWED decode below cannot see rows past its window, so
            # a slice TALLER than the probe would otherwise be silently
            # cropped; the header names every mismatch up front
            from aind_smartspim_data_transformation_spark.sources.png_codec import (
                probe_png_header,
            )
            from aind_smartspim_data_transformation_spark.sources.stack_reader import (
                _PNG_SIG,
                probe_image_header,
            )

            if data[:8] == _PNG_SIG:
                wp, hp, bits = probe_png_header(data[:64])
            else:
                wp, hp, bits = probe_image_header(data)
            exp_bits = exp_dtype.itemsize * 8
            if (hp, wp) != (height, width) or bits != exp_bits:
                raise ValueError(
                    f"slice geometry mismatch in {path}: header "
                    f"{hp}x{wp}/{bits}bit != probed "
                    f"{height}x{width}/{exp_bits}bit"
                )

        def _decode_bands(data):
            if quarantine:
                # quarantine parity with the UDF path: a corrupt slice
                # must zero the WHOLE plane, not just the bands whose
                # windows touch the damage — so decode the full slice
                # (strict end-to-end validation: PNG adler32 + exact
                # length, every TIFF strip/tile) and slice the windows
                # from it.  Quarantine trades the windowed-decode
                # saving for whole-plane failure atomicity.
                plane = decode_image_gray(data)
                return [plane[y0:y1] for (_, y0, y1) in wins]
            # PNG inflates sequentially, so ONE pass to the higher
            # band's end serves both windows (the lower band is free);
            # TIFF strips are random-access, so per-window decodes
            # skip the rows BETWEEN the fold's bands too.
            if len(wins) == 1 or data[:8] == b"\x89PNG\r\n\x1a\n":
                span = decode_image_gray(data, row_stop=hi, row_start=lo)
                return [span[y0 - lo : y1 - lo] for (_, y0, y1) in wins]
            return [
                decode_image_gray(data, row_stop=y1, row_start=y0)
                for (_, y0, y1) in wins
            ]

        # zeros, not empty: a quarantined slice's rows must come out
        # zero-filled AT POSITION (memset cost is noise next to the
        # decode+compress kernels this task runs)
        bufs = [
            np.zeros((len(pdf), y1 - y0, width), dtype=exp_dtype)
            for (_, y0, y1) in wins
        ]
        dead: list[tuple[int, str]] = []
        for i, (path, zz) in enumerate(zip(pdf["path"], pdf["z"])):
            try:
                data = _open_bytes(path)
                _check_header(path, data)
                parts = _decode_bands(data)
                for p, (_, y0, y1) in zip(parts, wins):
                    if p.shape != (y1 - y0, width) or p.dtype != exp_dtype:
                        raise ValueError(
                            f"slice geometry mismatch in {path}: decoded "
                            f"window {p.shape} {p.dtype} != probed "
                            f"{(y1 - y0, width)} {exp_dtype}"
                        )
            except Exception as exc:  # noqa: BLE001 — dead-letter boundary
                if not quarantine:
                    raise
                dead.append(
                    (int(zz), f"{path}: {type(exc).__name__}: {exc}")
                )
                continue  # band rows stay zero-filled
            for buf, p in zip(bufs, parts):
                buf[i] = p
        fs, base = _fs_for(output_root)
        cw = ChunkWriter(fs, compress)
        group = stack_group(base, channel, stack)
        n_chunks = 0
        raw_bytes = 0
        for buf, (cy0, _y0, _y1) in zip(bufs, wins):
            bh, bw = buf.shape[1], buf.shape[2]
            for cyy in range(-(-bh // cy_chunk)):
                for cx in range(-(-bw // cx_chunk)):
                    arr = buf[
                        :,
                        cyy * cy_chunk : (cyy + 1) * cy_chunk,
                        cx * cx_chunk : (cx + 1) * cx_chunk,
                    ]
                    n_chunks += 1
                    raw_bytes += arr.nbytes
                    for lvl in range(n_levels):
                        cw.write(
                            chunk_key(group, lvl, cz, cy0 + cyy, cx),
                            arr,
                            stack_ladder[lvl],
                        )
                        if lvl < n_levels - 1:
                            # downsample the UNPADDED data: zero
                            # padding before the mean would corrupt
                            # edge windows
                            arr = windowed_mean(arr, factors)
        # completion marker LAST (all chunks durable), via temp + rename
        # so a kill mid-write can never leave a parsing half-marker; a
        # speculative duplicate attempt rewrites identical content.
        import json as _json
        import uuid as _uuid

        pdir = f"{base}/{_PROGRESS_DIRNAME}"
        fs.create_dir(pdir, recursive=True)
        tmp = f"{pdir}/.tmp-{_uuid.uuid4().hex}"
        with fs.open_output_stream(tmp) as f:
            f.write(
                _json.dumps(
                    {
                        "key": [channel, stack, cz, fold],
                        "n_chunks": n_chunks,
                        "chunk_bytes": raw_bytes,
                        "dead": [[z, err] for z, err in dead],
                        "store_fp": store_fp,
                        "plan_fp": plan_fp,
                    }
                ).encode()
            )
        dest = f"{pdir}/{_marker_name(channel, stack, cz, fold)}"
        # race-tolerant check-delete-move with retry; a failed move
        # whose destination exists counts as a sibling attempt's
        # byte-equivalent publish (see _publish_marker)
        _publish_marker(fs, tmp, dest)
        rows = [(channel, stack, n_chunks, raw_bytes, None, None)]
        rows += [(channel, stack, 0, 0, z, err) for z, err in dead]
        return pd.DataFrame(
            rows,
            columns=[
                "channel",
                "stack",
                "n_chunks",
                "chunk_bytes",
                "dead_z",
                "dead_error",
            ],
        )

    fresh_chunks = 0
    fresh_bytes = 0
    fresh_dead: list[dict[str, Any]] = []
    if remaining:  # a resumed run may have NOTHING left but the finalize
        out = slabs.groupBy("channel", "stack", "slab", "fold").applyInPandas(
            _write_band,
            schema="channel string, stack string, n_chunks long, "
            "chunk_bytes long, dead_z long, dead_error string",
        )
        agg_cols = [
            F.sum("n_chunks").alias("n_chunks"),
            F.sum("chunk_bytes").alias("chunk_bytes"),
        ]
        if quarantine:
            # the summary frame is tiny (one row per task + one per dead
            # letter) — persist so the expensive write stage runs ONCE
            # for both the totals and the dead-letter pull
            out = out.persist()
            summaries = out.agg(*agg_cols).first()
            # a corrupt slice is decoded by EVERY fold of its slab —
            # dedup to one triage row per (stack, z)
            dead_rows = (
                out.filter(F.col("dead_error").isNotNull())
                .select(
                    "channel",
                    "stack",
                    F.col("dead_z").alias("z"),
                    F.col("dead_error").alias("error"),
                )
                .dropDuplicates(["channel", "stack", "z"])
                .collect()
            )
            out.unpersist()
            fresh_dead = [
                {
                    "channel": r["channel"],
                    "stack": r["stack"],
                    "z": int(r["z"]),
                    "error": r["error"],
                }
                for r in dead_rows
            ]
        else:
            summaries = out.agg(*agg_cols).first()
        fresh_chunks = int(summaries["n_chunks"])
        fresh_bytes = int(summaries["chunk_bytes"])
    metrics: dict[str, Any] = {}
    if quarantine:
        # merge dead letters from the skipped (marker-saved) bands —
        # their corrupt slices were quarantined in the earlier run and
        # must still reach the triage list of the resumed run
        seen = {}
        for d in fresh_dead:
            seen[(d["channel"], d["stack"], d["z"])] = d
        for (c, s, _slab, _fold), m in done.items():
            for z, err in m.get("dead", []):
                seen.setdefault(
                    (c, s, int(z)),
                    {"channel": c, "stack": s, "z": int(z), "error": err},
                )
        metrics["dead_letters"] = sorted(
            seen.values(), key=lambda d: (d["channel"], d["stack"], d["z"])
        )
    metrics["n_chunks"] = fresh_chunks + sum(
        int(m["n_chunks"]) for m in done.values()
    )
    metrics["chunk_bytes"] = fresh_bytes + sum(
        int(m["chunk_bytes"]) for m in done.values()
    )
    # every band task succeeded — NOW the stores may parse as complete
    _write_all_metadata(
        meta_rows,
        output_root,
        voxel_size_zyx,
        scale_factor_zyx,
        chunk_zyx,
        n_levels,
        codec_meta,
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
