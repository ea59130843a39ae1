"""Spark 4 Python DataSource for live SmartSPIM acquisitions: a
streaming writer only.

After ``ensure_registered(spark)``,
``slices.writeStream.format("smartspim").start(root)`` appends each
microbatch of slices to the OME-Zarr stores through the streaming
commit protocol (:class:`SmartspimStreamWriter`).  Its input is
``streaming/stack_stream.run_streaming_store_ingest``'s file-source
stream of slice paths; the write tasks read, decode and write them
through the batch band tasks' kernel (``imaging/fused.write_slab``).

There is no read and no batch write: a finished acquisition goes
through ``imaging/job.py``, whose one route is the fused band tasks
(imaging/fused.py).
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    WriterCommitMessage,
)

def ensure_registered(sess) -> None:
    """Register the ``smartspim`` format into ``sess``'s SESSION-LOCAL
    DataSourceManager, idempotently.

    Python DataSource registration is per-session (each session
    resolves formats from its OWN manager), but the duplicate-name
    check is shared — if a sibling session already registered
    "smartspim", the public ``register()`` raises while THIS session
    still cannot resolve the format.  On that conflict, register into
    the session-local manager directly.  Leans on private internals
    (sessionState().dataSourceManager(), _wrap_function,
    UserDefinedPythonDataSource) that move across Spark versions; the
    streaming callers let a failure propagate.
    """
    from pyspark.errors import AnalysisException

    dsm = sess._jsparkSession.sessionState().dataSourceManager()
    if dsm.dataSourceExists("smartspim"):
        return
    try:
        sess.dataSource.register(SmartspimDataSource)
    except AnalysisException:
        from pyspark.sql.udf import _wrap_function

        wrapped = _wrap_function(sess.sparkContext, SmartspimDataSource)
        jds = getattr(
            sess.sparkContext._jvm,
            "org.apache.spark.sql.execution.datasources.v2.python."
            "UserDefinedPythonDataSource",
        )(wrapped)
        dsm.registerDataSource("smartspim", jds)


class SmartspimDataSource(DataSource):
    """``format("smartspim")``: the streaming writer."""

    @classmethod
    def name(cls) -> str:
        return "smartspim"

    def streamWriter(self, schema, overwrite: bool) -> "SmartspimStreamWriter":
        return SmartspimStreamWriter(self.options)


def _stage_key(
    base: str, channel: str, stack: str, lvl: int, cz: int, cy: int, cx: int
) -> str:
    """Staging key of one slab-local chunk (its final store key is only
    known at commit, when the slab's z offset in the store is)."""
    return f"{base}/{channel}/{stack}/{lvl}/{cz}/{cy}/{cx}"


class SlabStage(WriterCommitMessage):
    """Per-task staging manifest: the staging root this task wrote under
    and, per (channel, stack), the wave's slice-key range and its
    ``zarr_sink.plan_store_layout`` entry (per-level extents and chunk
    dims, whose level-0 chunk grid is the staged one).  Plain
    picklable payload."""

    def __init__(self, staging: str, stacks: dict):
        self.staging = staging
        self.stacks = stacks


class SmartspimStreamWriter(DataSourceStreamWriter):
    """``slices.writeStream.format("smartspim").start()`` — the
    incremental OME-Zarr store expressed through the STREAMING commit
    protocol; the one incremental imaging path.

    Input rows: one short row per slice
    (``stack_stream.stream_stack_files`` — channel, stack, slice_key,
    path), partitioned so each stack's microbatch rows share ONE
    partition (``run_streaming_store_ingest`` repartitions by
    ``("channel", "stack")``; a split stack is detected at commit and
    refused loudly).

    Per microbatch:

    - :meth:`write` (executors): each task orders its stacks' wave
      slices by slice_key, takes the wave geometry from the first
      slice's header, and runs the fused band kernel
      (``imaging/fused.write_slab``) once per z-chunk over the full
      plane: header gate, decode, EVERY pyramid level per chunk, and
      compressed chunks staged under ``<root>/.staging/<uuid>/`` —
      slab-LOCAL cz, final keys unknown until commit, each padded to
      the existing store's chunk shape so promotion is a plain move.
      A slice whose header differs from the first slice's fails the
      task with ``slice geometry mismatch``.  Pixel bytes never cross
      to the JVM.
    - :meth:`commit` (driver): per stack, either CREATES the store
      (chunks promoted first, metadata written last — a crash leaves no
      store) or APPENDS through
      ``imaging.zarr_sink.append_slab_transaction`` (validation, intent
      fence, roll-forward), whose per-level write is a per-chunk
      filesystem move of the staged chunks.  A batch marker
      (``.zattrs["smartspim_stream_last_batch"]``) makes commit
      idempotent per (stack, batchId): Spark may replay a committed
      epoch after a restart, and the marker turns the replay into a
      no-op instead of a double-append.

    Acquisition contract (the reference's sorted-glob order,
    `io/readers.py:145`): slices arrive in ascending slice_key order
    per stack across waves, and every wave except a stack's last spans
    the SAME z extent (the store's z-chunk is clamped to the first
    wave's slab depth, and the append transaction refuses mismatched
    grids); the last wave may be shallower.

    Options: ``chunk`` (json [z,y,x], default [128,128,128]),
    ``scale_factor`` (json, default [2,2,2]), ``n_levels`` (default 1),
    ``voxel_size`` (json µm, default [1,1,1]), ``compressor`` /
    ``compressor_kwargs`` (default ``zstd`` level 1 with a byte-shuffle
    filter; must match the store's ``compressor`` and ``filters``
    across waves — validated against on-disk metadata before any
    promotion).  Commit promotion concurrency follows the filesystem
    type (see :meth:`commit`, SCALE.md §6i).
    """

    def __init__(self, options):
        import json as _json

        from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
            DEFAULT_COMPRESSOR,
            _make_codec,
        )

        self.root = options.get("path")
        if not self.root:
            raise ValueError("smartspim stream writer requires .start(<root>)")
        self.voxel = _json.loads(options.get("voxel_size", "[1.0, 1.0, 1.0]"))
        self.factors = _json.loads(options.get("scale_factor", "[2, 2, 2]"))
        self.chunk = _json.loads(options.get("chunk", "[128, 128, 128]"))
        self.n_levels = int(options.get("n_levels", "1"))
        self.compressor = options.get("compressor", DEFAULT_COMPRESSOR)
        self.compressor_kwargs = _json.loads(
            options.get("compressor_kwargs", "null")
        )
        # an unknown codec is refused here, before any write task runs
        _make_codec(self.compressor, self.compressor_kwargs)
        from aind_smartspim_data_transformation_spark.imaging.pyramid import (
            validate_pyramid_geometry,
        )

        validate_pyramid_geometry(self.chunk, self.factors, self.n_levels)

    # -- executor side ----------------------------------------------------
    def write(self, iterator) -> SlabStage:
        import json as _json
        import uuid

        import numpy as np

        from aind_smartspim_data_transformation_spark.imaging.fused import (
            probe_slice,
            write_slab,
        )
        from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
            ChunkWriter,
            _fs_for,
            _make_codec,
            plan_store_layout,
        )

        staging = f"{self.root}/.staging/{uuid.uuid4().hex}"
        fs, base = _fs_for(staging)
        by_stack: dict = {}
        for r in iterator:
            by_stack.setdefault((r["channel"], r["stack"]), []).append(
                (int(r["slice_key"]), r["path"])
            )
        stacks: dict = {}
        factors = tuple(self.factors)
        for (channel, stack), rows in by_stack.items():
            rows.sort()
            paths = [p for _, p in rows]
            # the wave's geometry is its first slice's header; the slab
            # writer's header gate refuses any slice that differs
            w, h, bits = probe_slice(paths[0])
            dt = "uint16" if bits == 16 else "uint8"
            geo = {"channel": channel, "stack": stack, "z": len(paths),
                   "y": h, "x": w, "dtype": dt}
            layout = plan_store_layout(
                [geo], self.root, self.chunk, self.factors, self.n_levels
            )[(channel, stack)]
            ladder = [dims for _, dims in layout["levels"]]
            # An existing store fixes every level's chunk shape.  A short
            # last wave's planned dims are clamped below it, so its
            # chunks are padded to the store's shape; a deeper wave keeps
            # its own dims and the commit refuses its z grid.
            _, group_base = _fs_for(layout["group"])
            try:
                store_dims = []
                for lvl in range(self.n_levels):
                    with fs.open_input_stream(
                        f"{group_base}/{lvl}/.zarray"
                    ) as f:
                        store_dims.append(
                            _json.loads(f.read().decode())["chunks"][2:]
                        )
                ladder = [tuple(map(max, d, sd)) for d, sd in zip(ladder, store_dims)]
            except FileNotFoundError:
                pass
            _, compress = _make_codec(
                self.compressor, self.compressor_kwargs, np.dtype(dt).itemsize
            )
            cw = ChunkWriter(fs, compress)
            # one slab-writer call per z-chunk of the wave, full-plane
            # window, staged at slab-local cz (see _stage_key)
            dz, dy, dx = layout["levels"][0][1]
            for cz in range(-(-len(paths) // dz)):
                write_slab(
                    paths[cz * dz : (cz + 1) * dz],
                    (0, 0, h), (0, 0, w), (h, w, dt), (dy, dx), factors,
                    ladder,
                    lambda lvl, cy, cx, cz=cz: _stage_key(
                        base, channel, stack, lvl, cz, cy, cx
                    ),
                    cw,
                )
            stacks[(channel, stack)] = {
                "min_key": rows[0][0], "max_key": rows[-1][0], "layout": layout,
            }
        return SlabStage(staging, stacks)

    # -- driver side -------------------------------------------------------
    def _promote(self, fs, stage_base: str, group_base: str,
                 channel: str, stack: str, layout: dict, lvl: int, off: int):
        """Move level ``lvl``'s staged chunks to final keys shifted by
        ``off`` store z-chunks.  Tolerates an already-moved source (the
        roll-forward path re-invokes for uncommitted levels after a
        crash that lost the staging dir's earlier moves mid-level —
        the destination then already holds the byte-identical chunk)."""
        import itertools

        from pyarrow import fs as pafs

        from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
            ChunkWriter,
            chunk_key,
        )

        cw = ChunkWriter(fs)
        # the write tasks staged every level at level 0's chunk grid,
        # which the plan keeps at every level
        extent, dims = layout["levels"][0]
        grid = (range(-(-e // d)) for e, d in zip(extent, dims))
        for cz, cy, cx in itertools.product(*grid):
            src = _stage_key(stage_base, channel, stack, lvl, cz, cy, cx)
            dst = chunk_key(group_base, lvl, cz + off, cy, cx)
            cw.make_parent(dst)
            if fs.get_file_info(src).type == pafs.FileType.NotFound:
                if fs.get_file_info(dst).type == pafs.FileType.NotFound:
                    raise FileNotFoundError(
                        f"staged chunk missing and not yet promoted: {src}"
                    )
                continue  # already promoted by an interrupted pass
            # move is atomic rename on a local fs; on object stores it
            # is copy+delete of an immutable staged object.  Clear a
            # pre-existing destination first (an interrupted redo left
            # the byte-identical chunk) — pyarrow's move does not
            # guarantee overwrite on every filesystem.
            if fs.get_file_info(dst).type != pafs.FileType.NotFound:
                fs.delete_file(dst)
            fs.move(src, dst)

    def commit(self, messages, batchId: int) -> None:
        import json as _json

        import numpy as np
        from pyarrow import fs as pafs

        from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
            _fs_for,
            _make_codec,
            _write_all_metadata,
            append_slab_transaction,
        )

        fs, root_base = _fs_for(self.root)
        # merge manifests; a stack split across tasks cannot be
        # assembled into one slab — the upstream repartition contract
        # was violated, refuse before touching the store
        per_stack: dict = {}
        stagings: list[str] = []
        for m in messages:
            if m is None:
                continue
            stagings.append(m.staging)
            for key, info in m.stacks.items():
                if key in per_stack:
                    raise ValueError(
                        f"stack {key[0]}/{key[1]} arrived in more than one "
                        f"write task — repartition the stream by "
                        f"(channel, stack) before writeStream"
                    )
                per_stack[key] = (m.staging, info)

        def _commit_stack(channel, stack, staging, info):
            _, stage_base = _fs_for(staging)
            layout = info["layout"]
            group = layout["group"]
            _, group_base = _fs_for(group)
            attrs_path = f"{group_base}/.zattrs"
            if fs.get_file_info(attrs_path).type == pafs.FileType.NotFound:
                # CREATE: chunks first, then .zarray levels, then
                # .zattrs LAST with the epoch marker inside it —
                # nothing can observe a created-but-unmarked store
                for lvl in range(len(layout["levels"])):
                    self._promote(
                        fs, stage_base, group_base, channel, stack, layout, lvl, 0
                    )
                _write_all_metadata(
                    {(channel, stack): layout},
                    self.voxel,
                    self.factors,
                    self.compressor,
                    self.compressor_kwargs,
                    extra_attrs={"smartspim_stream_last_batch": batchId},
                )
                return
            with fs.open_input_stream(attrs_path) as f:
                attrs = _json.loads(f.read().decode())
            if attrs.get("smartspim_stream_last_batch") == batchId:
                return  # epoch replay: already committed
            with fs.open_input_stream(f"{group_base}/0/.zarray") as f:
                zarray = _json.loads(f.read().decode())
            disk_codec = {k: zarray.get(k) for k in ("compressor", "filters")}
            codec_meta, _ = _make_codec(
                self.compressor, self.compressor_kwargs,
                np.dtype(layout["dtype"]).itemsize,
            )
            if disk_codec != codec_meta:
                raise ValueError(
                    f"{channel}/{stack}: stream codec {codec_meta} "
                    f"!= store codec {disk_codec} — staged chunks "
                    f"would be byte-incompatible"
                )
            # the epoch marker rides the SAME .zattrs write that drops
            # the fence — the append's commit point — so a crash can
            # never separate "appended" from "marked" (a separate stamp
            # left a window where a replay double-appended the slab)
            append_slab_transaction(
                group,
                [(extent, layout["dtype"]) for extent, _ in layout["levels"]],
                [(dims[0], -(-extent[0] // dims[0]))
                 for extent, dims in layout["levels"]],
                lambda lvl, off, meta: self._promote(
                    fs, stage_base, group_base, channel, stack, layout, lvl, off
                ),
                extra_attrs={"smartspim_stream_last_batch": batchId},
            )

        # Promote stacks CONCURRENTLY where latency dominates: each
        # stack's commit is an independent group (own fence, own
        # metadata), but a wide microbatch (hundreds of stacks ×
        # thousands of chunks) serialized through this driver loop on an
        # object store, where a "move" is a copy+delete round-trip, grows
        # the epoch's commit linearly with stack count.  The policy is
        # picked from the filesystem type and MEASURED (SCALE.md §6i): on
        # a LOCAL filesystem moves are µs renames and a 16-thread pool
        # LOSES (0.30× — keep the sequential loop); under object-store
        # per-op latency the pool's latency hiding wins (15.2× with
        # min(16, stacks) threads).  Crash semantics are unchanged either
        # way (a failure mid-pool leaves some stacks committed and some
        # fenced/staged — exactly the states the sequential loop could
        # leave, all covered by the roll-forward + epoch-marker replay
        # paths).
        try:
            stacks_sorted = sorted(per_stack.items())
            workers = (
                1
                if isinstance(fs, pafs.LocalFileSystem)
                else min(16, max(1, len(stacks_sorted)))
            )
            if workers <= 1 or len(stacks_sorted) <= 1:
                for (channel, stack), (staging, info) in stacks_sorted:
                    _commit_stack(channel, stack, staging, info)
            else:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=workers) as pool:
                    futs = [
                        pool.submit(_commit_stack, c, s, staging, info)
                        for (c, s), (staging, info) in stacks_sorted
                    ]
                    # surface EVERY failure after all settle (the
                    # pool context manager joins every thread, so no
                    # promotion is still in flight when we raise); a
                    # single-error group unwraps to the bare exception
                    # so the sequential and pooled paths raise alike
                    errs = [
                        f.exception() for f in futs if f.exception() is not None
                    ]
                    if len(errs) == 1:
                        raise errs[0]
                    if errs:
                        raise ExceptionGroup(
                            f"{len(errs)} of {len(futs)} stack commit "
                            f"promotions failed",
                            errs,
                        )
        finally:
            for staging in stagings:
                _, sb = _fs_for(staging)
                try:
                    fs.delete_dir(sb)
                except FileNotFoundError:
                    pass

    def abort(self, messages, batchId: int) -> None:
        from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
            _fs_for,
        )

        for m in messages:
            if m is None:
                continue
            fs, sb = _fs_for(m.staging)
            try:
                fs.delete_dir(sb)
            except FileNotFoundError:
                pass
