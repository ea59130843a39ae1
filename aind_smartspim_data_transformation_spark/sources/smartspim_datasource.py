"""First-class Spark 4 Python DataSource for SmartSPIM stack trees.

SURVEY.md §2.9 lists the Python data source API as the optional
first-class wrapper around the binaryFile+UDF decode path (S2).  This
is it: after ``spark.dataSource.register(SmartspimDataSource)``,

    spark.read.format("smartspim").load("/path/to/SmartSPIM")

yields one row per decoded slice with the same columns the pandas-UDF
pipeline produces.  One :class:`InputPartition` per chunk_z-aligned
*z-slab* of each stack (``option("slab", N)``, default 64) — the
reference distributes whole stacks round-robin across processes
(reference `smartspim_job.py:30-63`); slab granularity keeps that
locality (a slab's tiles are produced by one task, z is
slab-offset + index, no z-map) while letting parallelism scale with
stacks × slabs instead of capping at #stacks.

The decode uses the same pure-python PNG codec as the UDF path
(`sources/png_codec.py`), so both sources are bit-identical — asserted
in tests/test_datasource.py.

Scale: file *listing* happens once on the driver — os.walk by default,
or ``option("manifest", file)`` with root-relative paths (an
object-store inventory dump) so a 100 TB tree never walks millions of
keys; decode bandwidth scales with executors.  Column pruning is
handled by Spark post-read; channel/stack equality predicates push
down via ``pushFilters`` and prune whole stack directories at plan
time.  ``spark.readStream.format("smartspim")`` tails a live
acquisition (see :class:`SmartspimStreamReader`).
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

SLICE_SCHEMA = (
    "channel string, stack string, slice_idx int, "
    "height int, width int, dtype string, data binary"
)

_EXTS = (".png", ".tif", ".tiff")


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
    UserDefinedPythonDataSource) that move across Spark versions —
    callers with a public-API fallback (the batch UDF ingest) should
    wrap this in their own try/except; streaming callers have no
    fallback and let a failure propagate.
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


class StackPartition(InputPartition):
    def __init__(
        self, channel: str, stack: str, files: Sequence[str], z0: int = 0
    ):
        self.channel = channel
        self.stack = stack
        self.files = list(files)
        self.z0 = z0  # z index of files[0] within the stack


class SmartspimDataSource(DataSource):
    """``spark.read.format("smartspim").load(root)``."""

    @classmethod
    def name(cls) -> str:
        return "smartspim"

    def schema(self) -> str:
        return SLICE_SCHEMA

    def reader(self, schema) -> "SmartspimReader":
        return SmartspimReader(self.options)

    def simpleStreamReader(self, schema) -> "SmartspimStreamReader":
        return SmartspimStreamReader(self.options)

    def streamWriter(self, schema, overwrite: bool) -> "SmartspimStreamWriter":
        return SmartspimStreamWriter(self.options)


class SmartspimReader(DataSourceReader):
    def __init__(self, options):
        root = options.get("path")
        if not root:
            raise ValueError("smartspim source requires a path: .load(root)")
        self.root = root
        # z-slab granularity: each input partition covers at most
        # `slab` consecutive slices of one stack.  Aligned to the
        # downstream chunk_z, a slab's tiles all come from one task;
        # parallelism scales with stacks × slabs instead of capping at
        # #stacks (a 10k-slice stack would otherwise be ONE task).
        # 0 disables splitting (one partition per whole stack).
        self.slab = int(options.get("slab", "64"))
        # small-tree floor: if slab-sized slabs yield fewer partitions
        # than this, the slab shrinks (down to 1 slice) so a 4-stack
        # acquisition still uses every core; at production stack counts
        # total/min_partitions >> slab and the chunk-aligned slab wins.
        self.min_partitions = int(options.get("min_partitions", "0"))
        # Manifest listing (the 100 TB path): a text file of
        # root-relative slice paths (<channel>/<col>/<stack>/<file>),
        # e.g. an object-store inventory dump — no os.walk over
        # millions of keys.  Slices are SORTED within each stack
        # regardless of manifest line order (the sorted-glob z
        # contract).
        self.manifest = options.get("manifest")
        self.pushed: dict[str, str] = {}  # channel/stack equality filters

    def pushFilters(self, filters):
        """Partition pruning: EqualTo on channel/stack skips whole stack
        directories at planning time (Spark 4.1 filter pushdown API).
        Pushed filters are also returned so Spark re-checks them — a
        pushed filter that is also evaluated post-scan is always safe."""
        from pyspark.sql.datasource import EqualTo

        for f in filters:
            if isinstance(f, EqualTo) and f.attribute in (("channel",), ("stack",)):
                self.pushed[f.attribute[0]] = f.value
            yield f

    def _list_walk(self) -> list[tuple[str, str, list[str]]]:
        """(channel, stack, sorted slice paths) per stack directory via
        os.walk — fine up to ~1M files; use a manifest beyond that."""
        stacks: list[tuple[str, str, list[str]]] = []
        for dirpath, _dirnames, filenames in sorted(os.walk(self.root)):
            slices = sorted(
                os.path.join(dirpath, f)
                for f in filenames
                if f.lower().endswith(_EXTS)
            )
            if not slices:
                continue
            rel = os.path.relpath(dirpath, self.root)
            pieces = rel.split(os.sep)
            # layout <channel>/<col>/<col_row>/ under the root
            channel = pieces[0] if pieces else ""
            stack = pieces[-1]
            if self.pushed.get("channel") not in (None, channel):
                continue
            if self.pushed.get("stack") not in (None, stack):
                continue
            stacks.append((channel, stack, slices))
        return stacks

    def _list_manifest(self) -> list[tuple[str, str, list[str]]]:
        """Same output as :meth:`_list_walk`, but from a listing file of
        root-relative paths (one per line; blank lines and non-image
        extensions skipped).  The z contract is unchanged: slices are
        SORTED within a stack regardless of manifest line order."""
        by_stack: dict[tuple[str, str], list[str]] = {}
        with open(self.manifest) as f:
            for line in f:
                rel = line.strip()
                if not rel or not rel.lower().endswith(_EXTS):
                    continue
                pieces = rel.split("/")
                channel = pieces[0] if len(pieces) > 1 else ""
                stack = pieces[-2] if len(pieces) > 1 else ""
                if self.pushed.get("channel") not in (None, channel):
                    continue
                if self.pushed.get("stack") not in (None, stack):
                    continue
                by_stack.setdefault((channel, stack), set()).add(
                    os.path.join(self.root, rel)
                )
        # set-dedup: object-store inventory dumps can repeat a key
        # across list pages; a duplicate line would otherwise emit the
        # slice twice AND shift every later z in the stack.
        return [
            (channel, stack, sorted(files))
            for (channel, stack), files in sorted(by_stack.items())
        ]

    def partitions(self) -> Sequence[StackPartition]:
        """One partition per chunk_z-aligned z-SLAB of each stack
        directory (deterministic sorted walk or manifest listing,
        mirroring the reference's sorted stack list), minus stacks
        pruned by pushed channel/stack equality filters."""
        stacks = self._list_manifest() if self.manifest else self._list_walk()
        total = sum(len(s) for _, _, s in stacks)
        if self.slab > 0:
            step = self.slab
            if self.min_partitions > 0 and total:
                # shrink toward one-slice slabs only as far as needed
                step = max(1, min(step, -(-total // self.min_partitions)))
        else:
            # slab=0: whole-stack partitions, UNCONDITIONALLY — callers
            # set it to guarantee one task per stack, so the
            # min_partitions floor must not re-split.
            step = max((len(s) for _, _, s in stacks), default=1)
        parts = [
            StackPartition(channel, stack, slices[z0 : z0 + step], z0)
            for channel, stack, slices in stacks
            for z0 in range(0, len(slices), step)
        ]
        if not parts and not self.pushed:
            raise FileNotFoundError(f"no image stacks under {self.root}")
        return parts or [StackPartition("", "", [])]

    def read(self, partition: StackPartition) -> Iterator[tuple]:
        # imports here: this body runs on executors
        from aind_smartspim_data_transformation_spark.sources.stack_reader import (
            decode_image_gray,
        )

        for idx, path in enumerate(partition.files):
            with open(path, "rb") as f:
                raw = f.read()
            arr = decode_image_gray(raw)
            yield (
                partition.channel,
                partition.stack,
                partition.z0 + idx,
                arr.shape[0],
                arr.shape[1],
                str(arr.dtype),
                arr.tobytes(),
            )


class SmartspimStreamReader(SimpleDataSourceStreamReader):
    """Streaming half of the smartspim source:
    ``spark.readStream.format("smartspim").load(root)``.

    An acquisition writes slices over hours; each microbatch picks up
    the files that appeared since the last offset.  The offset is
    COMPACT and monotone — ``{"done": {stack_dir_rel: n_processed}}``
    — relying on the same contract as everything else in this repo
    (`io/readers.py:145` sorted-glob): slice filenames within a stack
    are written in ascending name order, so "new" files always sort
    after the processed prefix and ``slice_idx`` (= z) is the running
    per-stack count.  ``readBetweenOffsets`` replays any [start, end)
    window from the listing, which makes recovery exact.

    This is the *simple* stream-reader API: listing AND decode run on
    the driver, which is right for live-acquisition rates (a slice
    every few seconds).  Draining a large backlog at cluster speed is
    the partitioned path: `streaming/stack_stream.py` (file-source
    stream, executor decode) or the batch DataSource after the fact.
    """

    def __init__(self, options):
        root = options.get("path")
        if not root:
            raise ValueError("smartspim source requires a path: .load(root)")
        self.root = root

    def initialOffset(self) -> dict:
        return {"done": {}}

    def _listing(self) -> dict[str, list[str]]:
        out: dict[str, list[str]] = {}
        for dirpath, _dirnames, filenames in sorted(os.walk(self.root)):
            slices = sorted(f for f in filenames if f.lower().endswith(_EXTS))
            if slices:
                out[os.path.relpath(dirpath, self.root)] = slices
        return out

    def _rows(self, rel: str, names: Sequence[str], idx0: int):
        from aind_smartspim_data_transformation_spark.sources.stack_reader import (
            decode_image_gray,
        )

        pieces = rel.split(os.sep)
        channel = pieces[0] if len(pieces) > 1 else ""
        stack = pieces[-1]
        for i, name in enumerate(names):
            with open(os.path.join(self.root, rel, name), "rb") as f:
                arr = decode_image_gray(f.read())
            yield (
                channel, stack, idx0 + i,
                arr.shape[0], arr.shape[1], str(arr.dtype), arr.tobytes(),
            )

    def read(self, start: dict):
        done = dict(start.get("done", {}))
        listing = self._listing()
        rows = []
        for rel, names in listing.items():
            n0 = int(done.get(rel, 0))
            if len(names) > n0:
                rows.extend(self._rows(rel, names[n0:], n0))
                done[rel] = len(names)
        return iter(rows), {"done": done}

    def readBetweenOffsets(self, start: dict, end: dict):
        s = start.get("done", {})
        e = end.get("done", {})
        listing = self._listing()
        for rel, n_end in e.items():
            n0 = int(s.get(rel, 0))
            if int(n_end) <= n0:
                continue
            names = listing.get(rel)
            if names is None:
                # A stack named in a committed offset vanished from the
                # tree (deleted/renamed between runs).  A bare KeyError
                # here turns recovery into a crash loop; fail with the
                # actionable cause instead (advisor r5).
                raise RuntimeError(
                    f"smartspim stream replay: stack '{rel}' is recorded "
                    f"in a committed offset (slices [{n0}, {n_end})) but "
                    f"no longer exists under {self.root!r}; restore the "
                    "stack or start from a fresh checkpoint"
                )
            if len(names) < int(n_end):
                raise RuntimeError(
                    f"smartspim stream replay: stack '{rel}' has "
                    f"{len(names)} slices on disk but the committed "
                    f"offset expects {n_end}; slice files were removed "
                    "— restore them or start from a fresh checkpoint"
                )
            yield from self._rows(rel, names[n0:int(n_end)], n0)

    def commit(self, end: dict) -> None:
        pass  # offsets are self-contained; nothing external to release


def _stage_key(
    base: str, channel: str, stack: str, lvl: int, cz: int, cy: int, cx: int
) -> str:
    """Staging key of one slab-local chunk (its final store key is only
    known at commit, when the slab's z offset in the store is)."""
    return f"{base}/{channel}/{stack}/{lvl}/{cz}/{cy}/{cx}"


class SlabStage(WriterCommitMessage):
    """Per-task staging manifest: the staging root this task wrote under
    and, per (channel, stack), the slab geometry + staged chunk index
    lists per level.  Plain picklable payload."""

    def __init__(self, staging: str, stacks: dict):
        self.staging = staging
        self.stacks = stacks


class SmartspimStreamWriter(DataSourceStreamWriter):
    """``decoded_slices.writeStream.format("smartspim").start()`` — the
    incremental OME-Zarr store expressed through the STREAMING commit
    protocol, replacing the foreachBatch + driver-glue flow
    (``streaming/stack_stream.run_incremental_ingest`` + manual
    ``append_ome_zarr_z`` per wave).

    Input rows: the decoded slice table
    (``stack_stream.STREAM_SLICE_SCHEMA`` — channel, stack, slice_key,
    height, width, dtype, data), partitioned so each stack's microbatch
    rows share ONE partition (``run_streaming_store_ingest`` does the
    ``repartition("channel", "stack")``; a split stack is detected at
    commit and refused loudly).

    Per microbatch:

    - :meth:`write` (executors): each task assembles its stacks' wave
      slices into a z-slab (slice_key ascending), computes EVERY
      pyramid level locally (whole-slab windowed mean — identical to
      the batch ``build_pyramid`` semantics), and stages compressed
      chunks under ``<root>/.staging/<uuid>/`` — slab-LOCAL cz, final
      keys unknown until commit.  Pixel bytes never cross to the JVM.
    - :meth:`commit` (driver): per stack, either CREATES the store
      (chunks promoted first, metadata written last — a crash leaves no
      store) or APPENDS through
      ``imaging.zarr_sink.append_slab_transaction`` — the SAME
      validation + fence + roll-forward core the batch append uses, so
      the two paths cannot disagree on crash semantics; promotion is a
      per-chunk filesystem move.  A batch marker
      (``.zattrs["smartspim_stream_last_batch"]``) makes commit
      idempotent per (stack, batchId): Spark may replay a committed
      epoch after a restart, and the marker turns the replay into a
      no-op instead of a double-append.

    Acquisition contract (same as ``landed_slab_chunks``): slices
    arrive in ascending slice_key order per stack across waves, and
    every wave except a stack's last spans the SAME z extent (the
    store's z-chunk is clamped to the first wave's slab depth, and the
    append transaction refuses mismatched grids).

    Options: ``chunk`` (json [z,y,x], default [128,128,128]),
    ``scale_factor`` (json, default [2,2,2]), ``n_levels`` (default 1),
    ``voxel_size`` (json µm, default [1,1,1]), ``compressor`` /
    ``compressor_kwargs`` (must match the store across waves —
    validated against on-disk metadata before any promotion).
    """

    def __init__(self, options):
        import json as _json

        self.root = options.get("path")
        if not self.root:
            raise ValueError("smartspim stream writer requires .start(<root>)")
        self.voxel = _json.loads(options.get("voxel_size", "[1.0, 1.0, 1.0]"))
        self.factors = _json.loads(options.get("scale_factor", "[2, 2, 2]"))
        self.chunk = _json.loads(options.get("chunk", "[128, 128, 128]"))
        self.n_levels = int(options.get("n_levels", "1"))
        self.compressor = options.get("compressor", "zlib")
        self.compressor_kwargs = _json.loads(
            options.get("compressor_kwargs", "null")
        )
        # fault injection for the crash-fence tests: commit() runs in a
        # detached Python sink worker the test process cannot
        # monkeypatch, so the crash point is an explicit option — raise
        # just before promoting level N's chunks (i.e. after level
        # N-1's shape commit: fence up, level N unpromoted)
        self.failpoint_before_level = (
            int(options["failpoint_before_level"])
            if "failpoint_before_level" in options
            else None
        )
        # driver-side promotion concurrency (0 = auto: min(16, stacks));
        # 1 forces the sequential loop (the ABAB measurement baseline)
        self.commit_parallelism = int(options.get("commit_parallelism", "0"))
        from aind_smartspim_data_transformation_spark.imaging.pyramid import (
            validate_pyramid_geometry,
        )

        validate_pyramid_geometry(self.chunk, self.factors, self.n_levels)

    # -- executor side ----------------------------------------------------
    def write(self, iterator) -> SlabStage:
        import uuid

        import numpy as np

        from aind_smartspim_data_transformation_spark.imaging.pyramid import (
            windowed_mean,
        )
        from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
            ChunkWriter,
            _fs_for,
            _make_codec,
        )

        _, compress = _make_codec(self.compressor, self.compressor_kwargs)
        staging = f"{self.root}/.staging/{uuid.uuid4().hex}"
        fs, base = _fs_for(staging)
        cw = ChunkWriter(fs, compress)
        by_stack: dict = {}
        for r in iterator:
            by_stack.setdefault((r["channel"], r["stack"]), []).append(
                (
                    int(r["slice_key"]),
                    int(r["height"]),
                    int(r["width"]),
                    r["dtype"],
                    bytes(r["data"]),
                )
            )
        stacks: dict = {}
        factors = tuple(self.factors)
        for (channel, stack), rows in by_stack.items():
            rows.sort(key=lambda t: t[0])
            h, w, dt = rows[0][1], rows[0][2], rows[0][3]
            for k, hh, ww, dd, _ in rows:
                if (hh, ww, dd) != (h, w, dt):
                    raise ValueError(
                        f"{channel}/{stack}: slice {k} geometry "
                        f"{hh}x{ww}/{dd} != wave's {h}x{w}/{dt}"
                    )
            vol = np.stack(
                [
                    np.frombuffer(r[4], dtype=np.dtype(dt)).reshape(h, w)
                    for r in rows
                ]
            )
            dims = (
                min(self.chunk[0], vol.shape[0]),
                min(self.chunk[1], vol.shape[1]),
                min(self.chunk[2], vol.shape[2]),
            )
            levels = []
            arr = vol
            for lvl in range(self.n_levels):
                chunks = []
                for cz in range(-(-arr.shape[0] // dims[0])):
                    for cy in range(-(-arr.shape[1] // dims[1])):
                        for cx in range(-(-arr.shape[2] // dims[2])):
                            block = arr[
                                cz * dims[0] : (cz + 1) * dims[0],
                                cy * dims[1] : (cy + 1) * dims[1],
                                cx * dims[2] : (cx + 1) * dims[2],
                            ]
                            # staged at slab-local cz (see _stage_key)
                            key = _stage_key(
                                base, channel, stack, lvl, cz, cy, cx
                            )
                            cw.write(key, block, dims)
                            chunks.append((cz, cy, cx))
                levels.append(
                    {
                        "z": arr.shape[0],
                        "y": arr.shape[1],
                        "x": arr.shape[2],
                        "dims": list(dims),
                        "chunks": chunks,
                    }
                )
                if lvl < self.n_levels - 1:
                    arr = windowed_mean(arr, factors)
                    dims = tuple(
                        -(-d // f) for d, f in zip(dims, factors)
                    )
            stacks[(channel, stack)] = {
                "dtype": dt,
                "min_key": rows[0][0],
                "max_key": rows[-1][0],
                "levels": levels,
            }
        return SlabStage(staging, stacks)

    # -- driver side -------------------------------------------------------
    def _promote(self, fs, stage_base: str, group_base: str,
                 channel: str, stack: str, info: dict, lvl: int, off: int):
        """Move level ``lvl``'s staged chunks to final keys shifted by
        ``off`` store z-chunks.  Tolerates an already-moved source (the
        roll-forward path re-invokes for uncommitted levels after a
        crash that lost the staging dir's earlier moves mid-level —
        the destination then already holds the byte-identical chunk)."""
        from pyarrow import fs as pafs

        from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
            ChunkWriter,
            chunk_key,
        )

        if self.failpoint_before_level == lvl:
            raise RuntimeError(
                f"simulated crash before level-{lvl} promotion "
                f"(failpoint_before_level)"
            )
        cw = ChunkWriter(fs)
        for cz, cy, cx in info["levels"][lvl]["chunks"]:
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

        from pyarrow import fs as pafs

        from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
            _fs_for,
            _make_codec,
            _write_all_metadata,
            append_slab_transaction,
            stack_group,
        )

        codec_meta, _ = _make_codec(self.compressor, self.compressor_kwargs)
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
                group = stack_group(self.root, channel, stack)
                _, group_base = _fs_for(group)
                geo = [
                    ((lv["z"], lv["y"], lv["x"]), info["dtype"])
                    for lv in info["levels"]
                ]
                chunk_info = [
                    (lv["dims"][0], -(-lv["z"] // lv["dims"][0]))
                    for lv in info["levels"]
                ]
                attrs_path = f"{group_base}/.zattrs"
                exists = (
                    fs.get_file_info(attrs_path).type != pafs.FileType.NotFound
                )
                if exists:
                    with fs.open_input_stream(attrs_path) as f:
                        attrs = _json.loads(f.read().decode())
                    if attrs.get("smartspim_stream_last_batch") == batchId:
                        return  # epoch replay: already committed
                    with fs.open_input_stream(
                        f"{group_base}/0/.zarray"
                    ) as f:
                        disk_codec = _json.loads(f.read().decode())[
                            "compressor"
                        ]
                    if disk_codec != codec_meta:
                        raise ValueError(
                            f"{channel}/{stack}: stream codec {codec_meta} "
                            f"!= store codec {disk_codec} — staged chunks "
                            f"would be byte-incompatible"
                        )
                    # the epoch marker rides the SAME .zattrs write that
                    # drops the fence — the append's commit point — so a
                    # crash can never separate "appended" from "marked"
                    # (a separate stamp left a window where a replay
                    # double-appended the slab)
                    append_slab_transaction(
                        group,
                        geo,
                        chunk_info,
                        lambda lvl, off, meta, sb=stage_base, gb=group_base,
                        ch=channel, st=stack, inf=info: self._promote(
                            fs, sb, gb, ch, st, inf, lvl, off
                        ),
                        extra_attrs={"smartspim_stream_last_batch": batchId},
                    )
                else:
                    # CREATE: chunks first, then .zarray levels, then
                    # .zattrs LAST with the epoch marker inside it —
                    # nothing can observe a created-but-unmarked store
                    for lvl in range(len(info["levels"])):
                        self._promote(
                            fs, stage_base, group_base, channel, stack,
                            info, lvl, 0,
                        )
                    lv0 = info["levels"][0]
                    _write_all_metadata(
                        [
                            {
                                "channel": channel,
                                "stack": stack,
                                "z": lv0["z"],
                                "y": lv0["y"],
                                "x": lv0["x"],
                                "dtype": info["dtype"],
                                "cdz": lv0["dims"][0],
                                "cdy": lv0["dims"][1],
                                "cdx": lv0["dims"][2],
                            }
                        ],
                        self.root,
                        self.voxel,
                        self.factors,
                        self.chunk,
                        self.n_levels,
                        codec_meta,
                        extra_attrs={"smartspim_stream_last_batch": batchId},
                    )

        # Promote stacks CONCURRENTLY where latency dominates: each
        # stack's commit is an independent group (own fence, own
        # metadata), but a wide microbatch (hundreds of stacks ×
        # thousands of chunks) used to serialize through this driver
        # loop — on an object store, where a "move" is a copy+delete
        # round-trip, the epoch's commit grew linearly with stack
        # count.  Auto policy is MEASURED (tools/stream_commit_probe.py,
        # SCALE.md §6h): on a LOCAL filesystem moves are ~60 µs renames
        # and thread contention LOSES (0.26× at 16 threads — keep the
        # sequential loop); under object-store-like per-op latency the
        # pool's latency hiding wins by ~#workers.  Crash semantics are
        # unchanged either way (a failure mid-pool leaves some stacks
        # committed and some fenced/staged — exactly the states the
        # sequential loop could leave, all covered by the roll-forward
        # + epoch-marker replay paths).
        try:
            stacks_sorted = sorted(per_stack.items())
            workers = int(getattr(self, "commit_parallelism", 0))
            if workers == 0:
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
