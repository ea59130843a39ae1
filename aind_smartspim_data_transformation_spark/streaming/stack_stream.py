"""Incremental imaging ingest — Structured Streaming over arriving slices.

The reference processes a finished acquisition in one batch job, re-listing
the whole tree every run (`smartspim_job.py:43-63`, `run_job` 217-234), and
rebuilds the whole stack each time (`compress/png_to_zarr.py:673-686`).
Acquisitions are written slice-by-slice over hours, so the streaming twin
treats the stack tree as an unbounded source instead: Spark's file stream
source checkpoints the set of processed files, so each arriving slice is
listed and decoded exactly once across any number of micro-batches.

There is one incremental path, :func:`run_streaming_store_ingest`:

    stream_stack_files → decode_stream_slices → repartition(channel, stack)
                       → writeStream.format("smartspim")

The ``smartspim`` stream writer
(``sources/smartspim_datasource.SmartspimStreamWriter``) turns each
microbatch into one fenced z-slab append per stack, so the OME-Zarr
stores grow wave by wave and end identical to a one-shot build of the
finished acquisition (asserted in tests/test_stack_stream.py).

**slice_key, not z, is the streamed identity.** The batch path assigns
dense z as the path rank over *all* files of a stack, on the driver
(``list_stack_files`` rows ranked in ``fused.run_fused_ingest``,
`io/readers.py:145` sorted-glob semantics) — a rank an incremental
batch cannot compute (it only sees new files).  The stream therefore
carries the numeric filename stem (`slice_key`, batch-independent and
content-stable); the writer orders a wave's slices by it and places the
slab at the store's current z extent, which is the same rank under the
acquisition contract (slices arrive in ascending stem order per stack).

Scale posture: decode is a narrow map; the one shuffle is the
repartition that puts each stack's wave in one write task, and the only stream state is the file-source's
processed-file log.  1000 executors drain a burst of arriving slices at
list-throughput.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aind_smartspim_data_transformation_spark.sources.stack_reader import (
    decode_image_gray,
)

# binaryFile's fixed schema — streaming sources cannot infer it.
BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)

STREAM_SLICE_SCHEMA = (
    "channel string, stack string, slice_key long, height int, width int, "
    "dtype string, data binary"
)


def stream_stack_files(spark: SparkSession, root: str) -> DataFrame:
    """Streaming twin of ``scan_stack_files``: same path-derived columns,
    plus the batch-independent ``slice_key`` (numeric filename stem)."""
    from aind_smartspim_data_transformation_spark.session import imaging_session

    df = (
        imaging_session(spark)  # megabyte-row Arrow batches, own SQLConf
        .readStream.format("binaryFile")
        .schema(BINARY_FILE_SCHEMA)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.{png,tif,tiff}")
        .load(root)
    )
    channel = F.regexp_extract("path", r"SmartSPIM/([^/]+)/", 1)
    stack = F.regexp_extract("path", r"/([^/]+)/[^/]+\.[A-Za-z]+$", 1)
    slice_key = F.regexp_extract("path", r"/(\d+)\.[A-Za-z]+$", 1).cast("long")
    return (
        df.filter(channel != "")
        .select(
            channel.alias("channel"),
            stack.alias("stack"),
            slice_key.alias("slice_key"),
            "content",
        )
    )


def decode_stream_slices(files: DataFrame) -> DataFrame:
    """Decode (same PNG/TIFF dispatch as the batch path) keyed by slice_key."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = decode_image_gray(bytes(r.content))
                out.append(
                    (
                        r.channel,
                        r.stack,
                        int(r.slice_key),
                        arr.shape[0],
                        arr.shape[1],
                        str(arr.dtype),
                        arr.tobytes(),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "channel",
                    "stack",
                    "slice_key",
                    "height",
                    "width",
                    "dtype",
                    "data",
                ],
            )

    return files.mapInPandas(_decode, schema=STREAM_SLICE_SCHEMA)


def run_streaming_store_ingest(
    spark: SparkSession,
    root: str,
    store_root: str,
    checkpoint_dir: str,
    chunk_zyx: list[int] | None = None,
    scale_factor_zyx: list[int] | None = None,
    n_levels: int = 1,
    voxel_size_zyx: list[float] | None = None,
    timeout_sec: int = 120,
) -> None:
    """Stream arriving slices straight into multiscale OME-Zarr stores
    through the DataSource streaming commit protocol:

        decoded slices → repartition(channel, stack)
                       → writeStream.format("smartspim")

    Each ``availableNow`` run drains the new waves; every microbatch
    becomes one fenced z-slab append per stack
    (``SmartspimStreamWriter`` → ``append_slab_transaction``), so a
    mid-stream kill leaves either no trace (staging only), a detectable
    fence (rolled forward on restart), or a committed epoch (replay is
    a marker-guarded no-op).  Semantics and constraints are the
    writer's (slices ascend per stack; uniform wave depth except the
    last).
    """
    import json

    from aind_smartspim_data_transformation_spark.sources.smartspim_datasource import (
        ensure_registered,
    )

    slices = decode_stream_slices(
        stream_stack_files(spark, root)
    ).repartition("channel", "stack")
    # streaming format resolution is SPLIT across sessions (observed,
    # pyspark 4.1): .start() resolves from the ACTIVE session while the
    # microbatch execution resolves from the DataFrame's own (imaging
    # child) session — register in BOTH.  No fallback exists for a
    # streaming sink, so a registration failure propagates.
    ensure_registered(spark)
    ensure_registered(slices.sparkSession)
    q = (
        slices.writeStream.format("smartspim")
        .option("checkpointLocation", checkpoint_dir)
        .option("chunk", json.dumps(chunk_zyx or [128, 128, 128]))
        .option("scale_factor", json.dumps(scale_factor_zyx or [2, 2, 2]))
        .option("n_levels", str(n_levels))
        .option("voxel_size", json.dumps(voxel_size_zyx or [1.0, 1.0, 1.0]))
        .trigger(availableNow=True)
        .start(store_root)
    )
    try:
        done = q.awaitTermination(timeout_sec)
        if not done:
            # an incomplete drain must not return as success: the fence
            # keeps the store consistent, but the caller believes every
            # arrived wave landed.  Stop the query (finally) and say so.
            raise TimeoutError(
                f"streaming store ingest did not drain within "
                f"{timeout_sec}s — the checkpoint will resume where it "
                f"stopped on the next run"
            )
    finally:
        q.stop()
