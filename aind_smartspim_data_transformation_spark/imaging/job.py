"""End-to-end imaging job: scan → decode → pyramid → OME-Zarr.

The Spark re-expression of the reference's
``SmartspimCompressionJob.run_job`` (`smartspim_job.py:217-234`):

reference                                  | here
-------------------------------------------|--------------------------------
round-robin stack list across N processes  | Spark schedules chunk tasks;
(`smartspim_job.py:30-63`)                 | one app replaces N instances
per-stack dask graph + da.store            | one DataFrame pipeline/stack
write level, read back for next level      | persist() between levels
subprocess `aws s3 sync` + local delete    | write directly to the target
                                           | (s3a:// URI on a cluster)
derivatives passthrough upload (S10)       | binary copy, driver-side

Returns a JobResponse-like dict (status_code / message / duration).
"""

from __future__ import annotations

import time
from pathlib import Path

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from aind_smartspim_data_transformation_spark.config.settings import ImagingJobSettings
from aind_smartspim_data_transformation_spark.imaging.pyramid import build_pyramid
from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
    write_ome_zarr_all,
)
from aind_smartspim_data_transformation_spark.sources.acquisition import (
    get_voxel_resolution,
)
from aind_smartspim_data_transformation_spark.sources.stack_reader import (
    read_stack_tree,
    read_stack_tree_datasource,
    scan_stack_files,
    validate_extensions,
)


def _ingest_chunks(spark: SparkSession, settings: ImagingJobSettings, root: str):
    """Choose the scan path and return (chunk table, route): DataSource
    (one partition per stack, no z-map — the default at scale) when the
    Python DataSource API is available, the binaryFile+UDF pipeline
    otherwise.  Both are bit-identical on clean trees
    (tests/test_datasource.py); the DataSource scan has no dead-letter
    channel, so quarantine jobs route to the UDF pipeline (settings
    validation already refused a forced datasource+quarantine
    combination)."""
    cz, cy, cx = settings.chunk_size
    # Probe the capabilities the DataSource path actually uses, not
    # just the public attribute: on Spark Connect `spark.dataSource`
    # exists but the classic-JVM internals (registration fallback,
    # sparkContext for the slab floor) do not — "auto" must fall back
    # to the UDF path there instead of crashing.
    ds_capable = hasattr(spark, "dataSource") and getattr(
        spark, "_jsparkSession", None
    ) is not None
    if settings.ingest == "datasource" or (
        settings.ingest == "auto"
        and ds_capable
        and settings.on_error == "fail"
    ):
        chunks = read_stack_tree_datasource(
            spark, f"{root}/SmartSPIM", chunk_z=cz, chunk_y=cy, chunk_x=cx
        )
        return chunks, "datasource"
    chunks = read_stack_tree(
        spark,
        f"{root}/SmartSPIM",
        chunk_z=cz,
        chunk_y=cy,
        chunk_x=cx,
        on_error=settings.on_error,
    )
    return chunks, "udf"


def partition_stacks(stacks: list, n_partitions: int) -> list[list]:
    """Round-robin partition of a SORTED stack list — the reference's
    `partition_list` (`smartspim_job.py:30-41`): element i lands in
    partition i % n.  Every element appears in exactly one partition;
    partition sizes differ by at most 1.  Pure function (golden-tested
    with the reference suite's 75-element counts)."""
    if n_partitions < 1:
        raise ValueError(f"n_partitions must be >= 1, got {n_partitions}")
    ordered = sorted(stacks)
    return [ordered[k::n_partitions] for k in range(n_partitions)]


def run_imaging_job(spark: SparkSession, settings: ImagingJobSettings) -> dict:
    """Run the whole ingest; returns status_code, message, the written
    stack groups, the ingest metrics, and ``route`` — the ingest path
    taken: ``"fused"`` (band tasks), ``"datasource"`` or ``"udf"`` (the
    chunk-table pipeline over either scan), or None when this
    partition owns no stacks."""
    start = time.time()
    root = str(settings.input_source)
    # With s3_location set, executors write STRAIGHT to the object
    # store (pyarrow.fs inside the sink) — no local staging, no
    # subprocess `aws s3 sync`, no post-upload rmtree (the reference's
    # S9 flow, `smartspim_job.py:169-195`).
    out = settings.s3_location or str(settings.output_directory)

    voxel_zyx = get_voxel_resolution(spark, f"{root}/acquisition.json")
    validate_extensions(spark, f"{root}/SmartSPIM")

    # derivatives passthrough (reference S10: partition 0 uploads the
    # folder untouched; raises if missing)
    deriv = Path(root) / "derivatives"
    if not deriv.is_dir():
        raise FileNotFoundError(f"derivatives folder not found at {deriv}")
    if settings.partition_to_process == 0:
        _copy_tree(deriv, f"{out}/derivatives")

    # O3 compat: callers who still launch N independent job instances
    # (the reference's only multi-node mechanism, `smartspim_job.py:
    # 30-41,226-228`) get the same deterministic round-robin split.  A
    # single Spark app doesn't need this — the scheduler owns
    # parallelism — so the filter only engages for num_of_partitions>1.
    mine: list | None = None
    if settings.num_of_partitions > 1:
        all_stacks = sorted(
            (r["channel"], r["stack"])
            for r in scan_stack_files(spark, f"{root}/SmartSPIM")
            .select("channel", "stack")
            .distinct()
            .collect()
        )
        mine = partition_stacks(all_stacks, settings.num_of_partitions)[
            settings.partition_to_process
        ]
        if not mine:
            return {
                "status_code": 200,
                "message": "empty partition",
                "written": [],
                "metrics": {},
                "route": None,
            }

    # Fused zero-shuffle path (imaging/fused.py): "auto" takes it when
    # the probed per-task band buffer fits memory — pixel bytes never
    # enter the JVM, no assembly shuffle, every pyramid level computed
    # and written by the decode task itself.  Falls through to the
    # chunk-table pipeline for giant planes (memory envelope) or when
    # forced off.
    if settings.ingest in ("fused", "auto"):
        from aind_smartspim_data_transformation_spark.imaging.fused import (
            FUSED_MAX_TASK_BYTES,
            fused_task_bytes,
            probe_stack_geometry,
            run_fused_ingest,
        )

        geo = probe_stack_geometry(
            spark, f"{root}/SmartSPIM", on_error=settings.on_error
        )
        task_bytes = fused_task_bytes(
            geo, list(settings.chunk_size),
            spark.sparkContext.defaultParallelism,
        )
        if settings.ingest == "fused" or task_bytes <= FUSED_MAX_TASK_BYTES:
            written, metrics = run_fused_ingest(
                spark,
                f"{root}/SmartSPIM",
                out,
                voxel_size_zyx=voxel_zyx,
                scale_factor_zyx=list(settings.scale_factor),
                chunk_zyx=list(settings.chunk_size),
                n_levels=settings.downsample_levels,
                compressor_name=settings.compressor_name.value,
                compressor_kwargs=settings.compressor_kwargs,
                stack_filter=mine,
                geo=geo,
                on_error=settings.on_error,
            )
            return {
                "status_code": 200,
                "message": (
                    f"wrote {len(written)} stacks in "
                    f"{time.time() - start:.1f}s (fused)"
                ),
                "written": written,
                "metrics": metrics,
                "route": "fused",
            }

    chunks, route = _ingest_chunks(spark, settings, root)
    if mine is not None:
        keys = spark.createDataFrame(mine, "channel string, stack string")
        chunks = chunks.join(F.broadcast(keys), ["channel", "stack"])
    # Observation metrics ride the FIRST action over the chunk table —
    # ingest volume accounting with no second scan (the reference logs
    # wall-clock only, `smartspim_job.py:219,231-233`; at 100 TB a
    # count()-style recount would itself be a full pipeline re-run).
    obs = Observation("ingest")
    chunks = chunks.observe(
        obs,
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.length("data")).alias("chunk_bytes"),
    )
    # ONE pipeline over ALL stacks (the 1000-executor shape): the
    # pyramid and each level's zarr write run as one Spark job whose
    # tasks span every stack's tiles — the scheduler sees a few big
    # jobs with thousands of tasks instead of stacks × levels small
    # jobs (the reference fans stacks out as N separate *processes*,
    # `smartspim_job.py:30-41`; Spark's task scheduler replaces that
    # machinery outright).  Per-stack routing happens inside the write
    # task from each row's channel/stack columns.
    levels = build_pyramid(
        chunks,
        tuple(settings.scale_factor),
        settings.downsample_levels,
        chunk_zyx=list(settings.chunk_size),
    )
    written = write_ome_zarr_all(
        levels,
        out,
        voxel_size_zyx=voxel_zyx,
        scale_factor_zyx=list(settings.scale_factor),
        chunk_zyx=list(settings.chunk_size),
        compressor_name=settings.compressor_name.value,
        compressor_kwargs=settings.compressor_kwargs,
    )
    for lvl in levels:
        if lvl.is_cached:
            lvl.unpersist()

    return {
        "status_code": 200,
        "message": f"wrote {len(written)} stacks in {time.time() - start:.1f}s",
        "written": written,
        "metrics": obs.get,
        "route": route,
    }


def _copy_tree(src: Path, dst_root: str) -> None:
    """Recursive copy of a local folder to a local path OR any
    pyarrow.fs URI (s3:// file:// ...) — driver-side, derivatives are
    small metadata files (reference S10)."""
    from aind_smartspim_data_transformation_spark.imaging.zarr_sink import _fs_for

    fs, base = _fs_for(dst_root)
    for p in sorted(src.rglob("*")):
        if not p.is_file():
            continue
        rel = p.relative_to(src).as_posix()
        dst = f"{base}/{rel}"
        fs.create_dir(dst.rsplit("/", 1)[0], recursive=True)
        with fs.open_output_stream(dst) as f:
            f.write(p.read_bytes())


def job_entrypoint(argv: list[str] | None = None) -> dict:
    """CLI with the reference's 3-way settings precedence
    (`smartspim_job.py:238-255`): ``-j/--job-settings`` JSON string >
    ``--config-file`` > ``TRANSFORMATION_JOB_*`` env vars.

        python -m aind_smartspim_data_transformation_spark.imaging.job \\
            -j '{"input_source": ..., "output_directory": ...}'
    """
    import argparse

    from aind_smartspim_data_transformation_spark.session import build_local_session

    parser = argparse.ArgumentParser(description="SmartSPIM → OME-Zarr Spark job")
    parser.add_argument("-j", "--job-settings", help="settings as a JSON string")
    parser.add_argument("--config-file", help="settings as a JSON file path")
    args = parser.parse_args(argv)
    settings = ImagingJobSettings.resolve(args.job_settings, args.config_file)
    spark = build_local_session(app_name="smartspim-imaging-job")
    return run_imaging_job(spark, settings)


if __name__ == "__main__":
    import json as _json

    resp = job_entrypoint()
    print(_json.dumps({k: v for k, v in resp.items() if k != "written"}))
