"""End-to-end imaging job: scan → decode → pyramid → OME-Zarr.

The Spark re-expression of the reference's
``SmartspimCompressionJob.run_job`` (`smartspim_job.py:217-234`):

reference                                  | here
-------------------------------------------|--------------------------------
round-robin stack list across N processes  | one driver-side listing plans
(`smartspim_job.py:30-63`)                 | band tasks; one app replaces
                                           | N instances
per-stack dask graph + da.store            | fused band tasks (fused.py):
                                           | decode + every level + write
write level, read back for next level      | every level from the band in
                                           | memory, no read-back
subprocess `aws s3 sync` + local delete    | write directly to the target
                                           | (s3a:// URI on a cluster)
derivatives passthrough upload (S10)       | binary copy, driver-side

One ingest route: ``fused.run_fused_ingest``.  Its band plan fits every
geometry to the memory envelope by splitting bands along Y and, for
planes too wide for a one-chunk-row band, along X as well.

Returns a JobResponse-like dict (status_code / message / duration).
"""

from __future__ import annotations

import time
from pathlib import Path

from pyspark.sql import SparkSession

from aind_smartspim_data_transformation_spark.config.settings import ImagingJobSettings
from aind_smartspim_data_transformation_spark.imaging.fused import run_fused_ingest
from aind_smartspim_data_transformation_spark.sources.acquisition import (
    get_voxel_resolution,
)
from aind_smartspim_data_transformation_spark.sources.stack_reader import (
    list_stack_files,
)


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
    stack groups, the ingest metrics and ``phase_sec``: the band tasks'
    read/decode/pyramid/compress/write seconds summed over the bands
    this run wrote (None when this partition owns no stacks)."""
    start = time.time()
    root = str(settings.input_source)
    # With s3_location set, executors write STRAIGHT to the object
    # store (pyarrow.fs inside the sink) — no local staging, no
    # subprocess `aws s3 sync`, no post-upload rmtree (the reference's
    # S9 flow, `smartspim_job.py:169-195`).
    out = settings.s3_location or str(settings.output_directory)

    voxel_zyx = get_voxel_resolution(f"{root}/acquisition.json")
    # ONE driver-side listing of the tree (raises on a non-image file,
    # the reference's extension check) plans the partition split, the
    # geometry probe, the resume digest and the fused band groups
    listing = list_stack_files(f"{root}/SmartSPIM")

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
        all_stacks = sorted({(ch, st) for _, ch, st, _, _ in listing})
        mine = partition_stacks(all_stacks, settings.num_of_partitions)[
            settings.partition_to_process
        ]
        if not mine:
            return {
                "status_code": 200,
                "message": "empty partition",
                "written": [],
                "metrics": {},
                "phase_sec": None,
            }

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
        on_error=settings.on_error,
        listing=listing,
    )
    phase_sec = metrics.pop("phase_sec")
    return {
        "status_code": 200,
        "message": (
            f"wrote {len(written)} stacks in {time.time() - start:.1f}s"
        ),
        "written": written,
        "metrics": metrics,
        "phase_sec": phase_sec,
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
