"""SparkSession builders tuned for this engine.

Two postures:

- :func:`build_local_session` — what tests / bench / the driver smoke use.
  ``local[N]`` is a single JVM, so ``spark.driver.memory`` is the only
  memory knob; shuffle partitions sized to cores, not the 200 default.
- The same configs are the right *defaults* on a real cluster: AQE
  (runtime coalescing + skew-join splitting) and Arrow-batched Python
  UDF transfer are scale posture, not test conveniences.  At 100 TB the
  session-level knobs that matter are recorded in SCALE.md.

The reference hand-rolls its parallelism (round-robin stack partitioning
across N independent processes, smartspim_job.py:30-63); here the
scheduler owns it, so the session config *is* the parallelism model.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Timezone is pinned to UTC so timestamp semantics agree with the
# DuckDB oracle (duckdb timestamps are UTC-naive).
_COMMON = {
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime partition coalescing, skew-join handling, plan re-opt.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # r15: AQE's coalesce floor (default 1m) collapses small-bytes /
    # CPU-dense post-shuffle stages (window sorts, interpreted-fold
    # pair loops) onto 1–3 tasks.  With parallelismFirst (default on)
    # the target size is max(totalBytes/defaultParallelism, THIS
    # FLOOR), so lowering the floor only changes behavior when a
    # shuffle's total bytes < defaultParallelism × 1 MB — at
    # production shuffle sizes the term on the left dominates and the
    # plan is unchanged.  Measured (sf0.1, interleaved min-of-4): d14
    # 2.8→2.3 s, e04 1.49→1.39 s, e05 0.76→0.69 s, q03/e02 wash, n07
    # −0.3 s; net positive.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    # Python workers import the installed pyspark instead of
    # $SPARK_HOME/python/lib/pyspark.zip when the versions match — no
    # per-daemon compile of the zip, no per-task zip directory re-reads
    # (see worker_daemon.py).
    "spark.python.daemon.module": "aind_smartspim_data_transformation_spark.worker_daemon",
    # ...which the workers must import whatever the driver's cwd: put
    # the directory holding this package on their path.
    "spark.executorEnv.PYTHONPATH": os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    ),
    # Arrow for pandas UDF / toPandas — the only acceptable Python path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Keep Arrow batches bounded for the pandas-UDF paths (no imaging
    # pixels ride Arrow: the imaging writers read slices by path).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    # Broadcast joins for dim tables (region/nation/customer/supplier
    # at test SF; on a cluster raise/lower by measurement).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.ui.enabled": "false",
}


def build_local_session(
    app_name: str = "aind-smartspim-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """Build (or get) a local-mode session.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores; shuffle
    partitions default to the core count (matching parallelism avoids
    both tiny-partition overhead and under-parallelized shuffles).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
    )
    if driver_memory:
        builder = builder.config("spark.driver.memory", driver_memory)
    for k, v in _COMMON.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
