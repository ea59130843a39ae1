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
    # −0.3 s; net positive.  Env-overridable for cluster tuning.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": os.environ.get(
        "SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "64k"
    ),
    # Arrow for pandas UDF / toPandas — the only acceptable Python path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Keep Arrow batches bounded so 128^3 uint16 blocks (~4 MiB) plus
    # decode overhead fit comfortably in the Python worker.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    # Broadcast joins for dim tables (region/nation/customer/supplier
    # at test SF; on a cluster raise/lower by measurement).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.ui.enabled": "false",
}


# Arrow batch rows for the imaging child session, whose one user is the
# ``scan_stack_files`` binaryFile scan (the ingest routes read slices by
# path, never as rows): a row is a whole slice file (2000×1600 uint16 ≈
# 6.4 MB), so the relational 4096-row target would build multi-GB Arrow
# batches.  32 × ~6.4 MB ≈ 200 MB per batch.
IMAGING_ARROW_ROWS = "32"

import weakref

# Weak keys: a collected parent session must not pin its child (and a
# recycled id() must not serve a stale child for a new parent).
_imaging_sessions: "weakref.WeakKeyDictionary[SparkSession, SparkSession]" = (
    weakref.WeakKeyDictionary()
)


def imaging_session(spark: SparkSession) -> SparkSession:
    """Child session (shared SparkContext, OWN SQLConf) for imaging
    pipelines.

    DataFrames remember the session that created them, so building the
    imaging scan here pins megabyte-row Arrow batching to the imaging
    lineage only — relational queries on the parent session keep their
    4096-row batches.  This replaces the former session-wide
    ``spark.conf.set`` in the scan builders, which silently degraded
    every later pandas-UDF query in a shared session (ADVICE r2)."""
    child = _imaging_sessions.get(spark)
    if child is None:
        child = spark.newSession()
        child.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", IMAGING_ARROW_ROWS
        )
        # One slice file per scan partition (openCost ==
        # maxPartitionBytes closes a partition after its first file)
        # instead of the relational ~128 MB of files per partition.
        child.conf.set("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        child.conf.set("spark.sql.files.openCostInBytes", str(32 * 1024 * 1024))
        _imaging_sessions[spark] = child
    return child


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
