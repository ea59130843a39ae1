"""Parquet table loaders for the driver's synthetic star schema.

Tables (see /root/repo/TESTDATA.md): region nation customer supplier
part orders lineitem events documents embeddings — one parquet each
under ``{sf_dir}/{name}.parquet``.

Plain ``spark.read.parquet`` is the whole source layer: Catalyst gets
predicate pushdown, column pruning and (on a partitioned layout)
partition pruning for free.  At 100 TB the same call reads a
date/key-partitioned parquet lake; nothing here changes.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Per-session memo of loaded tables, keyed by (path, (mtime_ns, size)).  This
# caches the ANALYZED LAZY PLAN only — driver-side metadata (parquet
# footer schema + file listing), the same class of thing Spark's own
# per-session file-index cache holds; never rows, never results: every
# action over the returned frame still reads the parquet from disk.
# Why (r15, guide §1.2 step 2 / §7.3): `spark.read.parquet` re-reads
# the footer and re-infers the schema on EVERY call — measured
# 0.17–0.29 s per call at the bench SF — a pure per-query driver fixed
# cost paid by each of a query's table loads on each timed run.  The
# mtime in the key makes a rewritten fixture (tests overwrite tmp
# paths in place) miss cleanly; distinct sessions get distinct memos
# and die with their session (WeakKey).
_TABLE_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _path_key(path: str) -> tuple:
    """(mtime_ns, size) — r16 (VERDICT r15 "what's wrong" #6): second
    mtime granularity could stale-hit a fixture overwritten twice
    within one second on a coarse-mtime filesystem; nanosecond mtime
    plus byte size closes that window."""
    try:
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return (-1, -1)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    path = f"{sf_dir}/{name}.parquet"
    memo = _TABLE_MEMO.setdefault(spark, {})
    key = (path, _path_key(path))
    df = memo.get(key)
    if df is None:
        df = spark.read.parquet(path)
        memo[key] = df
    return df


def spread_unsplittable_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition a BATCH DataFrame whose physical plan
    yields fewer partitions than the session's default parallelism —
    the optimization-guide §2.5 remedy for an unsplittable input.

    The sf testdata ships each table as ONE single-row-group parquet
    file, so a scan cannot split no matter how small
    ``maxPartitionBytes`` goes, and every scan-side pipeline stage
    (tokenize → md5 shingles, LSH folds, partial aggregation) runs as
    ONE task regardless of cores (measured r15: d03's candidate pass
    3.7 s → 2.5 s at sf0.1 once spread).  Strictly scale-adaptive: a
    production table is thousands of splits, so the guard makes this a
    no-op there; it fires only for genuinely unsplittable stragglers
    (one giant gzip, a single-row-group file) where one round-robin
    exchange of the base rows buys full-cluster parallelism for the
    compute above it.  Deterministic under retries: the input is a
    deterministic scan and ``spark.sql.execution.sortBeforeRepartition``
    stays at its default.  Batch-only (``df.rdd`` would fail on a
    streaming frame); callers in streaming plans use the narrow
    per-row variants instead.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    # The probe converts the plan to an RDD — ~0.1 s of driver work per
    # call (measured r15).  Memoize it ON the DataFrame object: callers
    # probe the memoized load_table frames, so each (session, path)
    # pays once per process.  Layout-dependent only (file count/sizes
    # vs maxPartitionBytes), so it is as stable as the frame itself.
    n = getattr(df, "_spread_nparts", None)
    if n is None:
        try:
            n = df.rdd.getNumPartitions()
        except Exception:
            return df
        try:
            df._spread_nparts = n
        except Exception:
            pass
    if n >= target:
        return df
    return df.repartition(target)


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events with a normalized microsecond-timestamp ``ts``.

    Some generations of the testdata store ts as TIMESTAMP(NANOS), which
    Spark's parquet reader rejects by default (PARQUET_TYPE_ILLEGAL); those
    are read as long (``nanosAsLong``) and truncated to microseconds — the
    same ns→µs truncation DuckDB applies.  Current generations store a
    plain ``timestamp[us]`` that reads natively; detect which we have and
    only convert when needed.
    """
    from pyspark.sql import functions as F

    path = f"{sf_dir}/events.parquet"
    memo = _TABLE_MEMO.setdefault(spark, {})
    key = (path, _path_key(path))
    cached = memo.get(key)
    if cached is not None:
        return cached
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    ts_type = dict(df.dtypes).get("ts", "")
    if ts_type in ("bigint", "long"):
        # Integer division: ns epoch ≈ 1.7e18 exceeds double's 2^53
        # mantissa, so a float divide would corrupt the microsecond digit.
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        # Session TZ is pinned UTC (session.py), so NTZ→LTZ preserves the
        # wall clock; downstream plans (epoch-second gap arithmetic in
        # sessionization, window()) expect plain TIMESTAMP.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    memo[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL-authored plans)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
