"""Scale-posture utilities: skew salting and bucketed co-located joins.

SCALE.md §2 and §4 describe the 100 TB strategies; this module makes
them executable and testable at any SF:

- :func:`salted_join` — equi-join where the build side's hot keys would
  overwhelm single reducers.  The left (big, skewed) side gets a random
  salt in [0, n); the right side is exploded n× with every salt value;
  the join key becomes (key, salt).  Row multiplication is confined to
  the SMALL side, the skewed key's rows spread over n reducers, and the
  result is row-identical to the plain join.  AQE's skew-join splitter
  handles moderate skew automatically; explicit salting is for the
  pathological keys AQE can't split (one key ≫ one partition's worth).

- :func:`write_bucketed` / :func:`read_bucketed_join` — persist two fact
  tables bucketed+sorted by the join key so the sort-merge join needs
  NO exchange and NO sort at read time: the physical layout carries the
  partitioning.  This is the deployment answer for repeated
  lineitem⋈orders-shaped joins (write once, join shuffle-free forever).

Both utilities are pure DataFrame algebra — no RDDs, no Python row
loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join on ``key``.

    ``left`` is the large/skewed side (salted with rand); ``right`` is
    replicated ``n_salts``× via explode.  Result columns = left's then
    right's (minus its join key), exactly like ``left.join(right, key)``.
    """
    salted_l = left.withColumn("_salt", (F.rand(seed=42) * n_salts).cast("int"))
    salted_r = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = salted_l.join(salted_r, [key, "_salt"], how)
    return out.drop("_salt")


def write_bucketed(
    df: DataFrame,
    table_name: str,
    key: str,
    n_buckets: int = 8,
) -> None:
    """Persist ``df`` bucketed+sorted by ``key`` into the session
    warehouse (saveAsTable — bucketing metadata needs the catalog)."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table_name)
    )


def read_bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    key: str,
) -> DataFrame:
    """Join two same-bucketed tables on ``key``.

    With matching bucket specs Catalyst plans a sort-merge join with no
    Exchange on either side (asserted in tests/test_scale_utils.py) —
    the co-located-join layout SCALE.md prescribes for fact⋈fact at
    100 TB.
    """
    lt = spark.table(left_table)
    rt = spark.table(right_table)
    # Force sort-merge: at test SF the planner would broadcast instead
    # (both tables fit under the threshold), which bypasses the bucketed
    # layout this utility exists to exploit.  At 100 TB fact sizes SMJ
    # is what the planner picks anyway; the hint makes the utility's
    # contract (bucket-co-located, exchange-free join) hold at any SF.
    return lt.hint("merge").join(rt, key)


def write_date_partitioned(
    df: DataFrame,
    path: str,
    date_col: str = "l_shipdate",
    part_col: str = "ship_month",
) -> None:
    """Persist ``df`` as parquet hive-partitioned by month of ``date_col``.

    The 100 TB layout move for time-series facts: a scan filtered to a
    month touches only that month's directory — the other ~83 months of
    a 7-year corpus are never listed, opened, or read.  Pair with
    per-file min/max stats (parquet row-group pruning) for intra-month
    predicates.
    """
    (
        df.withColumn(part_col, F.date_format(F.col(date_col), "yyyy-MM"))
        .write.mode("overwrite")
        .partitionBy(part_col)
        .parquet(path)
    )


def read_month_pruned(
    spark: SparkSession, path: str, month: str, part_col: str = "ship_month"
) -> DataFrame:
    """Scan a :func:`write_date_partitioned` layout for one month.

    The equality predicate on the partition column becomes a
    ``PartitionFilters`` entry on the FileScan (asserted in
    tests/test_scale_utils.py) — directory-level pruning, zero I/O on
    other months.
    """
    return spark.read.parquet(path).filter(F.col(part_col) == month)


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_mb: int = 128,
) -> int:
    """Rewrite a many-small-files parquet directory into ~target-sized
    files; returns the output file count.

    The operational complement of append-style ingest (streaming
    foreachBatch, micro-batch landing — e.g. ``streaming/events_stream``):
    every micro-batch appends a few small files, and after a day a 100 TB
    table is a million 10 MB files — scan planning, file listing, and
    task scheduling all degrade.  Compaction = one coalescing pass:

    - file count is sized from the SOURCE's physical bytes (sum of file
      lengths from the file index — a metadata-only listing, no data
      scan), so the output lands near ``target_file_mb`` regardless of
      row width;
    - ``coalesce`` (not ``repartition``) merges inputs WITHOUT a
      shuffle — each output task concatenates a set of input files;
    - the rewrite goes to a NEW directory (``dst``): parquet has no
      transactional in-place rewrite, and reading+overwriting the same
      path is undefined; at scale the swap is a catalog/table-format
      pointer flip.
    """
    files = spark.read.format("binaryFile").option(
        "pathGlobFilter", "*.parquet"
    ).load(src)
    src_bytes = files.agg(F.sum("length")).collect()[0][0] or 0
    n_out = max(1, int(src_bytes // (target_file_mb * 1024 * 1024)) + 1)
    spark.read.parquet(src).coalesce(n_out).write.mode("overwrite").parquet(dst)
    out = spark.read.format("binaryFile").option(
        "pathGlobFilter", "*.parquet"
    ).load(dst)
    return out.count()


# ---------------------------------------------------------------------------
# Chunk/partition geometry planning (SURVEY F8/F9, reference
# `compress/zarr_writer.py:15-120`): grow a base chunk toward a byte
# target so each write task / Arrow batch carries a right-sized block.
# Driver-side pure functions — they feed `repartition()` / chunk_size
# choices, they are not data-plane operators (SURVEY §4: "partition
# sizing via expand_chunks-like heuristic → repartition(n) choice
# only").
# ---------------------------------------------------------------------------
def chunk_bytes(dims: tuple[int, ...], itemsize: int) -> int:
    """Byte size of a dense chunk; rejects non-positive dims (the
    reference's `_get_size` contract, `compress/zarr_writer.py:15-26`)."""
    if any(d <= 0 for d in dims) or itemsize <= 0:
        raise ValueError(f"dims/itemsize must be positive, got {dims} ×{itemsize}")
    n = itemsize
    for d in dims:
        n *= d
    return n


def _closer_to_target(
    a: tuple[int, ...], b: tuple[int, ...], target: int, itemsize: int
) -> tuple[int, ...]:
    """Candidate whose byte size is nearest the target; tie → smaller
    (the reference's `_closer_to_target` tie-break,
    `compress/zarr_writer.py:29-48`)."""
    da = abs(chunk_bytes(a, itemsize) - target)
    db = abs(chunk_bytes(b, itemsize) - target)
    if da < db:
        return a
    if db < da:
        return b
    return a if chunk_bytes(a, itemsize) <= chunk_bytes(b, itemsize) else b


def plan_chunk_dims(
    base_zyx: tuple[int, int, int],
    shape_zyx: tuple[int, int, int],
    itemsize: int,
    target_bytes: int,
    mode: str = "cycle",
) -> tuple[int, int, int]:
    """Grow ``base_zyx`` toward ``target_bytes`` (reference F9
    `expand_chunks`, `compress/zarr_writer.py:51-120`).

    - ``cycle``: double ONE axis per step, round-robin z→y→x, so grown
      dims stay integer multiples of the base (aligned access — a grown
      chunk always covers whole base chunks);
    - ``iso``: scale all three axes by the same integer factor i.

    Axes clamp to the data shape; of the last-under and first-over
    candidates, the byte-size closest to the target wins (tie → the
    smaller).  Returns the base itself if it already meets the target.
    """
    if mode not in ("cycle", "iso"):
        raise ValueError(f"mode must be 'cycle' or 'iso', got {mode!r}")
    clamp = lambda dims: tuple(  # noqa: E731
        min(d, s) for d, s in zip(dims, shape_zyx)
    )
    cur = clamp(base_zyx)
    if chunk_bytes(cur, itemsize) >= target_bytes:
        return cur
    if mode == "cycle":
        axis = 0
        while chunk_bytes(cur, itemsize) < target_bytes:
            # double the next axis that is not already clamped
            for probe in range(3):
                ax = (axis + probe) % 3
                grown = list(cur)
                grown[ax] = min(grown[ax] * 2, shape_zyx[ax])
                if tuple(grown) != cur:
                    nxt = clamp(tuple(grown))
                    axis = (ax + 1) % 3
                    break
            else:
                return cur  # fully clamped: cannot grow further
            if chunk_bytes(nxt, itemsize) >= target_bytes:
                return _closer_to_target(cur, nxt, target_bytes, itemsize)
            cur = nxt
        return cur
    # iso
    i = 1
    prev = cur
    while True:
        i += 1
        nxt = clamp(tuple(b * i for b in base_zyx))
        if nxt == prev:
            return prev  # fully clamped
        if chunk_bytes(nxt, itemsize) >= target_bytes:
            return _closer_to_target(prev, nxt, target_bytes, itemsize)
        prev = nxt


def _quantile_bounds(df: DataFrame, order_col: str, n: int) -> list[float]:
    """Strictly-increasing approxQuantile boundaries for ``order_col``.

    Baked in as LITERALS, not ``repartitionByRange``: the range
    partitioner re-samples per job, so two passes could disagree on
    which bucket a row belongs to (observed: silently wrong totals).
    Literal boundaries make bucket membership a pure function of the
    key — identical in every pass by construction.  Duplicates and NaN
    bounds are dropped (duplicates collapse buckets; NaN rows get a
    sentinel bucket from :func:`_bucket_expr`).
    """
    qs = [i / n for i in range(1, n)]
    bounds = df.stat.approxQuantile(order_col, qs, 0.001)
    uniq: list[float] = []
    for b in bounds:
        if b == b and (not uniq or b > uniq[-1]):  # skip NaN bounds too
            uniq.append(b)
    return uniq


def _bucket_expr(order_col: str, uniq: list[float], descending: bool = False):
    """Pure-function range-bucket id aligned with Spark's global sort.

    Ascending: NULL keys sort FIRST (sentinel -1) and NaN doubles sort
    LAST (sentinel 2^31-1); descending mirrors that (NaN first, NULL
    last).  Plain literal comparisons, not a higher-order filter(): a
    lambda capturing the outer key column trips Catalyst's attribute
    binding when the expression crosses the offset join
    (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND, pyspark 4.1).  Equal keys
    always share a bucket (comparisons are strict), so range buckets
    never split a tie group.
    """
    key_d = F.col(order_col).cast("double")
    if descending:
        mid = sum(((key_d < F.lit(b)).cast("int") for b in uniq), F.lit(0))
        return (
            F.when(F.col(order_col).isNull(), F.lit(2_147_483_647))
            .when(F.isnan(key_d), F.lit(-1))
            .otherwise(mid)
        )
    mid = sum(((key_d > F.lit(b)).cast("int") for b in uniq), F.lit(0))
    return (
        F.when(F.col(order_col).isNull(), F.lit(-1))
        .when(F.isnan(key_d), F.lit(2_147_483_647))
        .otherwise(mid)
    )


def distributed_cumsum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "running_total",
    num_partitions: int | None = None,
    partition_cols: tuple[str, ...] = (),
    ascending: bool = True,
    tie_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Global running sum WITHOUT the single-task global window.

    ``Window.orderBy(...)`` with no ``partitionBy`` funnels the ENTIRE
    input through one task (Spark even warns) — the classic prefix-sum
    scale trap that n05/n06's docstrings document around.  This is the
    real two-pass construction those docstrings promise:

    1. ``repartitionByRange`` on the order key — partition *p* holds a
       contiguous key range, so partition order == key order;
    2. per-partition partial sums (#partitions rows, map-side
       combined), cumulated into per-partition OFFSETS on the driver
       (a #partitions-sized list, not data) and broadcast-joined back;
    3. within-partition cumsum via a window PARTITIONED by the range
       partition id — every task windows only its own range.

    Row-identical to the global window when ``order_col`` is a total
    order (unique keys); with ties the per-row running values within a
    tie group are order-dependent in BOTH constructions (document or
    pre-aggregate ties away).  The input is scanned three times
    (boundary sample + offset pass + cumsum pass) — persist upstream
    if it is expensive to recompute.

    The range buckets come from EXPLICIT approxQuantile boundaries
    baked in as literals (:func:`_quantile_bounds` — see its docstring
    for why ``repartitionByRange`` would be silently wrong).  Boundary
    comparison happens in DOUBLE (what approxQuantile returns): integer
    keys beyond 2^53 can land on either side of a boundary, which only
    skews bucket BALANCE, never the total — the within-bucket window
    still orders by the original key.  approxQuantile's 0.001 relative
    error likewise bounds imbalance, not correctness.

    ``partition_cols`` generalizes the construction to per-group
    running sums (``sum(v) OVER (PARTITION BY g ORDER BY k)``): the
    bucket boundaries stay GLOBAL (one quantile pass), partial sums
    group by (group, bucket), and — because each group's offsets derive
    only from its own ≤ #buckets partial rows — the offsets are
    computed with a window PARTITIONED by the group over that tiny
    aggregate, never on the driver and never through a single task.
    Every shuffle is keyed; no partition-less window exists at any
    group size.

    ``ascending=False`` orders (and range-buckets) by ``order_col``
    DESC (NaN first, NULLs last — Spark's DESC ordering);
    ``tie_cols`` extend the within-bucket sort (always ascending) so a
    non-unique order key still yields a deterministic running sum —
    the same total-order contract :func:`distributed_ntile` uses.
    Range buckets never split equal keys, so the tie group always
    cumulates inside one window.
    """
    for reserved in ("_rpid", "_offset", "_psum", out_col):
        if reserved in df.columns:
            raise ValueError(
                f"distributed_cumsum: input already has a column named "
                f"{reserved!r} — rename it (the construction would "
                f"silently overwrite and drop it)"
            )
    import decimal

    from pyspark.sql.types import DecimalType

    if isinstance(df.schema[value_col].dataType, DecimalType):
        # the driver-side offset pass would hand decimal.Decimal
        # partial sums to createDataFrame against a long/double schema
        # (opaque failure); refuse up front with the fix in the message
        raise ValueError(
            f"distributed_cumsum: value column {value_col!r} is DECIMAL — "
            f"cast it to bigint or double first (decimal partial sums "
            f"are not representable in the offset table's schema)"
        )
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    uniq = _quantile_bounds(df, order_col, n)
    parts = df.withColumn(
        "_rpid", _bucket_expr(order_col, uniq, descending=not ascending)
    )
    order = [
        F.col(order_col).asc() if ascending else F.col(order_col).desc()
    ] + [F.col(c).asc() for c in tie_cols]

    from pyspark.sql.window import Window as W

    if partition_cols:
        # per-group offsets: a window over the (group, bucket) partial-
        # sum AGGREGATE (≤ #buckets rows per group), partitioned by the
        # group — bounded per task, fully distributed, no collect()
        partials = parts.groupBy(*partition_cols, "_rpid").agg(
            F.sum(value_col).alias("_psum")
        )
        w_off = (
            W.partitionBy(*partition_cols)
            .orderBy("_rpid")
            .rowsBetween(W.unboundedPreceding, -1)
        )
        offsets_df = partials.select(
            *partition_cols,
            "_rpid",
            F.coalesce(F.sum("_psum").over(w_off), F.lit(0)).alias("_offset"),
        )
        w = (
            W.partitionBy(*partition_cols, "_rpid")
            .orderBy(*order)
            .rowsBetween(W.unboundedPreceding, 0)
        )
        return (
            parts.join(offsets_df, [*partition_cols, "_rpid"])
            .withColumn(out_col, F.col("_offset") + F.sum(value_col).over(w))
            .drop("_rpid", "_offset")
        )

    partials = (
        parts.groupBy("_rpid").agg(F.sum(value_col).alias("_psum")).collect()
    )
    running = 0
    offsets = []
    for r in sorted(partials, key=lambda r: r["_rpid"]):
        offsets.append((int(r["_rpid"]), running))
        running += r["_psum"] or 0
    if isinstance(running, (float, decimal.Decimal)):
        # a float value_col makes later offsets float while the first
        # is int 0 — PySpark's schema verifier rejects int for a
        # DoubleType field, so coerce the whole column (Decimal sums
        # are refused above; the isinstance keeps this total anyway)
        offsets = [(pid, float(v)) for pid, v in offsets]
    offsets_df = df.sparkSession.createDataFrame(
        offsets,
        f"_rpid int, _offset {'double' if isinstance(running, float) else 'long'}",
    )
    w = (
        W.partitionBy("_rpid")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        parts.join(F.broadcast(offsets_df), "_rpid")
        .withColumn(out_col, F.col("_offset") + F.sum(value_col).over(w))
        .drop("_rpid", "_offset")
    )


def distributed_order_stats(
    df: DataFrame,
    order_col: str,
    tie_cols: tuple[str, ...] = (),
    value_col: str | None = None,
    rank_col: str = "rank",
    cum_col: str = "running_total",
    ascending: bool = True,
    num_partitions: int | None = None,
) -> tuple[DataFrame, dict]:
    """EXACT global ``row_number`` — and, with ``value_col``, the
    running sum — over ``(order_col [DESC], *tie_cols)`` WITHOUT a
    partition-less window, plus the grand totals as plain Python
    numbers (computed from the same per-bucket partials the offsets
    need, so "attach the total" costs no extra pass and no
    single-partition aggregate exchange).

    Returns ``(df + rank_col [+ cum_col], {"count": N, "sum": S})``
    (``sum`` is None without ``value_col``).  Same construction and
    determinism contract as :func:`distributed_ntile` — literal range
    buckets, per-bucket windows, driver offsets of #buckets rows.
    This is what retires the "rank the vocab aggregate in one task"
    idiom (t10/t12): the vocabulary grows sublinearly but unboundedly,
    and with this the rank pass is bucket-parallel at any vocab size.
    """
    reserved = ["_rpid", "_rnoff", "_cmoff", rank_col]
    if value_col is not None:
        reserved.append(cum_col)
    for r in reserved:
        if r in df.columns:
            raise ValueError(
                f"distributed_order_stats: input already has a column "
                f"named {r!r} — rename it"
            )
    if value_col is not None:
        from pyspark.sql.types import DecimalType

        if isinstance(df.schema[value_col].dataType, DecimalType):
            # same contract as distributed_cumsum: Decimal partial sums
            # are not representable in the offset table's long/double
            # schema — refuse with the fix instead of an opaque error
            raise ValueError(
                f"distributed_order_stats: value column {value_col!r} is "
                f"DECIMAL — cast it to bigint or double first"
            )
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    uniq = _quantile_bounds(df, order_col, n)
    parts = df.withColumn(
        "_rpid", _bucket_expr(order_col, uniq, descending=not ascending)
    )
    aggs = [F.count("*").alias("_n")]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias("_s"))
    partials = parts.groupBy("_rpid").agg(*aggs).collect()
    run_n = 0
    run_s = 0
    offsets = []
    for r in sorted(partials, key=lambda r: r["_rpid"]):
        offsets.append((int(r["_rpid"]), run_n, run_s))
        run_n += r["_n"]
        if value_col is not None:
            run_s += r["_s"] or 0
    if value_col is not None and isinstance(run_s, float):
        offsets = [(p, rn, float(rs)) for p, rn, rs in offsets]
    offsets_df = df.sparkSession.createDataFrame(
        offsets,
        "_rpid int, _rnoff long, _cmoff "
        + ("double" if isinstance(run_s, float) else "long"),
    )

    from pyspark.sql.window import Window as W

    order = [
        F.col(order_col).asc() if ascending else F.col(order_col).desc()
    ] + [F.col(c).asc() for c in tie_cols]
    w = W.partitionBy("_rpid").orderBy(*order)
    out = parts.join(F.broadcast(offsets_df), "_rpid").withColumn(
        rank_col, (F.col("_rnoff") + F.row_number().over(w)).cast("int")
    )
    if value_col is not None:
        out = out.withColumn(
            cum_col,
            F.col("_cmoff")
            + F.sum(value_col).over(w.rowsBetween(W.unboundedPreceding, 0)),
        )
    return (
        out.drop("_rpid", "_rnoff", "_cmoff"),
        {"count": run_n, "sum": run_s if value_col is not None else None},
    )


def distributed_ntile(
    df: DataFrame,
    order_col: str,
    n_tiles: int,
    tie_cols: tuple[str, ...] = (),
    out_col: str = "tile",
    ascending: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """EXACT ``ntile(n) OVER (ORDER BY ...)`` without the single-task
    global window.

    A partition-less ``Window.orderBy`` moves the ENTIRE input through
    one reducer — the last plan shape in this repo that could not
    survive 100× (VERDICT r6).  This is the distributed construction:

    1. approxQuantile boundaries on ``order_col`` → literal range
       buckets (:func:`_bucket_expr`; ties never split across buckets);
    2. per-bucket COUNTS to the driver (≤ #buckets rows, not data) →
       per-bucket row-number offsets and the global total N;
    3. within-bucket ``row_number`` windowed BY bucket (every task
       sorts only its own key range) + broadcast offset = exact global
       0-based position p;
    4. the tile is pure arithmetic on p — SQL-standard ntile: with
       q = N div n, r = N mod n, the first r tiles take q+1 rows:
       ``p < r*(q+1) ? p div (q+1) : r + (p - r*(q+1)) div q`` (+1).

    Row-identical to the global-window ntile whenever
    (order_col, *tie_cols) is a total order — the same determinism
    contract the global form needs for a stable oracle.  ``ascending=
    False`` buckets and sorts descending (NaN first, NULLs last,
    matching Spark's DESC ordering).  The input is scanned three times
    (quantile pass, count pass, tile pass) — persist upstream if it is
    expensive to recompute.

    The tile column is INT (like ``F.ntile``).  Output columns = input
    columns + ``out_col``.
    """
    if n_tiles < 1:
        raise ValueError(f"n_tiles must be >= 1, got {n_tiles}")
    for reserved in ("_rpid", "_rnoff", "_gpos", out_col):
        if reserved in df.columns:
            raise ValueError(
                f"distributed_ntile: input already has a column named "
                f"{reserved!r} — rename it (the construction would "
                f"silently overwrite and drop it)"
            )
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    uniq = _quantile_bounds(df, order_col, n)
    parts = df.withColumn(
        "_rpid", _bucket_expr(order_col, uniq, descending=not ascending)
    )
    counts = parts.groupBy("_rpid").count().collect()
    running = 0
    offsets: list[tuple[int, int]] = []
    for r in sorted(counts, key=lambda r: r["_rpid"]):
        offsets.append((int(r["_rpid"]), running))
        running += r["count"]
    total = running
    offsets_df = df.sparkSession.createDataFrame(
        offsets, "_rpid int, _rnoff long"
    )

    from pyspark.sql.window import Window as W

    order = [
        F.col(order_col).asc() if ascending else F.col(order_col).desc()
    ] + [F.col(c).asc() for c in tie_cols]
    w = W.partitionBy("_rpid").orderBy(*order)
    pos = parts.join(F.broadcast(offsets_df), "_rpid").withColumn(
        "_gpos", F.col("_rnoff") + F.row_number().over(w) - F.lit(1)
    )
    q, rem = divmod(total, n_tiles)
    if q == 0:
        # fewer rows than tiles: row i (1-based) IS tile i
        tile = F.col("_gpos") + F.lit(1)
    else:
        cut = rem * (q + 1)
        tile = F.expr(
            f"CASE WHEN _gpos < {cut} THEN _gpos div {q + 1} "
            f"ELSE {rem} + (_gpos - {cut}) div {q} END + 1"
        )
    return pos.withColumn(out_col, tile.cast("int")).drop(
        "_rpid", "_rnoff", "_gpos"
    )
