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


def distributed_order_stats(
    df: DataFrame,
    order_col: str,
    tie_cols: tuple[str, ...] = (),
    value_col: str | None = None,
    rank_col: str = "rank",
    cum_col: str = "running_total",
    ascending: bool = True,
    num_partitions: int | None = None,
    partition_cols: tuple[str, ...] = (),
) -> tuple[DataFrame, dict | None]:
    """EXACT ``row_number`` — and, with ``value_col``, the running sum —
    over ``(order_col [DESC], *tie_cols)``, globally or per
    ``partition_cols`` group, WITHOUT a partition-less window.

    ``Window.orderBy(...)`` with no ``partitionBy`` funnels the ENTIRE
    input through one task (Spark even warns).  This range-bucket
    construction is the one every global-order operator here rides
    (:func:`distributed_ntile`, the vocab ranks, the grouped running
    sums):

    1. approxQuantile boundaries on ``order_col`` become literal range
       buckets (:func:`_quantile_bounds`, :func:`_bucket_expr`); equal
       keys never split across buckets;
    2. per-(group,) bucket partials — row count and value sum — become
       per-bucket offsets.  Ungrouped, the ≤ #buckets partial rows go to
       the driver and come back as a broadcast table, which also yields
       the grand totals as plain Python numbers.  Grouped, a window over
       the partial aggregate partitioned by the group computes them —
       never the driver, never one task, at any group count;
    3. ``row_number`` and the running sum run in a window partitioned
       by (group, bucket), plus the offsets — every task sorts only its
       own key range.

    Returns ``(df + rank_col [+ cum_col], totals)``: ``totals`` is
    ``{"count": N, "sum": S}`` (``sum`` None without ``value_col``)
    when ungrouped, None when grouped.  The rank is BIGINT, like
    ``row_number()``.

    Row-identical to the global (per-group) window whenever
    ``(order_col, *tie_cols)`` is a total order; ``tie_cols`` always
    sort ascending.  ``ascending=False`` buckets and sorts descending
    (NaN first, NULLs last — Spark's DESC ordering).  Boundaries compare
    in DOUBLE: integer keys past 2^53 and approxQuantile's error skew
    bucket BALANCE, never the result.  The input is scanned three times
    (quantile pass, partials pass, final pass) — persist upstream if it
    is expensive to recompute.
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
            # Decimal partial sums are not representable in the offset
            # table's long/double schema — refuse with the fix instead
            # of an opaque error
            raise ValueError(
                f"distributed_order_stats: value column {value_col!r} is "
                f"DECIMAL — cast it to bigint or double first"
            )
    from pyspark.sql.window import Window as W

    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    uniq = _quantile_bounds(df, order_col, n)
    parts = df.withColumn(
        "_rpid", _bucket_expr(order_col, uniq, descending=not ascending)
    )
    keys = [*partition_cols, "_rpid"]
    partials = parts.groupBy(*keys).agg(
        F.count("*").alias("_n"),
        (F.sum(value_col) if value_col is not None else F.lit(0)).alias("_s"),
    )
    if partition_cols:
        w_off = (
            W.partitionBy(*partition_cols)
            .orderBy("_rpid")
            .rowsBetween(W.unboundedPreceding, -1)
        )
        offsets = partials.select(
            *keys,
            F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_rnoff"),
            F.coalesce(F.sum("_s").over(w_off), F.lit(0)).alias("_cmoff"),
        )
        totals = None
    else:
        run_n = run_s = 0
        rows = []
        for r in sorted(partials.collect(), key=lambda r: r["_rpid"]):
            rows.append((int(r["_rpid"]), run_n, run_s))
            run_n += r["_n"]
            run_s += r["_s"] or 0
        if isinstance(run_s, float):
            # the first offset is int 0 — PySpark's schema verifier
            # rejects int for a DoubleType field, so coerce the column
            rows = [(p, rn, float(rs)) for p, rn, rs in rows]
        offsets = F.broadcast(
            df.sparkSession.createDataFrame(
                rows,
                "_rpid int, _rnoff long, _cmoff "
                + ("double" if isinstance(run_s, float) else "long"),
            )
        )
        totals = {
            "count": run_n, "sum": run_s if value_col is not None else None
        }

    order = [
        F.col(order_col).asc() if ascending else F.col(order_col).desc()
    ] + [F.col(c).asc() for c in tie_cols]
    w = W.partitionBy(*keys).orderBy(*order)
    out = parts.join(offsets, keys).withColumn(
        rank_col, F.col("_rnoff") + F.row_number().over(w)
    )
    if value_col is not None:
        out = out.withColumn(
            cum_col,
            F.col("_cmoff")
            + F.sum(value_col).over(w.rowsBetween(W.unboundedPreceding, 0)),
        )
    return out.drop("_rpid", "_rnoff", "_cmoff"), totals


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
    global window: pure arithmetic on :func:`distributed_order_stats`'
    global 0-based position p and total N.  SQL-standard ntile — with
    q = N div n, r = N mod n, the first r tiles take q+1 rows:
    ``p < r*(q+1) ? p div (q+1) : r + (p - r*(q+1)) div q`` (+1).

    Same determinism contract as :func:`distributed_order_stats`.  The
    tile column is INT (like ``F.ntile``).  Output columns = input
    columns + ``out_col``.
    """
    if n_tiles < 1:
        raise ValueError(f"n_tiles must be >= 1, got {n_tiles}")
    ranked, totals = distributed_order_stats(
        df, order_col, tie_cols, rank_col=out_col, ascending=ascending,
        num_partitions=num_partitions,
    )
    q, rem = divmod(totals["count"], n_tiles)
    if q == 0:
        # fewer rows than tiles: row i (1-based) IS tile i
        tile = F.col(out_col)
    else:
        pos, cut = f"(`{out_col}` - 1)", rem * (q + 1)
        tile = F.expr(
            f"CASE WHEN {pos} < {cut} THEN {pos} div {q + 1} "
            f"ELSE {rem} + ({pos} - {cut}) div {q} END + 1"
        )
    return ranked.withColumn(out_col, tile.cast("int"))
