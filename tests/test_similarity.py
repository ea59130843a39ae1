"""Similarity-search operators vs the DuckDB oracle."""

from __future__ import annotations

import pytest

from aind_smartspim_data_transformation_spark.operators import similarity
from tests.oracle import compare


@pytest.mark.parametrize("name", sorted(similarity.QUERIES))
def test_similarity_vs_oracle(spark, sf_dir, name):
    df = similarity.QUERIES[name](spark, sf_dir)
    compare(df, similarity.ORACLE[name], sf_dir, name)


def test_topk_is_sorted(spark, sf_dir):
    rows = similarity.s01_cosine_topk(spark, sf_dir).collect()
    assert len(rows) == similarity.TOP_K
    cosines = [r["cosine"] for r in rows]
    assert cosines == sorted(cosines, reverse=True)


def test_s02_bucket_assignment_is_narrow(spark, sf_dir):
    """Bucket assignment is a per-row fold — no explode (Generate) —
    and occupancy attaches via a BROADCAST of the bounded (≤2^N_PLANES
    rows) counts table: the vector table itself is never hash-shuffled."""
    from aind_smartspim_data_transformation_spark.operators.similarity import (
        s02_lsh_buckets,
    )

    plan = (
        s02_lsh_buckets(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Generate" not in plan  # no posexplode of the embedding array
    assert "BroadcastHashJoin" in plan
    # the count's partial-agg exchange + the final sort's range
    # partitioning — the full vector table never enters a hash exchange
    assert plan.count("Exchange hashpartitioning") <= 1


def test_s05_assignment_has_no_pervector_shuffle(spark, sf_dir):
    """IVF cell assignment is array_max over a broadcast centroid array —
    a narrow map.  The plan must not repartition by vec_id (the naive
    crossJoin-K×-then-groupBy(vec_id) shape would)."""
    df = similarity.s05_ann_ivf(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(vec_id" not in plan
    assert "Window" not in plan  # no row_number-over-vec_id argmax
    # both the centroid array and the query row attach via broadcast
    assert plan.count("BroadcastNestedLoopJoin") >= 2


def test_s10_pq_scan_is_shuffle_free(spark, sf_dir):
    """PQ-ADC is a narrow map (r16: a numpy mapInPandas — codebooks
    and LUT ride the task closure): encoding + distance estimation
    must plan with ZERO exchanges before the TakeOrderedAndProject
    top-k — the shape that scans a billion codes in one pass."""
    df = similarity.s10_pq_adc(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    assert "Generate" not in plan  # no posexplode of the embedding
    assert "MapInPandas" in plan  # the r16 vectorized encode
    # the top-k comes back in (d2_approx, vec_id) order, which the
    # order-insensitive oracle compare does not check
    keys = [(r["d2_approx"], r["vec_id"]) for r in df.collect()]
    assert keys == sorted(keys) and len(keys) == similarity.PQ_TOPK


def test_s11_plan_scan_is_narrow_and_pruned(spark, sf_dir):
    """The IVF-PQ scan must be a narrow map: no Exchange before the
    TakeOrderedAndProject shortlist (centroids and LUT ride the numpy
    task closure),
    and the exact re-rank runs on IVFPQ_RERANK rows, not the corpus."""
    from aind_smartspim_data_transformation_spark.operators import similarity as sim

    df = sim.s11_ivf_pq_search(spark, sf_dir)
    df.collect()
    plan = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("+- == Initial Plan ==")[0]
    )
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan  # zero wide shuffles
    assert "Scan parquet" in plan and plan.count("Scan parquet") == 1

    # the shortlist contract: every returned exact distance is <= the
    # worst exact distance achievable, and results are exact-ordered
    rows = df.collect()
    assert len(rows) == sim.IVFPQ_TOPK
    exacts = [r["d2_exact"] for r in rows]
    assert exacts == sorted(exacts)
    # re-rank can only improve on ADC order: approx order != exact
    # order is allowed, but each d2_exact is a true distance (>= 0)
    assert all(e >= 0 for e in exacts)


def test_ivf_cells_prune_files_when_partitioned(spark, sf_dir, tmp_path):
    """The s11 scale claim, measured: with the corpus laid out
    hive-partitioned by coarse cell, the nprobe filter becomes a
    PartitionFilter and the executed scan's numFiles touches ONLY the
    probed cells' files — the IVF index IS the storage layout."""
    import os

    from pyspark.sql import functions as F

    from aind_smartspim_data_transformation_spark.operators import similarity as sim

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.expr(
            f"transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * {sim.KM_SCALE}) AS BIGINT))"
        ).alias("x"),
    )
    cents = [
        (int(r["vec_id"]), [int(v) for v in r["x"]])
        for r in e.filter(
            (F.col("vec_id") >= 1) & (F.col("vec_id") <= sim.N_CENTROIDS)
        ).collect()
    ]
    cents.sort()
    path = str(tmp_path / "emb_by_cell")
    sim._kmeans_assign_pandas(e, cents).write.partitionBy(
        "cell"
    ).parquet(path)
    cell_dirs = [d for d in os.listdir(path) if d.startswith("cell=")]
    assert len(cell_dirs) > 2

    probe = [cid for cid, _ in cents[: 2]]  # any 2 cells
    scan = spark.read.parquet(path).filter(F.col("cell").isin(probe))
    rows = scan.collect()
    assert len(rows) > 0
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan

    # pruning is real: the executed scan's numFiles metric equals the
    # probed cells' file count, a fraction of what's on disk
    probed_files = sum(
        len([f for f in os.listdir(os.path.join(path, f"cell={c}"))
             if f.endswith(".parquet")])
        for c in probe
        if os.path.isdir(os.path.join(path, f"cell={c}"))
    )
    leaf = scan._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    num_files = leaf.metrics().apply("numFiles").value()
    total_files = sum(
        len([f for f in os.listdir(os.path.join(path, d))
             if f.endswith(".parquet")])
        for d in cell_dirs
    )
    assert num_files == probed_files > 0
    assert num_files < total_files
    # correctness: identical to filtering the unpartitioned view
    unpruned = spark.read.parquet(path)
    assert len(rows) == unpruned.filter(F.col("cell").isin(probe)).count()


def test_lloyd_pandas_assignment_identical(spark, sf_dir):
    """r15 routing pin (§6j, VERDICT r10 ask #6): Lloyd's assignment is
    the vectorized mapInPandas argmin at EVERY K — the interpreted
    zip_with folds of the former literal-expression path measured 3×
    slower per pass at K=16 (OPTIMIZATION_r15.md), and that path is
    gone.  s09's DuckDB oracle pins the resulting centroids and
    cluster sizes exactly (test_similarity_vs_oracle)."""
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.expr(
            f"transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) "
            f"* {similarity.KM_SCALE}) AS BIGINT))"
        ).alias("x"),
    )
    plan = (
        similarity.lloyd_train(e, similarity.KM_K, 1)[0]
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" in plan
