"""Incremental near-dup detection: streaming candidates ≡ batch LSH."""

from __future__ import annotations

from pyspark.sql import functions as F

from aind_smartspim_data_transformation_spark.operators import dedup
from aind_smartspim_data_transformation_spark.streaming import docs_stream as ds
from aind_smartspim_data_transformation_spark.streaming.events_stream import (
    run_to_completion,
)

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _batch_candidates(spark, docs_df):
    """Batch in-bucket i<j pair expansion over the SAME band rows —
    the reference the stream must reproduce."""
    bands = dedup.minhash_band_rows(docs_df)
    pairs_expr = (
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), y -> struct(x AS doc1, y AS doc2))))"
    )
    return (
        bands.groupBy("band_id", "bkey")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= dedup.MAX_BAND_BUCKET))
        .select(F.explode(F.expr(pairs_expr)).alias("p"))
        .select("p.doc1", "p.doc2")
        .distinct()
    )


def test_streaming_candidates_match_batch(spark, sf_dir, tmp_path):
    """Docs streamed in two chunks yield EXACTLY the batch candidate
    set (distinct doc pairs), with cross-chunk pairs included — the
    incremental property the batch job cannot provide."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = tmp_path / "docs_src"
    src.mkdir()
    # two arrival chunks, split by doc_id parity (near-dups straddle)
    docs.filter("doc_id % 2 = 0").coalesce(1).write.mode("append").parquet(str(src))
    docs.filter("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # force ≥2 microbatches
        .parquet(str(src))
    )
    got_df = run_to_completion(
        ds.incremental_candidates(stream), "t_docstream", mode="append"
    )
    got = sorted(
        map(tuple, got_df.select("doc1", "doc2").distinct().collect())
    )
    want = sorted(map(tuple, _batch_candidates(spark, docs).collect()))
    assert got == want
    assert len(got) > 0  # the fixture corpus does contain near-dups
    # every verified near-dup pair (d03 output) is among the candidates
    verified = dedup.d03_dedup_minhash_lsh(spark, sf_dir).select("doc1", "doc2")
    assert {(r["doc1"], r["doc2"]) for r in verified.collect()} <= set(got)


def test_streaming_candidates_cap_degenerate_bucket(spark, tmp_path):
    """An all-identical-docs stream hits one band bucket; the state cap
    stops pair emission at MAX_BAND_BUCKET members instead of emitting
    O(n²) pairs (the streaming analogue of the batch degenerate-bucket
    drop)."""
    n = dedup.MAX_BAND_BUCKET + 20
    text = "alpha beta gamma delta epsilon zeta eta theta"
    src = tmp_path / "dup_src"
    src.mkdir()
    spark.createDataFrame(
        [(i, text, "en", "src0", len(text)) for i in range(n)], DOC_SCHEMA
    ).coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(DOC_SCHEMA).parquet(str(src))
    got = run_to_completion(
        ds.incremental_candidates(stream), "t_docstream_cap", mode="append"
    )
    cap = dedup.MAX_BAND_BUCKET
    max_pairs = dedup.N_BANDS * cap * (cap - 1) // 2
    n_pairs = got.count()
    assert 0 < n_pairs <= max_pairs  # bounded, not O(n²)


def test_streaming_countmin_sketch_matches_batch(spark, sf_dir, tmp_path):
    """The count-min sketch is mergeable, so the SAME cm_sketch()
    composition runs as a streaming aggregation; the converged stream
    sketch must equal the batch sketch cell-for-cell."""
    from aind_smartspim_data_transformation_spark.operators.sketch import (
        cm_sketch,
        token_rows,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = tmp_path / "cm_src"
    src.mkdir()
    docs.filter("doc_id % 2 = 0").coalesce(1).write.mode("append").parquet(str(src))
    docs.filter("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # force ≥2 microbatches
        .parquet(str(src))
    )
    got_df = run_to_completion(
        cm_sketch(token_rows(stream)), "t_cm_stream", mode="complete"
    )
    got = sorted(map(tuple, got_df.collect()))
    want = sorted(map(tuple, cm_sketch(token_rows(docs)).collect()))
    assert got == want
    assert len(got) > 0
