"""Similarity search over the ``embeddings`` table (array<float>, d=64).

[driver-ext] SURVEY.md §2.11: brute-force cosine top-k as the exact
baseline, plus a random-hyperplane LSH (SimHash-for-vectors) bucketed
variant as the scale path.

Spark-first: the dot product / norm arithmetic is pure ``zip_with`` +
``aggregate`` column expressions — JVM-side, codegen'd, no Python.
The LSH hyperplanes are a *deterministic integer formula* (not stored
random vectors), so the DuckDB oracle can replay them exactly:

    w(i, d) = +1 if ((d*31 + i*17) % 7) % 2 == 0 else -1

Scale posture (billions of vectors):
- Brute force is O(n) per query with one broadcast of the query vector
  — no shuffle at all; fine for one-off queries, wrong for QPS.
- LSH buckets: one groupBy(bucket) shuffle at build; a query then only
  scans its bucket (partition-pruned if the table is written
  partitionBy(bucket)).  This is the IVF-style coarse quantizer shape.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aind_smartspim_data_transformation_spark.tables import load_table

N_PLANES = 8
QUERY_VEC_ID = 0
TOP_K = 10


def _dot(a: str, b: str):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda s, v: s + v,
    )


def _norm_sq(a: str):
    return F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda s, v: s + v,
    )


# ---------------------------------------------------------------------------
# S1 — brute-force cosine top-k against the query vector.
# ---------------------------------------------------------------------------
def s01_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec")
    )
    cos = _dot("embedding", "qvec") / (
        F.sqrt(_norm_sq("embedding")) * F.sqrt(_norm_sq("qvec"))
    )
    return (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", F.round(cos, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOP_K)
    )


S01_SQL = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
SELECT vec_id, label,
       round(
         list_dot_product(embedding::DOUBLE[], qvec)
         / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
            * sqrt(list_dot_product(qvec, qvec))), 6) AS cosine
FROM embeddings CROSS JOIN q
WHERE vec_id != {QUERY_VEC_ID}
ORDER BY cosine DESC, vec_id ASC LIMIT {TOP_K}
"""


# ---------------------------------------------------------------------------
# S2 — random-hyperplane LSH bucket assignment.
# bit_i(v) = [ Σ_d w(i,d) · v[d] > 0 ];  bucket = Σ bit_i << i.
# The projection is a PER-ROW array fold (zip_with + aggregate over the
# embedding), not an explode→groupBy: bucket assignment is a narrow map
# with NO shuffle — at billions of vectors the old explode shape would
# shuffle rows × dims; this shuffles nothing.
# ---------------------------------------------------------------------------
def _bucket_expr(embedding_col: str = "embedding"):
    bits = []
    for i in range(N_PLANES):
        proj = (
            f"aggregate(zip_with({embedding_col}, "
            f"sequence(1, size({embedding_col})), "
            f"(v, d) -> CASE WHEN ((d * 31 + {i} * 17) % 7) % 2 = 0 "
            f"THEN CAST(v AS DOUBLE) ELSE -CAST(v AS DOUBLE) END), "
            f"CAST(0.0 AS DOUBLE), (s, x) -> s + x)"
        )
        bits.append(f"(CASE WHEN ({proj}) > 0 THEN {1 << i} ELSE 0 END)")
    return F.expr(" + ".join(bits))


def s02_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bucket occupancy via groupBy + join, not `count OVER (PARTITION
    # BY bucket)`: hyperplane LSH over a degenerate embedding corpus
    # (many near-identical vectors) collapses into few buckets, and the
    # analytic window would funnel each such bucket through one window
    # partition with no map-side combine.
    # The occupancy table is bounded by the bucket space (≤ 2^N_PLANES
    # rows) → always broadcastable: the vector table is never shuffled.
    e = load_table(spark, sf_dir, "embeddings")
    sigs = e.select("vec_id", _bucket_expr().alias("bucket"))
    sizes = sigs.groupBy(F.col("bucket").alias("g_bucket")).agg(
        F.count("*").alias("n_in_bucket")
    )
    return (
        sigs.join(F.broadcast(sizes), sigs["bucket"] == F.col("g_bucket"))
        .select("vec_id", "bucket", "n_in_bucket")
        .orderBy("vec_id")
    )


_VOTE_COLS = ",\n         ".join(
    f"sum((CASE WHEN ((d*31 + {i}*17) % 7) % 2 = 0 THEN 1.0 ELSE -1.0 END) * val) AS p{i}"
    for i in range(N_PLANES)
)
_BUCKET_SUM = " + ".join(
    f"CASE WHEN p{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(N_PLANES)
)

S02_SQL = f"""
WITH exploded AS (
  SELECT vec_id, d, CAST(embedding[d] AS DOUBLE) AS val
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(d)
), votes AS (
  SELECT vec_id,
         {_VOTE_COLS}
  FROM exploded GROUP BY vec_id
), sigs AS (
  SELECT vec_id, {_BUCKET_SUM} AS bucket FROM votes
)
SELECT vec_id, bucket, count(*) OVER (PARTITION BY bucket) AS n_in_bucket
FROM sigs ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# S3 — ANN query: exact cosine re-rank within the query vector's LSH
# bucket (candidate set ≪ full table → the IVF/LSH scale path).
# ---------------------------------------------------------------------------
def s03_ann_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    # bucket = narrow per-row expression; no join needed to attach it
    with_bucket = e.withColumn("bucket", _bucket_expr())
    qrow = with_bucket.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec"), F.col("bucket").alias("qbucket")
    )
    cos = _dot("embedding", "qvec") / (
        F.sqrt(_norm_sq("embedding")) * F.sqrt(_norm_sq("qvec"))
    )
    return (
        with_bucket.crossJoin(F.broadcast(qrow))
        .filter((F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != QUERY_VEC_ID))
        .select("vec_id", "bucket", F.round(cos, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(5)
    )


S03_SQL = f"""
WITH exploded AS (
  SELECT vec_id, d, CAST(embedding[d] AS DOUBLE) AS val
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(d)
), votes AS (
  SELECT vec_id,
         {_VOTE_COLS}
  FROM exploded GROUP BY vec_id
), sigs AS (
  SELECT vec_id, {_BUCKET_SUM} AS bucket FROM votes
), wb AS (
  SELECT e.vec_id, e.embedding, s.bucket FROM embeddings e JOIN sigs s ON e.vec_id = s.vec_id
), q AS (
  SELECT embedding::DOUBLE[] AS qvec, bucket AS qbucket FROM wb WHERE vec_id = {QUERY_VEC_ID}
)
SELECT vec_id, bucket,
       round(
         list_dot_product(embedding::DOUBLE[], qvec)
         / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
            * sqrt(list_dot_product(qvec, qvec))), 6) AS cosine
FROM wb CROSS JOIN q
WHERE bucket = qbucket AND vec_id != {QUERY_VEC_ID}
ORDER BY cosine DESC, vec_id ASC LIMIT 5
"""


# ---------------------------------------------------------------------------
# S5 — IVF-style ANN (coarse quantizer → probe → exact re-rank).
#
# The classic inverted-file shape (FAISS IVF-Flat, without the training
# step): K centroids, every vector assigned to its nearest centroid
# ("cell"), a query probes only the nprobe nearest cells and re-ranks
# exactly inside them.  Centroids are a *deterministic sample* — the
# embeddings of vec_ids 1..K — so the DuckDB oracle replays the exact
# same index.
#
# Scale posture: the centroid table is K rows → one tiny collect_list
# agg, broadcast everywhere; cell assignment is then a NARROW per-row
# fold (no crossJoin row blow-up, no shuffle).  At billions of vectors
# you'd write the table partitionBy("cell") once, and a query scans
# nprobe/K of the data with partition pruning doing the skipping —
# same layout trick `write_date_partitioned` demonstrates for dates.
# ---------------------------------------------------------------------------
N_CENTROIDS = 8
N_PROBE = 2


def _cos_cols(a, b):
    """Cosine between two array<numeric> Columns (not just names)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda s, v: s + v,
    )
    nsq = lambda v: F.aggregate(  # noqa: E731
        F.transform(v, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda s, v_: s + v_,
    )
    return dot / (F.sqrt(nsq(a)) * F.sqrt(nsq(b)))


def s05_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    # K-row centroid "index", folded into ONE array column so attaching
    # it is a broadcast nested-loop of a 1-row side — not a K× blow-up.
    cents = (
        e.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= N_CENTROIDS))
        .select(F.struct(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")).alias("c"))
        .agg(F.sort_array(F.collect_list("c")).alias("cents"))
    )
    scored = e.crossJoin(F.broadcast(cents)).withColumn(
        "cscores",
        F.transform(
            "cents",
            lambda c: F.struct(
                _cos_cols(F.col("embedding"), c["cvec"]).alias("cos"),
                (-c["cid"]).cast("long").alias("negcid"),
                c["cid"].alias("cid"),
            ),
        ),
    )
    assigned = scored.select(
        "vec_id", "embedding", F.array_max("cscores")["cid"].alias("cell"), "cscores"
    )
    # query row: its vector + the nprobe best cells (desc cos, asc cid)
    qrow = assigned.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec"),
        F.transform(
            F.slice(F.reverse(F.array_sort("cscores")), 1, N_PROBE), lambda s: s["cid"]
        ).alias("probe_cells"),
    )
    return (
        assigned.drop("cscores")
        .crossJoin(F.broadcast(qrow))
        .filter(
            F.array_contains(F.col("probe_cells"), F.col("cell"))
            & (F.col("vec_id") != QUERY_VEC_ID)
        )
        .select(
            "vec_id",
            "cell",
            F.round(_cos_cols(F.col("embedding"), F.col("qvec")), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(5)
    )


S05_SQL = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
  FROM embeddings WHERE vec_id BETWEEN 1 AND {N_CENTROIDS}
), scored AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS v, c.cid,
         list_dot_product(e.embedding::DOUBLE[], c.cvec)
         / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
            * sqrt(list_dot_product(c.cvec, c.cvec))) AS cos
  FROM embeddings e CROSS JOIN cents c
), assigned AS (
  SELECT vec_id, v, cid AS cell FROM (
    SELECT vec_id, v, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
    FROM scored) WHERE rn = 1
), qprobe AS (
  SELECT cid FROM scored WHERE vec_id = {QUERY_VEC_ID}
  ORDER BY cos DESC, cid ASC LIMIT {N_PROBE}
), q AS (
  SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
)
SELECT a.vec_id, a.cell,
       round(list_dot_product(a.v, qvec)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(qvec, qvec))), 6) AS cosine
FROM assigned a CROSS JOIN q
WHERE a.cell IN (SELECT cid FROM qprobe) AND a.vec_id != {QUERY_VEC_ID}
ORDER BY cosine DESC, vec_id ASC LIMIT 5
"""


# ---------------------------------------------------------------------------
# S4 — all-pairs similarity join above a threshold (bounded subset).
# ---------------------------------------------------------------------------
def s04_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    cos = _dot("va", "vb") / (F.sqrt(_norm_sq("va")) * F.sqrt(_norm_sq("vb")))
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= 0.3)
        .orderBy("id_a", "id_b")
    )


S04_SQL = """
WITH sub AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 200)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
FROM sub a JOIN sub b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.3
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# S6 — int8 scalar quantization: the memory-side half of ANN at scale.
# Per vector: scale = 127 / max|x|, q_i = halfup(x_i * scale), and the
# reconstruction error mse = Σ(x_i − q_i/scale)² / d.  Reported per
# vector (top-10 worst) so the operator doubles as a quantization-QA
# scan ("which vectors lose the most precision at int8?").
#
# Determinism: half-up is spelled floor(x + 0.5) in BOTH engines —
# round() half-rule semantics differ across engines, floor does not.
# All arithmetic is a per-row array fold (zip-free, shuffle-free); the
# only exchange is the final TakeOrderedAndProject.  At billions of
# vectors this is a narrow map — quantize once, write q + scale, and
# the 4×-smaller table is what the ANN probe (s03/s05) then scans.
# ---------------------------------------------------------------------------
_QUANT_D = "CAST(v AS DOUBLE)"
_QUANT_Q = f"floor({_QUANT_D} * 127.0 / amax + 0.5)"  # half-up int8 code


def s06_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    amax = (
        "aggregate(transform(embedding, v -> abs(CAST(v AS DOUBLE))), "
        "CAST(0.0 AS DOUBLE), (s, x) -> greatest(s, x))"
    )
    sse = (
        f"aggregate(transform(embedding, v -> "
        f"({_QUANT_D} - {_QUANT_Q} * amax / 127.0) * "
        f"({_QUANT_D} - {_QUANT_Q} * amax / 127.0)), "
        "CAST(0.0 AS DOUBLE), (s, x) -> s + x)"
    )
    n_nonzero = (
        f"aggregate(transform(embedding, v -> "
        f"CASE WHEN {_QUANT_Q} = 0.0 THEN 0L ELSE 1L END), 0L, (s, x) -> s + x)"
    )
    return (
        e.withColumn("amax", F.expr(amax))
        .select(
            "vec_id",
            "label",
            F.round("amax", 6).alias("amax_r"),
            F.expr(n_nonzero).alias("n_nonzero_q"),
            F.round(F.expr(sse) / F.size("embedding"), 9).alias("mse"),
        )
        .orderBy(F.desc("mse"), F.asc("vec_id"))
        .limit(TOP_K)
    )


S06_SQL = f"""
WITH sc AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e,
         list_max(list_transform(embedding::DOUBLE[], v -> abs(v))) AS amax
  FROM embeddings
), q AS (
  SELECT vec_id, label, amax,
         list_sum(list_transform(e, v ->
           (v - floor(v * 127.0 / amax + 0.5) * amax / 127.0) *
           (v - floor(v * 127.0 / amax + 0.5) * amax / 127.0))) AS sse,
         CAST(list_sum(list_transform(e, v ->
           CASE WHEN floor(v * 127.0 / amax + 0.5) = 0.0 THEN 0 ELSE 1 END))
           AS BIGINT) AS n_nonzero_q,
         len(e) AS dim
  FROM sc
)
SELECT vec_id, label, round(amax, 6) AS amax_r, n_nonzero_q,
       round(sse / dim, 9) AS mse
FROM q ORDER BY mse DESC, vec_id ASC LIMIT {TOP_K}
"""


# ---------------------------------------------------------------------------
# S7 — ANN recall QA: recall@k of the IVF path (s05) against the exact
# brute-force top-k (s01).  The standard acceptance gate every ANN
# deployment runs before flipping traffic: build both answers for the
# same query, join on vec_id, report hits/k.  Output is one row of
# integer ppm — engine-stable by construction.
#
# Scale posture: both inputs are top-k results (k rows each); the
# recall join is driver-trivial no matter the corpus size.  At scale
# you'd run this over a panel of held-out queries — same shape, one
# extra groupBy(query_id).
# ---------------------------------------------------------------------------
RECALL_K = 5


def s07_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = s01_cosine_topk(spark, sf_dir).limit(RECALL_K).select("vec_id")
    approx = s05_ann_ivf(spark, sf_dir).select(F.col("vec_id").alias("a_vec_id"))
    return (
        exact.join(approx, F.col("vec_id") == F.col("a_vec_id"), "left")
        .agg(F.count("a_vec_id").alias("n_hits"))
        .select(
            F.lit(RECALL_K).cast("long").alias("k"),
            F.col("n_hits"),
            F.floor(F.col("n_hits") * F.lit(1_000_000) / F.lit(RECALL_K))
            .cast("long")
            .alias("recall_ppm"),
        )
    )


S07_SQL = f"""
WITH exact AS ({S01_SQL.replace(f"LIMIT {TOP_K}", f"LIMIT {RECALL_K}")}),
approx AS ({S05_SQL})
SELECT CAST({RECALL_K} AS BIGINT) AS k,
       count(a.vec_id) AS n_hits,
       CAST((count(a.vec_id) * 1000000) // {RECALL_K} AS BIGINT) AS recall_ppm
FROM exact e LEFT JOIN approx a ON e.vec_id = a.vec_id
"""


# ---------------------------------------------------------------------------
# S8 — ANN recall PANEL: recall@k of the IVF path over a panel of
# queries in ONE dataflow (the s07 shape generalized with a
# groupBy(query_id), exactly as its docstring promised).
#
# Scale posture: the panel is Q rows → broadcast; the corpus is scanned
# ONCE for cell assignment (broadcast centroid fold, no shuffle), once
# for the exact QA side (Q cosines per row against the broadcast
# panel).  Per-query top-k is a window over candidate sets, partitioned
# by query_id — state is O(Q × k).  The exact side is the QA cost you
# pay for ground truth; production would sample the panel.
# ---------------------------------------------------------------------------
PANEL_IDS = (0, 9, 12, 23, 42)


def s08_ann_recall_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "embeddings")
    cents = (
        e.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= N_CENTROIDS))
        .select(
            F.struct(
                F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
            ).alias("c")
        )
        .agg(F.sort_array(F.collect_list("c")).alias("cents"))
    )
    scored = e.crossJoin(F.broadcast(cents)).withColumn(
        "cscores",
        F.transform(
            "cents",
            lambda c: F.struct(
                _cos_cols(F.col("embedding"), c["cvec"]).alias("cos"),
                (-c["cid"]).cast("long").alias("negcid"),
                c["cid"].alias("cid"),
            ),
        ),
    )
    assigned = scored.select(
        "vec_id", "embedding", F.array_max("cscores")["cid"].alias("cell"), "cscores"
    )
    panel = assigned.filter(F.col("vec_id").isin(*PANEL_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.transform(
            F.slice(F.reverse(F.array_sort("cscores")), 1, N_PROBE),
            lambda s: s["cid"],
        ).alias("probe_cells"),
    )
    corpus = assigned.drop("cscores")
    rank_w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    approx = (
        corpus.crossJoin(F.broadcast(panel))
        .filter(
            F.array_contains(F.col("probe_cells"), F.col("cell"))
            & (F.col("vec_id") != F.col("query_id"))
        )
        .select(
            "query_id",
            "vec_id",
            _cos_cols(F.col("embedding"), F.col("qvec")).alias("cos"),
        )
        .withColumn("rn", F.row_number().over(rank_w))
        .filter(F.col("rn") <= RECALL_K)
        # rename BOTH columns: exact/approx share the scan lineage, and
        # a same-name join condition self-resolves to trivially-true
        .select(
            F.col("query_id").alias("a_query_id"),
            F.col("vec_id").alias("a_vec_id"),
        )
    )
    exact = (
        e.crossJoin(F.broadcast(panel.select("query_id", "qvec")))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            _cos_cols(F.col("embedding"), F.col("qvec")).alias("cos"),
        )
        .withColumn("rn", F.row_number().over(rank_w))
        .filter(F.col("rn") <= RECALL_K)
        .select("query_id", "vec_id")
    )
    return (
        exact.join(
            # both sides are panel×k rows; broadcast beats the SMJ Spark
            # would otherwise pick (it can't see the top-k cardinality)
            F.broadcast(approx),
            (F.col("query_id") == F.col("a_query_id"))
            & (F.col("vec_id") == F.col("a_vec_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("a_vec_id").alias("n_hits"))
        .select(
            "query_id",
            F.lit(RECALL_K).cast("long").alias("k"),
            "n_hits",
            F.floor(F.col("n_hits") * F.lit(1_000_000) / F.lit(RECALL_K))
            .cast("long")
            .alias("recall_ppm"),
        )
        .orderBy("query_id")
    )


_PANEL_LIST = ", ".join(str(i) for i in PANEL_IDS)

S08_SQL = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
  FROM embeddings WHERE vec_id BETWEEN 1 AND {N_CENTROIDS}
), scored AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS v, c.cid,
         list_dot_product(e.embedding::DOUBLE[], c.cvec)
         / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
            * sqrt(list_dot_product(c.cvec, c.cvec))) AS cos
  FROM embeddings e CROSS JOIN cents c
), assigned AS (
  SELECT vec_id, v, cid AS cell FROM (
    SELECT vec_id, v, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
    FROM scored) WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
    FROM scored WHERE vec_id IN ({_PANEL_LIST})) WHERE rn <= {N_PROBE}
), panel AS (
  SELECT vec_id AS query_id, v AS qvec FROM assigned
  WHERE vec_id IN ({_PANEL_LIST})
), approx AS (
  SELECT query_id, vec_id FROM (
    SELECT p.query_id, a.vec_id,
           row_number() OVER (
             PARTITION BY p.query_id
             ORDER BY list_dot_product(a.v, p.qvec)
                      / (sqrt(list_dot_product(a.v, a.v))
                         * sqrt(list_dot_product(p.qvec, p.qvec))) DESC,
                      a.vec_id ASC) AS rn
    FROM assigned a JOIN panel p ON a.vec_id != p.query_id
    WHERE a.cell IN (SELECT cid FROM probes WHERE probes.query_id = p.query_id)
  ) WHERE rn <= {RECALL_K}
), exact AS (
  SELECT query_id, vec_id FROM (
    SELECT p.query_id, a.vec_id,
           row_number() OVER (
             PARTITION BY p.query_id
             ORDER BY list_dot_product(a.v, p.qvec)
                      / (sqrt(list_dot_product(a.v, a.v))
                         * sqrt(list_dot_product(p.qvec, p.qvec))) DESC,
                      a.vec_id ASC) AS rn
    FROM assigned a JOIN panel p ON a.vec_id != p.query_id
  ) WHERE rn <= {RECALL_K}
)
SELECT e.query_id, CAST({RECALL_K} AS BIGINT) AS k,
       count(x.vec_id) AS n_hits,
       CAST((count(x.vec_id) * 1000000) // {RECALL_K} AS BIGINT) AS recall_ppm
FROM exact e LEFT JOIN approx x
  ON e.query_id = x.query_id AND e.vec_id = x.vec_id
GROUP BY e.query_id
ORDER BY e.query_id
"""


# ---------------------------------------------------------------------------
# S9 — k-means (Lloyd) training for the IVF coarse quantizer: the
# iterative algorithm behind s05's centroid table, expressed as a
# deterministic dataflow.  Embeddings are quantized to integers
# (floor(v·1000)) so every distance, sum, and floor-divided mean is
# EXACT in both engines — no float-order sensitivity anywhere, which is
# what makes an iterative numeric algorithm oracle-checkable.
#
# Iteration shape (the canonical Spark k-means):
#   1. centroids are K×d values → collected to the driver, carried as
#      an int64 matrix in the assignment task closure → assignment is a
#      narrow map, NO shuffle of the corpus;
#   2. centroid update is posexplode → groupBy(cell, dim) with map-side
#      combine → K×d rows shuffled, corpus touched once per iteration.
# At a billion vectors that is ITERS corpus scans and K×d-sized
# shuffles — the textbook scalable shape.
# ---------------------------------------------------------------------------
KM_K = 4
KM_ITERS = 2
KM_SCALE = 1000
# Assignment-path history (SCALE.md §6j, VERDICT r10 ask #6; REVERSED
# by measurement in r15): the first assignment was a literal-centroid
# expression tree — K inline structs of d-term zip_with/aggregate
# folds.  Those higher-order functions are CodegenFallback —
# interpreted, not codegen'd — and the r15 optimization round measured
# the numpy mapInPandas assignment 3× faster per pass at registry
# K=16, d=64 (0.47–0.98 s vs 1.39–1.51 s over the sf0.1 corpus) and
# 1.6× on n07 end-to-end (6.17→3.84 s min-over-min, interleaved; see
# OPTIMIZATION_r15.md).  The numpy argmin is the one assignment path;
# the DuckDB oracle (S09_SQL) pins the resulting centroids and cluster
# sizes exactly.


def _quantize(embeddings: list):
    """``floor(v·KM_SCALE)`` as int64 over a batch of float32 vectors —
    the float32→float64 widening, multiply and floor are the identical
    IEEE double ops of the Spark/DuckDB ``CAST(floor(CAST(v AS DOUBLE)
    * KM_SCALE) AS BIGINT)`` transform."""
    import numpy as np

    emb = np.array(embeddings, dtype=np.float64)
    return np.floor(emb * float(KM_SCALE)).astype(np.int64)


def _centroid_arrays(cents: list[tuple[int, list[int]]]):
    """(cids, cmat, cnorm) int64 arrays of cid-sorted ``cents``: the
    constants :func:`_nearest_cell` reads, built once per task closure."""
    import numpy as np

    cids = np.array([cid for cid, _ in cents], dtype=np.int64)
    cmat = np.array([cvec for _, cvec in cents], dtype=np.int64)
    return cids, cmat, (cmat * cmat).sum(axis=1)


def _nearest_cell(x, cids, cmat, cnorm):
    """``argmin ||x-c||²`` per row of the int64 matrix ``x`` as one
    vectorized ||x||² − 2x·Cᵀ + ||c||².  All terms are exact int64
    products of KM_SCALE-quantized values, and ``cids`` is sorted, so
    numpy's first-minimum argmin IS the oracles' (d2, cid) tie rule.
    The one coarse-assignment kernel: Lloyd (s09, n07) and s11."""
    d2 = (x * x).sum(axis=1)[:, None] - 2 * (x @ cmat.T) + cnorm[None, :]
    return cids[d2.argmin(axis=1)]


def _kmeans_assign_pandas(
    e: DataFrame, cents: list[tuple[int, list[int]]]
) -> DataFrame:
    """Lloyd assignment ``cell = argmin ||x-c||²`` (tie → smaller cid):
    one :func:`_nearest_cell` per Arrow batch against a K×d int64
    centroid matrix carried in the task closure (K·d·8 bytes — ~80 MB
    at K=10k, d=1k; a broadcast-sized constant, never a shuffle).
    ``cents`` must be sorted by cid."""
    import numpy as np

    from pyspark.sql.types import LongType, StructField, StructType

    arrays = _centroid_arrays(cents)
    out_schema = StructType(
        list(e.schema.fields) + [StructField("cell", LongType())]
    )

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                pdf["cell"] = np.array([], dtype=np.int64)
                yield pdf
                continue
            x = np.array(pdf["x"].tolist(), dtype=np.int64)
            pdf["cell"] = _nearest_cell(x, *arrays)
            yield pdf

    return e.mapInPandas(assign, schema=out_schema)


def lloyd_train(
    e: DataFrame, k: int, iters: int
) -> tuple[DataFrame, list[tuple[int, list[int]]]]:
    """Deterministic integer Lloyd training shared by s09 and the
    SemDeDup composition (plans/extras.n07_semantic_dedup).  ``e`` must
    carry (vec_id, x) with x already integer-quantized; init centroids
    are the vectors with vec_id 1..k.  Each round: the vectorized numpy
    assignment (``_kmeans_assign_pandas`` — a narrow map, NO corpus
    shuffle) then a K×d-row mean update.  Returns (final assignment
    with a ``cell`` column, the final centroid list).

    r15 (guide §4.1 "pass only the columns the function needs"): the
    update-feeding iteration passes run over a narrow ``x``-only
    projection, so ``e``'s payload columns (n07 carries the 64-double
    raw vector) never cross the Arrow boundary during training; only
    the RETURNED final assignment — which the caller consumes lazily —
    carries the full row."""
    cents = [
        (int(r["vec_id"]), [int(v) for v in r["x"]])
        for r in e.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= k)).collect()
    ]
    cents.sort()
    xonly = e.select("x")
    assigned = None
    for i in range(iters):
        # narrow iteration frame: ships only `x` through Arrow
        src = _kmeans_assign_pandas(xonly, cents)
        if i == iters - 1:
            # the returned assignment (lazy — executed by the caller's
            # plan) under the SAME centroids as `src`, over the full row
            assigned = _kmeans_assign_pandas(e, cents)
        new_cents = (
            src.select("cell", F.posexplode("x").alias("dim", "val"))
            .groupBy("cell", "dim")
            .agg(F.expr("sum(val) div count(*)").alias("m"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("dim", "m"))), lambda s: s["m"]
                ).alias("c")
            )
        )
        cents = [
            (int(r["cell"]), [int(v) for v in r["c"]]) for r in new_cents.collect()
        ]
        cents.sort()
    return assigned, cents


def s09_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aind_smartspim_data_transformation_spark.tables import (
        spread_unsplittable_scan,
    )

    # r15: conditional scan spread (guide §2.5) — parallelizes the
    # quantize transform and the centroid assignment that run
    # scan-side; no-op whenever the scan already splits.
    e = spread_unsplittable_scan(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.expr(
            f"transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * {KM_SCALE}) AS BIGINT))"
        ).alias("x"),
    )
    assigned, cents = lloyd_train(e, KM_K, KM_ITERS)
    sizes = assigned.groupBy("cell").agg(F.count("*").alias("n_members"))
    cent_rows = spark.createDataFrame(
        [(cid, sum(abs(v) for v in cvec)) for cid, cvec in cents],
        schema="cell long, centroid_l1 long",
    )
    return (
        sizes.join(cent_rows, "cell")
        .select(F.col("cell").alias("cid"), "n_members", "centroid_l1")
        .orderBy("cid")
    )


def _km_sql_assign(src: str, cents: str) -> str:
    """One Lloyd assignment in DuckDB (exact integer distances)."""
    return f"""
  SELECT vec_id, x, cid AS cell FROM (
    SELECT q.vec_id, q.x, c.cid,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_sum(list_transform(generate_series(1, len(q.x)),
                        i -> (q.x[i] - c.c[i]) * (q.x[i] - c.c[i]))) ASC,
                      c.cid ASC) AS rn
    FROM {src} q CROSS JOIN {cents} c) WHERE rn = 1
"""


def _km_sql_update(assigned: str) -> str:
    return f"""
  SELECT cell AS cid, list(m ORDER BY dim) AS c FROM (
    SELECT cell, dim, CAST(sum(val) // count(*) AS BIGINT) AS m FROM (
      SELECT cell, unnest(x) AS val, generate_subscripts(x, 1) AS dim
      FROM {assigned}
    ) GROUP BY cell, dim
  ) GROUP BY cell
"""


S09_SQL = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        v -> CAST(floor(v * {KM_SCALE}) AS BIGINT)) AS x
  FROM embeddings
), c0 AS (
  SELECT vec_id AS cid, x AS c FROM q WHERE vec_id BETWEEN 1 AND {KM_K}
), a1 AS ({_km_sql_assign("q", "c0")}
), c1 AS ({_km_sql_update("a1")}
), a2 AS ({_km_sql_assign("q", "c1")}
), c2 AS ({_km_sql_update("a2")}
)
SELECT c2.cid, s.n_members,
       CAST(list_sum(list_transform(c2.c, v -> abs(v))) AS BIGINT) AS centroid_l1
FROM c2
JOIN (SELECT cell AS cid, count(*) AS n_members FROM a2 GROUP BY cell) s
  USING (cid)
ORDER BY cid
"""


# ---------------------------------------------------------------------------
# S10 — product quantization with asymmetric distance computation
# (PQ-ADC), the memory-side workhorse of billion-vector ANN (IVF-PQ):
# the 64-dim vector compresses to M=8 sub-codes (one per 8-dim
# subspace, K=4 codebook entries each → 16 bits per vector), and a
# query's distance to EVERY stored vector becomes Σ_m LUT[m][code_m] —
# M table lookups, no float math against the original vector.
#
# Spark shape: the codebooks (seed subvectors) and the query's
# per-subspace distance LUT are computed once on the driver and carried
# in the numpy task closure, so encoding + distance estimation is a
# NARROW MAP over the corpus — zero shuffles before the final top-k
# (TakeOrderedAndProject).  That is the scan you run over a billion
# codes.  Everything is scale-1000 integer math (exact in int64), so
# the DuckDB oracle derives the same codebooks/LUT relationally and
# hash-matches exactly.
# ---------------------------------------------------------------------------
PQ_M = 8        # subspaces
PQ_SUB = 8      # dims per subspace (8×8 = 64)
PQ_K = 4        # codebook entries per subspace
PQ_QUERY_ID = 0
PQ_SEED_IDS = (1, 2, 3, 4)  # codebook = these vectors' subvectors
PQ_TOPK = 10


def _pq_books_lut(pivot: dict[int, list[int]]):
    """(books, lut, q) from the collected seed/query vectors —
    codebooks[m][k] = seed k's m-th subvector; lut[m][k] = d²(query's
    m-th subvector, that).  Shared by s10 and s11."""
    q = pivot[PQ_QUERY_ID]
    books = [
        [pivot[s][m * PQ_SUB : (m + 1) * PQ_SUB] for s in PQ_SEED_IDS]
        for m in range(PQ_M)
    ]
    lut = [
        [
            sum(
                (q[m * PQ_SUB + i] - books[m][k][i]) ** 2
                for i in range(PQ_SUB)
            )
            for k in range(PQ_K)
        ]
        for m in range(PQ_M)
    ]
    return books, lut, q


def _pq_adc(x, books_arr, lut_arr):
    """PQ encode + ADC of the int64 rows ``x``: (codes, d2_approx) with
    codes[n, m] = the nearest of the K codebook entries of subspace m
    (first minimum == the oracles' smaller-k tie rule) and d2_approx =
    Σ_m lut[m][code_m].  The one PQ kernel: s10 and s11."""
    import numpy as np

    xs = x.reshape(len(x), PQ_M, PQ_SUB)
    diff = xs[:, :, None, :] - books_arr[None, :, :, :]
    codes = (diff * diff).sum(axis=3).argmin(axis=2)      # (n, M)
    return codes, lut_arr[np.arange(PQ_M)[None, :], codes].sum(axis=1)


def s10_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC over the corpus — registered plan is the vectorized
    numpy ``mapInPandas`` (r16, VERDICT r15 ask #1): the former
    literal-codebook/LUT projection built M·K=32 zip_with/aggregate
    folds + a 64-term exact fold per row, all CodegenFallback
    (interpreted) AND a constant expression tree whose Catalyst
    analysis dominated the query's wall (~2–3 s of the 2.2–3.5 s
    total, the same planning-cost class r15 rejected twice — d64
    unroll, Lloyd folds).  Here the codebooks/LUT ride the task
    closure as a K×d int64 matrix and each Arrow batch is one
    broadcast-subtract argmin — zero shuffles before the final top-k,
    exactly as before.  Exact int64 arithmetic, first-minimum argmin
    == the struct-min (d2, k) tie rule; the quantize transform moved
    into numpy too (float32→float64 widening, ×KM_SCALE, floor — the
    identical IEEE double ops the Spark expression performed), so the
    scan ships the narrower raw float32 array through Arrow instead
    of 64 int64s.  The DuckDB oracle (``_pq_sql``) pins the rows
    exactly (tests/test_similarity.py::test_similarity_vs_oracle)."""
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            f"transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * {KM_SCALE}) AS BIGINT))"
        ).alias("x"),
    )
    pivot = {
        int(r["vec_id"]): [int(v) for v in r["x"]]
        for r in e.filter(
            F.col("vec_id").isin(PQ_QUERY_ID, *PQ_SEED_IDS)
        ).collect()
    }
    books, lut, q = _pq_books_lut(pivot)
    books_arr = np.array(books, dtype=np.int64)      # (M, K, SUB)
    lut_arr = np.array(lut, dtype=np.int64)          # (M, K)
    q_arr = np.array(q, dtype=np.int64)              # (M*SUB,)
    weights = PQ_K ** np.arange(PQ_M, dtype=np.int64)

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = _quantize(pdf["embedding"].tolist())    # (n, M*SUB)
            codes, approx = _pq_adc(x, books_arr, lut_arr)
            pq_code = (codes * weights[None, :]).sum(axis=1)
            dq = x - q_arr[None, :]
            exact = (dq * dq).sum(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "pq_code": pq_code,
                    "d2_approx": approx,
                    "d2_exact": exact,
                    "adc_err": approx - exact,
                }
            )

    enc = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    ).mapInPandas(
        encode,
        schema=(
            "vec_id long, pq_code long, d2_approx long, "
            "d2_exact long, adc_err long"
        ),
    )
    return enc.orderBy(F.asc("d2_approx"), F.asc("vec_id")).limit(PQ_TOPK)


def _pq_sql() -> str:
    m_sub, k_, scale = PQ_SUB, PQ_K, KM_SCALE
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        v -> CAST(floor(v * {scale}) AS BIGINT)) AS x
  FROM embeddings
), seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k, x
  FROM q WHERE vec_id IN {PQ_SEED_IDS}
), qv AS (
  SELECT x FROM q WHERE vec_id = {PQ_QUERY_ID}
), lut AS (
  -- d²(query's m-th subvector, seed k's m-th subvector)
  SELECT m, k,
         list_sum(list_transform(generate_series(1, {m_sub}),
           i -> (qv.x[m * {m_sub} + i] - seeds.x[m * {m_sub} + i])
              * (qv.x[m * {m_sub} + i] - seeds.x[m * {m_sub} + i]))) AS d2
  FROM qv, seeds, unnest(generate_series(0, {PQ_M - 1})) AS g(m)
), codes AS (
  SELECT vec_id, m, k AS code FROM (
    SELECT q.vec_id, g.m, seeds.k,
           row_number() OVER (PARTITION BY q.vec_id, g.m ORDER BY
             list_sum(list_transform(generate_series(1, {m_sub}),
               i -> (q.x[g.m * {m_sub} + i] - seeds.x[g.m * {m_sub} + i])
                  * (q.x[g.m * {m_sub} + i] - seeds.x[g.m * {m_sub} + i]))) ASC,
             seeds.k ASC) AS rn
    FROM q, seeds, unnest(generate_series(0, {PQ_M - 1})) AS g(m)
  ) WHERE rn = 1
), enc AS (
  SELECT c.vec_id,
         CAST(sum(c.code * CAST(power({k_}, c.m) AS BIGINT)) AS BIGINT) AS pq_code,
         CAST(sum(l.d2) AS BIGINT) AS d2_approx
  FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.k
  GROUP BY c.vec_id
), exact AS (
  SELECT q.vec_id,
         CAST(list_sum(list_transform(generate_series(1, {PQ_M * m_sub}),
           i -> (q.x[i] - qv.x[i]) * (q.x[i] - qv.x[i]))) AS BIGINT) AS d2_exact
  FROM q, qv
)
SELECT enc.vec_id, enc.pq_code, enc.d2_approx, exact.d2_exact,
       enc.d2_approx - exact.d2_exact AS adc_err
FROM enc JOIN exact USING (vec_id)
ORDER BY d2_approx ASC, vec_id ASC
LIMIT {PQ_TOPK}
"""


# ---------------------------------------------------------------------------
# S11 — the COMPLETE billion-vector ANN recipe, composed end to end:
# IVF coarse probe (s05's shape) → PQ-ADC scan of the probed cells
# (s10's shape) → exact re-rank of the short list.  This is what a
# production vector store (FAISS IVF-PQ, Milvus, SPANN-style) executes
# per query:
#
#   1. assign every vector to its nearest of K coarse centroids
#      (integer L2 on scale-1000 ints — exact, cross-engine);
#   2. the query probes its N_PROBE nearest cells — the scan now
#      touches ~nprobe/K of the corpus (at scale, cell is a partition
#      key and this prunes FILES, not just rows — the x03 layout);
#   3. inside probed cells, distance = Σ_m LUT[m][code_m] — M integer
#      lookups per vector, no float math against stored vectors;
#   4. the top IVFPQ_RERANK by approximate distance are re-scored
#      EXACTLY and the final top-k is by exact distance — the re-rank
#      stage caps the ADC approximation error at zero for the answers
#      that matter.
#
# Plan: centroids + LUT are computed driver-side (K+M·K tiny rows) and
# ride the numpy task closure, so stages 1–3 are a narrow map with ZERO
# exchanges; stage 4 is TakeOrderedAndProject(RERANK) then a top-k by
# the exact distance.
# Everything integer → the DuckDB oracle hash-matches exactly.
# ---------------------------------------------------------------------------
IVFPQ_RERANK = 20
IVFPQ_TOPK = 10


def s11_ivf_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search — registered plan is the vectorized numpy
    ``mapInPandas`` (r16, VERDICT r15 ask #1): coarse assignment
    (argmin int64 L2 against the K×d centroid matrix, first-minimum ==
    the struct-min cid tie rule), nprobe cell filter, PQ encode and
    ADC all run per Arrow batch inside one opaque map, replacing the
    former literal-centroid + literal-codebook expression tree (K·d +
    M·K·SUB constants re-analyzed by Catalyst per invocation); the
    DuckDB oracle (``_ivfpq_sql``) pins the rows exactly
    (tests/test_similarity.py::test_similarity_vs_oracle).  The
    exact re-rank distance is computed vectorized for every probed row
    (trivial next to the codes argmin) instead of on the 20-row
    shortlist — same deterministic per-row value, so the two-stage
    orderBy/limit contract is unchanged while the Arrow output drops
    the 64-element x array (§4.1: only the columns the stage needs
    cross the boundary)."""
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            f"transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * {KM_SCALE}) AS BIGINT))"
        ).alias("x"),
    )
    pivot = {
        int(r["vec_id"]): [int(v) for v in r["x"]]
        for r in e.filter(
            F.col("vec_id").isin(PQ_QUERY_ID, *range(1, N_CENTROIDS + 1))
        ).collect()
    }
    cents = [(cid, pivot[cid]) for cid in range(1, N_CENTROIDS + 1)]
    books, lut, q = _pq_books_lut(pivot)
    qd = sorted(
        (sum((a - b) ** 2 for a, b in zip(q, cvec)), cid) for cid, cvec in cents
    )
    probe_cells = [cid for _, cid in qd[:N_PROBE]]

    arrays = _centroid_arrays(cents)
    books_arr = np.array(books, dtype=np.int64)
    lut_arr = np.array(lut, dtype=np.int64)
    q_arr = np.array(q, dtype=np.int64)
    probe_arr = np.array(probe_cells, dtype=np.int64)

    def search(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = _quantize(pdf["embedding"].tolist())
            vid = pdf["vec_id"].to_numpy()
            cell = _nearest_cell(x, *arrays)
            mask = np.isin(cell, probe_arr) & (vid != PQ_QUERY_ID)
            if not mask.any():
                continue
            # PQ runs on the probed rows only
            xm, vm, cm = x[mask], vid[mask], cell[mask]
            _, approx = _pq_adc(xm, books_arr, lut_arr)
            dq = xm - q_arr[None, :]
            exact = (dq * dq).sum(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": vm,
                    "cell": cm,
                    "d2_approx": approx,
                    "d2_exact": exact,
                }
            )

    probed = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    ).mapInPandas(
        search,
        schema="vec_id long, cell long, d2_approx long, d2_exact long",
    )
    shortlist = probed.orderBy(F.asc("d2_approx"), F.asc("vec_id")).limit(
        IVFPQ_RERANK
    )
    return (
        shortlist.select("vec_id", "cell", "d2_approx", "d2_exact")
        .orderBy(F.asc("d2_exact"), F.asc("vec_id"))
        .limit(IVFPQ_TOPK)
    )


def _ivfpq_sql() -> str:
    m_sub, k_, scale = PQ_SUB, PQ_K, KM_SCALE
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        v -> CAST(floor(v * {scale}) AS BIGINT)) AS x
  FROM embeddings
), cents AS (
  SELECT vec_id AS cid, x AS c FROM q
  WHERE vec_id BETWEEN 1 AND {N_CENTROIDS}
), qv AS (
  SELECT x FROM q WHERE vec_id = {PQ_QUERY_ID}
), assigned AS (
  SELECT vec_id, x, cid AS cell FROM (
    SELECT v.vec_id, v.x, c.cid,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_sum(list_transform(generate_series(1, len(v.x)),
                        i -> (v.x[i] - c.c[i]) * (v.x[i] - c.c[i]))) ASC,
                      c.cid ASC) AS rn
    FROM q v CROSS JOIN cents c) WHERE rn = 1
), probe AS (
  SELECT cid FROM (
    SELECT c.cid,
           row_number() OVER (
             ORDER BY list_sum(list_transform(generate_series(1, len(qv.x)),
                        i -> (qv.x[i] - c.c[i]) * (qv.x[i] - c.c[i]))) ASC,
                      c.cid ASC) AS rn
    FROM cents c, qv) WHERE rn <= {N_PROBE}
), seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k, x
  FROM q WHERE vec_id IN {PQ_SEED_IDS}
), lut AS (
  SELECT m, k,
         list_sum(list_transform(generate_series(1, {m_sub}),
           i -> (qv.x[m * {m_sub} + i] - seeds.x[m * {m_sub} + i])
              * (qv.x[m * {m_sub} + i] - seeds.x[m * {m_sub} + i]))) AS d2
  FROM qv, seeds, unnest(generate_series(0, {PQ_M - 1})) AS g(m)
), probed AS (
  SELECT a.vec_id, a.x, a.cell FROM assigned a
  JOIN probe p ON a.cell = p.cid
  WHERE a.vec_id != {PQ_QUERY_ID}
), codes AS (
  SELECT vec_id, m, k AS code FROM (
    SELECT v.vec_id, g.m, seeds.k,
           row_number() OVER (PARTITION BY v.vec_id, g.m ORDER BY
             list_sum(list_transform(generate_series(1, {m_sub}),
               i -> (v.x[g.m * {m_sub} + i] - seeds.x[g.m * {m_sub} + i])
                  * (v.x[g.m * {m_sub} + i] - seeds.x[g.m * {m_sub} + i]))) ASC,
             seeds.k ASC) AS rn
    FROM probed v, seeds, unnest(generate_series(0, {PQ_M - 1})) AS g(m)
  ) WHERE rn = 1
), shortlist AS (
  SELECT c.vec_id,
         CAST(sum(l.d2) AS BIGINT) AS d2_approx
  FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.k
  GROUP BY c.vec_id
  ORDER BY d2_approx ASC, c.vec_id ASC
  LIMIT {IVFPQ_RERANK}
)
SELECT s.vec_id, p.cell, s.d2_approx,
       CAST(list_sum(list_transform(generate_series(1, len(p.x)),
         i -> (p.x[i] - qv.x[i]) * (p.x[i] - qv.x[i]))) AS BIGINT) AS d2_exact
FROM shortlist s
JOIN probed p ON s.vec_id = p.vec_id, qv
ORDER BY d2_exact ASC, s.vec_id ASC
LIMIT {IVFPQ_TOPK}
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "s01_cosine_topk": s01_cosine_topk,
    "s02_lsh_buckets": s02_lsh_buckets,
    "s03_ann_bucketed": s03_ann_bucketed,
    "s04_similarity_join": s04_similarity_join,
    "s05_ann_ivf": s05_ann_ivf,
    "s06_quantize_int8": s06_quantize_int8,
    "s07_ann_recall": s07_ann_recall,
    "s08_ann_recall_panel": s08_ann_recall_panel,
    "s09_kmeans_train": s09_kmeans_train,
    "s10_pq_adc": s10_pq_adc,
    "s11_ivf_pq_search": s11_ivf_pq_search,
}

ORACLE: dict[str, str] = {
    "s01_cosine_topk": S01_SQL,
    "s02_lsh_buckets": S02_SQL,
    "s03_ann_bucketed": S03_SQL,
    "s04_similarity_join": S04_SQL,
    "s05_ann_ivf": S05_SQL,
    "s06_quantize_int8": S06_SQL,
    "s07_ann_recall": S07_SQL,
    "s08_ann_recall_panel": S08_SQL,
    "s09_kmeans_train": S09_SQL,
    "s10_pq_adc": _pq_sql(),
    "s11_ivf_pq_search": _ivfpq_sql(),
}
