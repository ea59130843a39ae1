"""Count-min sketch heavy hitters (x02).

A 100 TB token stream cannot afford an exact per-token count just to
find heavy hitters: the token-keyed shuffle moves billions of distinct
keys.  A count-min sketch collapses the stream into a fixed d×w grid
of counters — here d=4 hash lanes × w=1024 buckets — built with
map-side combine, so the only shuffle carries at most 4096 keys no
matter the corpus size.  Estimates are biased high (collisions only
ADD), and `est = min_j sketch[j][h_j(tok)]` bounds the error.

The hash family is the repo's established md5-lane construction
(``operators/dedup.py:380``): bucket_j(tok) = first 8 hex chars of
md5('j|' || tok) as an integer, mod w — chosen because Spark
(`conv(substring(md5(..),1,8),16,10)`) and DuckDB
(`('0x'||substring(md5(..),1,8))::BIGINT`) compute it identically, so
the oracle replays the sketch bit-for-bit.

The registered query is the sketch's QA harness: for the top-20 exact
tokens it reports exact count, CM estimate, and the (always
non-negative) overcount.  The exact side exists only for the compare;
a production heavy-hitter pass keeps just the sketch + a candidate
set.

No counterpart in the reference repo ([driver-ext]: LLM-pipeline
operators beyond the reference's imaging scope).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aind_smartspim_data_transformation_spark.tables import load_table

CM_LANES = 4
CM_WIDTH = 1024
CM_TOPK = 20


def _bucket(lane: int, col: str = "token"):
    """md5-lane bucket: identical in Spark and DuckDB (see module doc)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{lane}|"), F.col(col))), 1, 8), 16, 10
        ).cast("long")
        % CM_WIDTH
    )


def token_rows(docs: DataFrame) -> DataFrame:
    """(token) rows from a (…, text) DataFrame — batch or streaming."""
    return docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    ).filter(F.col("token") != "")


def cm_sketch(tok: DataFrame) -> DataFrame:
    """(lane, bucket, c) count-min grid over a token DataFrame.

    One pass; posexplode emits the d (lane, bucket) pairs per token,
    the groupBy partially aggregates map-side — the shuffle carries
    ≤ d·w = 4096 keys at ANY corpus size.  Counts are a pure streaming
    aggregation too (the sketch is mergeable by construction), so the
    SAME function builds the incremental sketch over a readStream of
    documents — asserted sketch-identical to batch in
    tests/test_docs_stream.py.
    """
    return (
        tok.select(
            F.posexplode(
                F.array(*[_bucket(j) for j in range(CM_LANES)])
            ).alias("lane", "bucket")
        )
        .groupBy("lane", "bucket")
        .agg(F.count("*").alias("c"))
    )


def x02_countmin_heavyhitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = token_rows(docs)

    # The at-scale data path: the whole corpus collapses to ≤4096 rows.
    sketch = cm_sketch(tok)

    # QA side: exact counts (token-keyed shuffle — the cost the sketch
    # avoids in production) and the top-k candidates.
    exact = tok.groupBy("token").agg(F.count("*").alias("exact_cnt"))
    top = exact.orderBy(F.desc("exact_cnt"), F.asc("token")).limit(CM_TOPK)

    # Estimate: explode the tiny candidate set by lane, probe the
    # broadcast sketch, min across lanes.
    est = (
        top.select(
            "token",
            F.posexplode(
                F.array(*[_bucket(j) for j in range(CM_LANES)])
            ).alias("lane", "bucket"),
        )
        .join(F.broadcast(sketch), ["lane", "bucket"])
        .groupBy("token")
        .agg(F.min("c").alias("est_cnt"))
    )
    return (
        top.join(F.broadcast(est), "token")
        .select(
            "token",
            "exact_cnt",
            "est_cnt",
            (F.col("est_cnt") - F.col("exact_cnt")).alias("overcount"),
        )
        .orderBy(F.desc("exact_cnt"), F.asc("token"))
    )


_DUCK_BUCKET = (
    "('0x' || substring(md5(CAST(lane AS VARCHAR) || '|' || token), 1, 8))::BIGINT"
    f" % {CM_WIDTH}"
)

X02_SQL = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
), tok2 AS (
  SELECT token FROM tok WHERE token <> ''
), lanes AS (
  SELECT unnest(range({CM_LANES})) AS lane
), sketch AS (
  SELECT lane, {_DUCK_BUCKET} AS bucket, count(*) AS c
  FROM tok2 CROSS JOIN lanes
  GROUP BY 1, 2
), exact AS (
  SELECT token, count(*) AS exact_cnt FROM tok2 GROUP BY 1
), top AS (
  SELECT * FROM exact ORDER BY exact_cnt DESC, token ASC LIMIT {CM_TOPK}
), est AS (
  SELECT token, min(c) AS est_cnt
  FROM (SELECT t.token, l.lane, {_DUCK_BUCKET} AS bucket
        FROM top t CROSS JOIN lanes l) probe
  JOIN sketch USING (lane, bucket)
  GROUP BY token
)
SELECT token, exact_cnt, est_cnt, est_cnt - exact_cnt AS overcount
FROM top JOIN est USING (token)
ORDER BY exact_cnt DESC, token ASC
"""


# ---------------------------------------------------------------------------
# X4 — HyperLogLog distinct-count sketch (Flajolet et al. 2007),
# integer-exact.  Exact count-distinct over a 100 TB token stream
# shuffles every distinct key; HLL collapses the stream to m=256
# 5-bit registers with map-side max-combine — the shuffle carries
# ≤256 rows, and registers from different shards merge by max.
#
# Determinism: the 32-bit md5 prefix splits into bucket = h mod 256
# and v = h div 256 (24 bits); rho = leading-zero rank = 25 −
# bitlength(v) (25 when v = 0).  The harmonic sum Σ 2^−rho is kept as
# the EXACT integer S = Σ 2^(32−rho) (dyadic rationals scaled by
# 2^32; empty buckets contribute 2^32), and the raw estimate is the
# exact integer division (α_milli · m² · 2^32) div (1000 · S) with
# α_milli = 718 ≈ 1000·0.7213/(1+1.079/m).  No floats anywhere —
# Spark and DuckDB produce the identical estimate.  No small-range
# (linear-counting) correction: the QA pairs the estimate with the
# exact count, and the corpus is far above the 2.5·m regime where the
# correction applies.
# ---------------------------------------------------------------------------
HLL_M = 256  # buckets (p = 8)
HLL_ALPHA_MILLI = 718
# numerator of the raw estimate: est = HLL_NUM div (1000 · S)
HLL_NUM = HLL_ALPHA_MILLI * HLL_M * HLL_M * (1 << 32)

# the 32-bit md5 prefix of the `token` column as an integer
_H32 = "CAST(conv(substring(md5(token), 1, 8), 16, 10) AS BIGINT)"
_DUCK_H32 = "('0x' || substring(md5(token), 1, 8))::BIGINT"


def hll_registers(tok: DataFrame, *keys: str) -> DataFrame:
    """(*keys, bucket, r) HLL registers over a (token, *keys) DataFrame,
    one register set per key — the one register pipeline (x04 without
    keys, n08 per window, and the mergeability property test in
    tests/test_extras.py)."""
    v = F.col("v")
    return (
        tok.select(
            *keys,
            F.expr(f"{_H32} % {HLL_M}").alias("bucket"),
            F.expr(f"{_H32} div {HLL_M}").alias("v"),
        )
        .groupBy(*keys, "bucket")
        .agg(
            F.max(
                F.when(v == 0, F.lit(25)).otherwise(F.lit(25) - F.length(F.bin(v)))
            ).alias("r")
        )
    )


def hll_estimate(regs: DataFrame, *keys: str) -> DataFrame:
    """(*keys, s, n_regs, est) from :func:`hll_registers` output: the
    exact scaled harmonic sum S (an empty bucket adds 2^32), the count
    of non-empty registers, and the integer raw estimate."""
    return (
        regs.groupBy(*keys)
        .agg(
            (
                F.expr("sum(shiftleft(CAST(1 AS BIGINT), 32 - r))")
                + (F.lit(HLL_M) - F.count("*")) * F.lit(1 << 32)
            ).alias("s"),
            F.count("*").alias("n_regs"),
        )
        .withColumn("est", F.expr(f"{HLL_NUM} div (1000 * s)"))
    )


def hll_sql(src: str, *keys: str) -> str:
    """DuckDB twin of :func:`hll_registers` + :func:`hll_estimate`: the
    `hashed`, `regs` and `sums` CTEs (continuing a WITH list) over CTE
    ``src``'s VARCHAR `token` column, grouped by ``keys``.  `sums`
    carries (*keys, s, n_regs, est)."""
    k = "".join(f"{c}, " for c in keys)
    by = f" GROUP BY {', '.join(keys)}" if keys else ""
    return f"""hashed AS (
  SELECT {k}{_DUCK_H32} % {HLL_M} AS bucket,
         {_DUCK_H32} // {HLL_M} AS v
  FROM {src}
), regs AS (
  SELECT {k}bucket,
         max(CASE WHEN v = 0 THEN 25 ELSE 25 - length(bin(v)) END) AS r
  FROM hashed GROUP BY {k}bucket
), sums AS (
  SELECT *, {HLL_NUM} // (1000 * s) AS est FROM (
    SELECT {k}sum((1::BIGINT << (32 - r)))::BIGINT
           + ({HLL_M} - count(*)) * (1::BIGINT << 32) AS s,
           count(*) AS n_regs
    FROM regs{by}) _s
)"""


def x04_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 3-word shingles, same construction as the dedup family's
    # (operators/dedup.py) — the corpus's high-cardinality key (the
    # token vocabulary is tiny by design; shingles are the realistic
    # count-distinct workload).  Duplicates are fine: registers are
    # max-idempotent.
    from aind_smartspim_data_transformation_spark.operators.dedup import (
        _shingle_rows_raw,
    )

    tok = _shingle_rows_raw(spark, sf_dir).select(F.col("sh").alias("token"))
    exact = tok.agg(F.countDistinct("token").alias("n_exact"))
    return (
        hll_estimate(hll_registers(tok))
        .crossJoin(F.broadcast(exact))
        .select(
            F.lit(HLL_M).alias("m"),
            "n_regs",
            "n_exact",
            "est",
            F.expr("abs(est - n_exact) * 1000000 div n_exact").alias("err_ppm"),
        )
    )


X04_SQL = f"""
WITH toks AS (
  SELECT string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), tok2 AS (
  SELECT unnest(list_transform(range(1, len(t) - 1),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS token
  FROM toks
), {hll_sql("tok2")}, exact AS (
  SELECT count(DISTINCT token) AS n_exact FROM tok2
)
SELECT {HLL_M} AS m, n_regs, n_exact, est,
       abs(est - n_exact) * 1000000 // n_exact AS err_ppm
FROM sums CROSS JOIN exact
"""


# ---------------------------------------------------------------------------
# X5 — Bloom-filter cross-corpus membership (Bloom 1970), completing
# the sketch family (x02 count-min: frequencies; x04 HLL: distincts;
# x05 Bloom: membership).  The 100 TB use: "does corpus B contain
# anything from corpus A" without joining A⋈B — A collapses to an
# m-bit array, B probes it with NO shuffle of A beyond the ≤m-row bit
# set (broadcast).  Spark's own runtime bloom join filter is the same
# idea engine-side; this is the user-level cross-dataset form.
#
# Determinism: k = 4 md5-lane positions mod m = 65536 (the repo's
# hash family — Spark and DuckDB agree bit-for-bit), so the ORACLE
# verifies the sketch itself: build from the c01 train split's
# distinct shingles, probe the test split's, report true members,
# bloom hits, false positives, and the measured FP ppm.  Bloom
# guarantees no false negatives — the QA's n_bloom_hits ≥
# n_true_members is structural, and the FP count is exact on both
# engines.
# ---------------------------------------------------------------------------
BLOOM_M = 65536
BLOOM_K = 4

def _split_shingles(spark: SparkSession, sf_dir: str, keep) -> DataFrame:
    """Distinct 3-word shingles of one c01 split — the shingle
    expression is dedup's (``dedup._SHINGLES``, one home) and the
    split hash is c01's contract."""
    from aind_smartspim_data_transformation_spark.operators.dedup import (
        _SHINGLES,
    )

    docs = load_table(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return (
        docs.filter(keep(h))
        .withColumn("toks", F.split("text", " "))
        .filter(F.size("toks") >= 3)
        .select(F.explode(F.expr(_SHINGLES)).alias("sh"))
        .distinct()
    )


def x05_bloom_crosscorpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Each side feeds three consumers (positions/bits, the truth join,
    # and its count) — persist, or the scan+explode+distinct pipeline
    # executes once PER consumer.  Query-path cache: harness
    # clearCache() releases — SCALE.md §6q.
    train = _split_shingles(spark, sf_dir, lambda h: h < "c").persist()
    test = _split_shingles(spark, sf_dir, lambda h: h >= "e").persist()

    def positions(df: DataFrame) -> DataFrame:
        # distinct (sh, pos): lanes may collide on a position, so
        # membership compares matched-vs-needed DISTINCT positions.
        return df.select(
            "sh",
            F.explode(
                F.array_distinct(
                    F.array(
                        *[
                            F.conv(
                                F.substring(
                                    F.md5(F.concat(F.lit(f"{j}|"), F.col("sh"))), 1, 8
                                ),
                                16,
                                10,
                            ).cast("long")
                            % BLOOM_M
                            for j in range(BLOOM_K)
                        ]
                    )
                )
            ).alias("pos"),
        )

    bits = positions(train).select("pos").distinct()
    probe = positions(test)
    need = probe.groupBy("sh").agg(F.count("*").alias("n_need"))
    matched = (
        probe.join(F.broadcast(bits), "pos", "left_semi")
        .groupBy("sh")
        .agg(F.count("*").alias("n_hit"))
    )
    hits = (
        need.join(matched, "sh", "left")
        .filter(F.col("n_hit") == F.col("n_need"))
        .select("sh")
    )
    truth = test.join(train, "sh", "left_semi")
    counts = (
        train.agg(F.count("*").alias("n_train_keys"))
        .crossJoin(F.broadcast(test.agg(F.count("*").alias("n_test_keys"))))
        .crossJoin(F.broadcast(truth.agg(F.count("*").alias("n_true_members"))))
        .crossJoin(F.broadcast(hits.agg(F.count("*").alias("n_bloom_hits"))))
        .crossJoin(F.broadcast(bits.agg(F.count("*").alias("n_bits_set"))))
    )
    return counts.select(
        "n_train_keys",
        "n_test_keys",
        "n_true_members",
        "n_bloom_hits",
        "n_bits_set",
        (F.col("n_bloom_hits") - F.col("n_true_members")).alias("n_false_pos"),
        F.expr(
            "(n_bloom_hits - n_true_members) * 1000000 "
            "div greatest(n_test_keys - n_true_members, 1)"
        ).alias("fp_ppm"),
    )


_DUCK_BLOOM_POS = " , ".join(
    f"('0x' || substring(md5('{j}|' || sh), 1, 8))::BIGINT % {BLOOM_M}"
    for j in range(BLOOM_K)
)

X05_SQL = f"""
WITH d AS (
  SELECT substring(md5(doc_id::VARCHAR), 1, 1) AS h, text
  FROM documents WHERE len(string_split(text, ' ')) >= 3
), sh_all AS (
  SELECT h, unnest(list_transform(range(1, len(string_split(text, ' ')) - 1),
         i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
              || ' ' || string_split(text, ' ')[i+2])) AS sh
  FROM d
), train AS (
  SELECT DISTINCT sh FROM sh_all WHERE h < 'c'
), test AS (
  SELECT DISTINCT sh FROM sh_all WHERE h >= 'e'
), train_pos AS (
  SELECT DISTINCT unnest([{_DUCK_BLOOM_POS}]) AS pos FROM train
), probe AS (
  SELECT sh, unnest(list_distinct([{_DUCK_BLOOM_POS}])) AS pos FROM test
), need AS (
  SELECT sh, count(*) AS n_need FROM probe GROUP BY sh
), matched AS (
  SELECT sh, count(*) AS n_hit FROM probe
  WHERE pos IN (SELECT pos FROM train_pos) GROUP BY sh
), hits AS (
  SELECT need.sh FROM need JOIN matched USING (sh) WHERE n_hit = n_need
)
SELECT (SELECT count(*) FROM train) AS n_train_keys,
       (SELECT count(*) FROM test) AS n_test_keys,
       (SELECT count(*) FROM test WHERE sh IN (SELECT sh FROM train)) AS n_true_members,
       (SELECT count(*) FROM hits) AS n_bloom_hits,
       (SELECT count(*) FROM train_pos) AS n_bits_set,
       (SELECT count(*) FROM hits)
         - (SELECT count(*) FROM test WHERE sh IN (SELECT sh FROM train)) AS n_false_pos,
       ((SELECT count(*) FROM hits)
         - (SELECT count(*) FROM test WHERE sh IN (SELECT sh FROM train))) * 1000000
         // greatest((SELECT count(*) FROM test)
         - (SELECT count(*) FROM test WHERE sh IN (SELECT sh FROM train)), 1) AS fp_ppm
"""


# ---------------------------------------------------------------------------
# X6 — histogram quantile sketch, completing the canonical quartet
# (x02 count-min: frequency; x04 HLL: distinct; x05 Bloom: membership;
# x06: quantiles).  Exact `percentile` (q23) buffers every value per
# group; an equi-width histogram collapses the column to ≤B counter
# rows per group — one map-side-combined shuffle of ≤ groups·B keys at
# ANY row count, registers merge by +, and a quantile is read off the
# cumulative counts.  The estimate's error is bounded by the bucket
# width (here 120000/1024 ≈ 117 price units).
#
# Determinism: the bucket index floor(v·B/RANGE) is the same IEEE
# double arithmetic in both engines (identical inputs → identical
# doubles → identical floor); everything after bucketing — cumulative
# counts, rank thresholds ceil(p·n) as (p·n + 999) div 1000, and the
# milli-scaled bucket-upper-bound estimate — is exact integer math.
# The registered query pairs the sketch estimates with the group's
# exact rank positions implicitly via q23 (same table, same groups).
# ---------------------------------------------------------------------------
HIST_B = 1024
HIST_RANGE = 120_000  # l_extendedprice domain upper bound


def x06_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    bucket = F.least(
        F.floor(F.col("l_extendedprice") * HIST_B / HIST_RANGE),
        F.lit(HIST_B - 1),
    ).cast("long")
    hist = (
        li.select(F.col("l_returnflag").alias("flag"), bucket.alias("b"))
        .groupBy("flag", "b")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("flag").orderBy("b")
    cum = hist.withColumn("cum", F.sum("c").over(w)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("flag"))
    )

    def est(p_milli: int):
        # smallest bucket whose cumulative count reaches ceil(p·n)
        hit = F.when(
            F.col("cum") >= F.expr(f"(n * {p_milli} + 999) div 1000"), F.col("b")
        )
        return F.min(hit)

    return (
        cum.groupBy("flag")
        .agg(
            est(500).alias("b50"),
            est(950).alias("b95"),
            F.max("n").alias("n"),
        )
        .select(
            "flag",
            F.expr(f"(b50 + 1) * {HIST_RANGE} * 1000 div {HIST_B}").alias(
                "p50_est_milli"
            ),
            F.expr(f"(b95 + 1) * {HIST_RANGE} * 1000 div {HIST_B}").alias(
                "p95_est_milli"
            ),
            "n",
        )
        .orderBy("flag")
    )


X06_SQL = f"""
WITH hist AS (
  SELECT l_returnflag AS flag,
         least(CAST(floor(l_extendedprice * {HIST_B} / {HIST_RANGE}) AS BIGINT),
               {HIST_B - 1}) AS b,
         count(*) AS c
  FROM lineitem GROUP BY 1, 2
), cum AS (
  SELECT flag, b, c,
         sum(c) OVER (PARTITION BY flag ORDER BY b) AS cum,
         sum(c) OVER (PARTITION BY flag) AS n
  FROM hist
), picks AS (
  SELECT flag,
         min(CASE WHEN cum >= (n * 500 + 999) // 1000 THEN b END) AS b50,
         min(CASE WHEN cum >= (n * 950 + 999) // 1000 THEN b END) AS b95,
         max(n) AS n
  FROM cum GROUP BY flag
)
SELECT flag,
       (b50 + 1) * {HIST_RANGE} * 1000 // {HIST_B} AS p50_est_milli,
       (b95 + 1) * {HIST_RANGE} * 1000 // {HIST_B} AS p95_est_milli,
       CAST(n AS BIGINT) AS n
FROM picks ORDER BY flag
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "x02_countmin_heavyhitters": x02_countmin_heavyhitters,
    "x04_hll_distinct": x04_hll_distinct,
    "x05_bloom_crosscorpus": x05_bloom_crosscorpus,
    "x06_histogram_quantiles": x06_histogram_quantiles,
}

ORACLE: dict[str, str] = {
    "x02_countmin_heavyhitters": X02_SQL,
    "x04_hll_distinct": X04_SQL,
    "x05_bloom_crosscorpus": X05_SQL,
    "x06_histogram_quantiles": X06_SQL,
}
