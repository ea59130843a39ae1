"""Multimodal (binary) column operators.

[driver-ext] SURVEY.md §2.11: image/audio/video payloads ride as opaque
``binary`` columns with a typed metadata struct beside them — exactly
the chunk-table design used for the imaging plane (SURVEY.md §1.4).

The *plumbing* is real and tested: schemas, Arrow batch shapes,
``mapInPandas`` decode pipelines, partition sizing.  Image decode is
real for PNG and baseline TIFF — ``decode_image_pixels`` hands them to
the imaging ingest's slice decoder (``sources/stack_reader.py::
decode_image_gray`` over the repo's pure-numpy codecs) — plus the
deterministic fake format produced by :func:`make_fake_image` (a
16-byte header ``SPKIMG01 | width u32 | height u32`` + raw payload)
used for the oracle-backed queries.  The remaining stub boundary is
formats this container has no library for (JPEG, audio, video):
``decode_image_pixels`` raises ``NotImplementedError`` there; swap in
pillow/imagecodecs on a real cluster, the Spark-side code does not
change.

Scale posture: binary payloads dominate row size, so
``spark.sql.execution.arrow.maxRecordsPerBatch`` (set in session.py)
bounds Python-worker memory; feature extraction is mapInPandas (one
Arrow transfer per batch, no per-row pickling).
"""

from __future__ import annotations

import struct
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aind_smartspim_data_transformation_spark.tables import load_table

_MAGIC = b"SPKIMG01"


def make_fake_image(seed_bytes: bytes, width: int, height: int) -> bytes:
    """Deterministic fake image: header + seed-derived payload (no libs)."""
    payload = (seed_bytes * ((width * height) // max(len(seed_bytes), 1) + 1))[
        : width * height
    ]
    return _MAGIC + struct.pack("<II", width, height) + payload


def decode_image_pixels(data: bytes) -> np.ndarray:
    """(height, width) pixel array, dispatched on magic bytes.

    - ``SPKIMG01`` fake → uint8 (the oracle-backed deterministic path);
    - PNG and baseline TIFF → ``sources/stack_reader.decode_image_gray``,
      the slice decoder the imaging ingest uses, with big-endian (MM)
      TIFF pixels normalised to native byte order.

    Anything else (JPEG, audio, video containers) raises
    ``NotImplementedError`` — the remaining genuine stub boundary in
    this container; plug pillow/imagecodecs in here on a real cluster.
    """
    if data[:8] == _MAGIC:
        width, height = struct.unpack("<II", data[8:16])
        return np.frombuffer(
            data[16 : 16 + width * height], dtype=np.uint8
        ).reshape(height, width)
    from aind_smartspim_data_transformation_spark.sources.stack_reader import (
        _PNG_SIG,
        decode_image_gray,
    )

    if data[:8] != _PNG_SIG and data[:2] not in (b"II", b"MM"):
        raise NotImplementedError(
            "no codec for this payload in this environment (JPEG/audio/"
            "video need pillow or imagecodecs); SPKIMG01, PNG and "
            "baseline TIFF decode"
        )
    arr = decode_image_gray(bytes(data))
    # an MM (big-endian) TIFF and its II twin must produce identical
    # downstream bytes/digests
    if arr.dtype.byteorder == ">":
        arr = arr.astype(arr.dtype.newbyteorder("="))
    return arr


FEATURE_SCHEMA = (
    "doc_id long, width int, height int, n_bytes long, mean_milli long"
)


def extract_image_features(binary_df: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over (doc_id, image: binary).

    One Arrow batch in, one pandas DataFrame out — the canonical
    multimodal decode shape.  Per-batch (not per-row) Python overhead.
    Mean intensity is reported as integer MILLI-intensity
    (sum·1000 // count) — exact integer arithmetic, so the DuckDB twin
    matches bit-for-bit (a float mean with round() would hit the
    half-up-vs-banker's rounding mismatch between engines).
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["image"]):
                arr = decode_image_pixels(bytes(blob))
                mean_milli = (
                    (int(arr.sum()) * 1000) // arr.size if arr.size else 0
                )
                out.append(
                    (doc_id, arr.shape[1], arr.shape[0], len(blob), mean_milli)
                )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "width", "height", "n_bytes", "mean_milli"],
            )

    return binary_df.mapInPandas(_extract, schema=FEATURE_SCHEMA)


def documents_as_fake_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a multimodal table from documents: text → fake image bytes.

    Width/height derive deterministically from doc_id so the pipeline
    has varied shapes to exercise.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = (F.col("doc_id") % 16 + 4).cast("int")
    h = (F.col("doc_id") % 8 + 2).cast("int")
    # header assembled JVM-side: magic || width_le || height_le || payload
    def _le32(col):
        b = [F.expr(f"char(CAST(shiftright({col}, {8*i}) & 255 AS INT))") for i in range(4)]
        return F.concat(*b)

    img = F.encode(
        F.concat(
            F.lit(_MAGIC.decode("latin-1")),
            _le32("(doc_id % 16 + 4)"),
            _le32("(doc_id % 8 + 2)"),
            F.expr(
                "substring(rpad(text, CAST((doc_id % 16 + 4) * (doc_id % 8 + 2) AS INT), 'x'), "
                "1, CAST((doc_id % 16 + 4) * (doc_id % 8 + 2) AS INT))"
            ),
        ),
        "ISO-8859-1",
    )
    return docs.select("doc_id", img.alias("image"), w.alias("meta_width"), h.alias("meta_height"))


# ---------------------------------------------------------------------------
# M1 — binary column statistics (SQL-expressible; DuckDB oracle).
# ---------------------------------------------------------------------------
def m01_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "UTF-8")
    return (
        d.select(
            "doc_id",
            F.octet_length(blob).alias("n_bytes"),
            F.sha2(blob, 256).alias("digest"),
            F.lower(F.hex(F.encode(F.substring("text", 1, 8), "UTF-8"))).alias(
                "first8_hex"
            ),
        )
        .orderBy("doc_id")
    )


M01_SQL = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS digest,
       lower(hex(encode(substring(text, 1, 8)))) AS first8_hex
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# M2 — multimodal decode pipeline.  The decode itself is a mapInPandas
# kernel, but because the fake format is a pure function of the text
# column, the FEATURES are SQL-expressible: DuckDB recomputes the
# padded payload and its per-char code sum, making this an oracle-backed
# end-to-end test of the decode path (header parse included — wrong
# width/height would shift every payload byte).
# ---------------------------------------------------------------------------
def m02_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    imgs = documents_as_fake_images(spark, sf_dir)
    return extract_image_features(imgs.select("doc_id", "image")).orderBy("doc_id")


M02_SQL = """
WITH f AS (
  SELECT doc_id,
         CAST(doc_id % 16 + 4 AS INT) AS width,
         CAST(doc_id % 8 + 2 AS INT) AS height,
         substring(
           rpad(text, CAST((doc_id % 16 + 4) * (doc_id % 8 + 2) AS INT), 'x'),
           1, CAST((doc_id % 16 + 4) * (doc_id % 8 + 2) AS INT)) AS payload
  FROM documents
)
SELECT doc_id, width, height,
       CAST(16 + width * height AS BIGINT) AS n_bytes,
       CAST(list_sum(list_transform(range(1, len(payload) + 1),
                                    i -> ord(substr(payload, i, 1)))) * 1000
            // len(payload) AS BIGINT) AS mean_milli
FROM f ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# M3 — image resize (nearest-neighbor) as mapInPandas.  Pure-python
# kernel over the fake format; a real deployment swaps in
# pillow/opencv inside the same batch loop — the Spark plumbing
# (schema, Arrow batching, partitioning) is what this operator tests.
# Oracle-backed since round 5: the registered query projects
# INTEGER-EXACT features of the resized pixels (sum + 1-indexed
# position-weighted sum — the weighted sum catches permutations a
# plain sum would miss), which DuckDB recomputes from the fake
# format's closed form (nearest-neighbor index y·h÷H, x·w÷W over the
# rpad payload).  A wrong header parse, sample index, or byte order
# shifts every sampled pixel and breaks both sums.
# ---------------------------------------------------------------------------
RESIZE_W, RESIZE_H = 8, 4

RESIZED_SCHEMA = (
    "doc_id long, src_width int, src_height int, width int, height int, "
    "resized binary"
)


def resize_images(binary_df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["image"]):
                arr = decode_image_pixels(bytes(blob))
                h, w = arr.shape
                # nearest-neighbor sample on the pixel grid (any dtype)
                ys = [y * h // out_h for y in range(out_h)]
                xs = [x * w // out_w for x in range(out_w)]
                resized = np.ascontiguousarray(arr[np.ix_(ys, xs)]).tobytes()
                out.append((doc_id, w, h, out_w, out_h, resized))
            yield pd.DataFrame(
                out,
                columns=["doc_id", "src_width", "src_height", "width", "height", "resized"],
            )

    return binary_df.mapInPandas(_resize, schema=RESIZED_SCHEMA)


def m03_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    imgs = documents_as_fake_images(spark, sf_dir)
    resized = resize_images(imgs.select("doc_id", "image"), RESIZE_W, RESIZE_H)

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                px = np.frombuffer(r.resized, dtype=np.uint8).astype(np.int64)
                out.append(
                    (r.doc_id, r.src_width, r.src_height, r.width, r.height,
                     int(px.sum()),
                     int(((np.arange(px.size, dtype=np.int64) + 1) * px).sum()))
                )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "src_width", "src_height", "width",
                         "height", "resized_sum", "resized_wsum"],
            )

    return resized.mapInPandas(
        _feat,
        schema="doc_id long, src_width int, src_height int, width int, "
        "height int, resized_sum long, resized_wsum long",
    ).orderBy("doc_id")


M03_SQL = f"""
WITH f AS (
  SELECT doc_id,
         CAST(doc_id % 16 + 4 AS INT) AS w,
         CAST(doc_id % 8 + 2 AS INT) AS h,
         substring(
           rpad(text, CAST((doc_id % 16 + 4) * (doc_id % 8 + 2) AS INT), 'x'),
           1, CAST((doc_id % 16 + 4) * (doc_id % 8 + 2) AS INT)) AS payload
  FROM documents
), px AS (
  SELECT doc_id, w, h,
         list_transform(range(0, {RESIZE_W * RESIZE_H}), i ->
           ord(substr(payload,
                      CAST(((i // {RESIZE_W}) * h // {RESIZE_H}) * w
                           + ((i % {RESIZE_W}) * w // {RESIZE_W}) + 1 AS INT),
                      1))) AS p
  FROM f
)
SELECT doc_id, w AS src_width, h AS src_height,
       CAST({RESIZE_W} AS INT) AS width, CAST({RESIZE_H} AS INT) AS height,
       CAST(list_sum(p) AS BIGINT) AS resized_sum,
       CAST(list_sum(list_transform(range(0, {RESIZE_W * RESIZE_H}),
                                    i -> (i + 1) * p[i + 1])) AS BIGINT)
         AS resized_wsum
FROM px ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# M4 — frame sampling: treat the payload as a "video" of src_height
# frames of src_width bytes; keep every k-th frame.  The per-row output
# is a list of sampled frame indices + a digest of the kept bytes —
# the shape of a video-curation pipeline stage.
# ---------------------------------------------------------------------------
FRAME_STRIDE = 2

FRAMES_SCHEMA = (
    "doc_id long, n_frames int, n_sampled int, sampled_digest string, "
    "sampled_sum long, sampled_wsum long"
)


def sample_frames(
    binary_df: DataFrame, stride: int, with_digest: bool = True
) -> DataFrame:
    # Spark cannot prune computation INSIDE mapInPandas, so the sha256
    # of every kept payload must be opt-out-able: callers that only
    # consume the integer features (m04's oracle-gated path) skip the
    # whole-corpus hashing instead of paying for a column their select
    # immediately drops.
    import hashlib

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["image"]):
                arr = decode_image_pixels(bytes(blob))
                h = arr.shape[0]
                kept = np.ascontiguousarray(arr[::stride])
                flat = kept.reshape(-1).astype(np.int64)
                digest = (
                    hashlib.sha256(kept.tobytes()).hexdigest()
                    if with_digest
                    else ""
                )
                out.append(
                    (doc_id, h, len(range(0, h, stride)), digest,
                     int(flat.sum()),
                     int(((np.arange(flat.size, dtype=np.int64) + 1) * flat).sum()))
                )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "n_frames", "n_sampled", "sampled_digest",
                         "sampled_sum", "sampled_wsum"],
            )

    return binary_df.mapInPandas(_sample, schema=FRAMES_SCHEMA)


def m04_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The registered query projects the INTEGER-EXACT features (the
    # digest stays available on :func:`sample_frames` for pipelines
    # that key on it) so DuckDB can replay the frame sampling from the
    # fake format's closed form — oracle-backed since round 5.
    imgs = documents_as_fake_images(spark, sf_dir)
    return (
        sample_frames(imgs.select("doc_id", "image"), FRAME_STRIDE, with_digest=False)
        .select("doc_id", "n_frames", "n_sampled", "sampled_sum", "sampled_wsum")
        .orderBy("doc_id")
    )


M04_SQL = f"""
WITH f AS (
  SELECT doc_id,
         CAST(doc_id % 16 + 4 AS INT) AS w,
         CAST(doc_id % 8 + 2 AS INT) AS h,
         substring(
           rpad(text, CAST((doc_id % 16 + 4) * (doc_id % 8 + 2) AS INT), 'x'),
           1, CAST((doc_id % 16 + 4) * (doc_id % 8 + 2) AS INT)) AS payload
  FROM documents
), px AS (
  SELECT doc_id, w, h,
         (h + {FRAME_STRIDE} - 1) // {FRAME_STRIDE} AS ns,
         list_transform(
           range(0, ((h + {FRAME_STRIDE} - 1) // {FRAME_STRIDE}) * w), j ->
             ord(substr(payload,
                        CAST(({FRAME_STRIDE} * (j // w)) * w + (j % w) + 1
                             AS INT),
                        1))) AS p
  FROM f
)
SELECT doc_id, CAST(h AS INT) AS n_frames, CAST(ns AS INT) AS n_sampled,
       CAST(list_sum(p) AS BIGINT) AS sampled_sum,
       CAST(list_sum(list_transform(range(0, ns * w),
                                    j -> (j + 1) * p[j + 1])) AS BIGINT)
         AS sampled_wsum
FROM px ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# M5 — perceptual image hashing (dHash) for image-level dedup.  The
# standard near-dup signature for images: resize to a 9×8 grid
# (nearest-neighbor), compare each pixel to its right neighbor, pack
# the 64 greater-than bits.  Visually-identical images (recompress,
# mild crop/brightness) land within a few hamming bits; the pair join
# reuses the d07 simhash machinery (pigeonhole bands + bit_count(xor)
# verify) — see tests/test_multimodal.py for a planted near-dup pair
# driven through :func:`dhash_hamming_pairs`.
#
# The hash is split into two 32-bit halves (rows 0-3 / rows 4-7): a
# single 64-bit pack would shift into the sign bit, where Spark wraps
# and DuckDB errors — two halves keep every value positive and the
# oracle exact.  The registered query audits the full decode → resize
# → hash pipeline per shape class; the oracle recomputes the hash from
# the fake format's definition (header parse included — a one-byte
# offset error would flip nearly every bit).
# ---------------------------------------------------------------------------
DHASH_GRID_W, DHASH_GRID_H = 9, 8  # 8 comparisons/row × 8 rows = 64 bits

DHASH_SCHEMA = "doc_id long, width int, height int, dhash_hi long, dhash_lo long"


def dhash_images(binary_df: DataFrame) -> DataFrame:
    """(doc_id, width, height, dhash_hi, dhash_lo) via mapInPandas."""

    def _dhash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gw, gh = DHASH_GRID_W, DHASH_GRID_H
        for pdf in batches:
            out = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["image"]):
                arr = decode_image_pixels(bytes(blob))
                h, w = arr.shape
                ys = [y * h // gh for y in range(gh)]
                xs = [x * w // gw for x in range(gw)]
                g = arr[np.ix_(ys, xs)].astype(np.int64)
                bits = (g[:, :-1] > g[:, 1:]).astype(np.int64)  # gh × (gw-1)
                flat = bits.flatten()
                hi = int(sum(int(b) << i for i, b in enumerate(flat[:32])))
                lo = int(sum(int(b) << i for i, b in enumerate(flat[32:])))
                out.append((doc_id, w, h, hi, lo))
            yield pd.DataFrame(
                out, columns=["doc_id", "width", "height", "dhash_hi", "dhash_lo"]
            )

    return binary_df.mapInPandas(_dhash, schema=DHASH_SCHEMA)


def dhash_hamming_pairs(hashes: DataFrame, max_hamming: int) -> DataFrame:
    """Near-dup image pairs by banded hamming join — d07's pigeonhole
    over 4 16-bit bands: any pair within hamming ≤ 3 MUST agree on at
    least one band (3 flipped bits cannot touch all 4), so band
    equality generates the candidates and exact bit_count(xor)
    verifies.  For max_hamming ≥ 4 recall is no longer guaranteed
    (candidate generation becomes approximate) — same trade-off as
    the simhash path.

    Degenerate-bucket guard (the d03 lesson, `dedup.MAX_BAND_BUCKET`):
    solid-color / boilerplate images all hash to the SAME dHash (every
    comparison bit 0), so one band bucket can hold a huge fraction of
    the corpus and the in-bucket join goes quadratic.  Buckets larger
    than the cap are boilerplate, not near-duplication — dropped
    BEFORE the self-join."""
    from aind_smartspim_data_transformation_spark.operators.dedup import (
        MAX_BAND_BUCKET,
    )

    bands = hashes.select(
        "doc_id",
        "dhash_hi",
        "dhash_lo",
        F.posexplode(
            F.array(
                F.col("dhash_hi") % 65536,
                F.expr("dhash_hi div 65536"),
                F.col("dhash_lo") % 65536,
                F.expr("dhash_lo div 65536"),
            )
        ).alias("band_id", "bkey"),
    )
    hot = (
        bands.groupBy("band_id", "bkey")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > MAX_BAND_BUCKET)
        .select("band_id", "bkey")
    )
    bands = bands.join(F.broadcast(hot), ["band_id", "bkey"], "left_anti")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
            (
                F.bit_count(F.col("a.dhash_hi").bitwiseXOR(F.col("b.dhash_hi")))
                + F.bit_count(F.col("a.dhash_lo").bitwiseXOR(F.col("b.dhash_lo")))
            ).alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming).orderBy("doc1", "doc2")


def m05_dhash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    imgs = documents_as_fake_images(spark, sf_dir)
    hashes = dhash_images(imgs.select("doc_id", "image"))
    return (
        hashes.groupBy("width", "height")
        .agg(
            F.count("*").alias("n_images"),
            F.countDistinct("dhash_hi", "dhash_lo").alias("n_distinct_hashes"),
            F.sum("dhash_hi").alias("sum_hi"),
            F.sum("dhash_lo").alias("sum_lo"),
        )
        .orderBy("width", "height")
    )


# DuckDB twin: recompute the dHash from the fake format's definition.
_M05_PIXEL = (
    "ord(substr(payload, (((i // 8) * height) // 8) * width "
    "+ (({x}) * width) // 9 + 1, 1))"
)

M05_SQL = f"""
WITH f AS (
  SELECT doc_id,
         CAST(doc_id % 16 + 4 AS INT) AS width,
         CAST(doc_id % 8 + 2 AS INT) AS height,
         substring(
           rpad(text, CAST((doc_id % 16 + 4) * (doc_id % 8 + 2) AS INT), 'x'),
           1, CAST((doc_id % 16 + 4) * (doc_id % 8 + 2) AS INT)) AS payload
  FROM documents
), hashed AS (
  SELECT doc_id, width, height,
         list_sum(list_transform(range(0, 32), i -> CASE WHEN
           {_M05_PIXEL.format(x="i % 8")} > {_M05_PIXEL.format(x="i % 8 + 1")}
           THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS dhash_hi,
         list_sum(list_transform(range(32, 64), i -> CASE WHEN
           {_M05_PIXEL.format(x="i % 8")} > {_M05_PIXEL.format(x="i % 8 + 1")}
           THEN (1::BIGINT << (i - 32)) ELSE 0 END))::BIGINT AS dhash_lo
  FROM f
)
SELECT width, height, count(*) AS n_images,
       count(DISTINCT (dhash_hi, dhash_lo)) AS n_distinct_hashes,
       CAST(sum(dhash_hi) AS BIGINT) AS sum_hi,
       CAST(sum(dhash_lo) AS BIGINT) AS sum_lo
FROM hashed GROUP BY width, height ORDER BY width, height
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "m01_binary_stats": m01_binary_stats,
    "m02_image_features": m02_image_features,
    "m03_image_resize": m03_image_resize,
    "m04_frame_sample": m04_frame_sample,
    "m05_dhash_audit": m05_dhash_audit,
}

ORACLE: dict[str, str] = {
    "m01_binary_stats": M01_SQL,
    # m02: oracle-backed — the fake format is a pure function of text,
    # so DuckDB recomputes the features (integer milli-intensity).
    "m02_image_features": M02_SQL,
    # m03/m04: oracle-backed since round 5 — the registered queries
    # project integer-exact features (sum + position-weighted sum) of
    # the resized pixels / sampled frames, recomputed by DuckDB from
    # the fake format's closed form; byte-level digests remain golden-
    # tested in tests/test_multimodal.py.
    "m03_image_resize": M03_SQL,
    "m04_frame_sample": M04_SQL,
    # m05: oracle-backed — the dHash is recomputed from the fake
    # format's closed form.
    "m05_dhash_audit": M05_SQL,
}
