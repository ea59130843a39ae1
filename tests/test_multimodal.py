"""Multimodal binary-column plumbing: codec stub, mapInPandas pipeline."""

from __future__ import annotations

import pytest

from aind_smartspim_data_transformation_spark.operators import multimodal as mm
from tests.oracle import compare


def test_fake_codec_roundtrip():
    img = mm.make_fake_image(b"abc", 8, 4)
    arr = mm.decode_image_pixels(img)
    assert arr.shape == (4, 8) and arr.dtype == "uint8"


def test_decode_real_png_and_tiff():
    """PNG and baseline TIFF decode for REAL via the repo's pure-numpy
    codecs — the stub boundary is only formats with no codec here."""
    import numpy as np

    from aind_smartspim_data_transformation_spark.sources.png_codec import (
        encode_png_gray,
    )
    from aind_smartspim_data_transformation_spark.sources.tiff_codec import (
        encode_tiff_gray,
    )

    src = np.arange(48, dtype=np.uint16).reshape(6, 8) * 1000
    assert np.array_equal(mm.decode_image_pixels(encode_png_gray(src)), src)
    assert np.array_equal(mm.decode_image_pixels(encode_tiff_gray(src)), src)


def test_decode_unknown_format_is_stubbed():
    with pytest.raises(NotImplementedError):
        mm.decode_image_pixels(b"\xff\xd8\xff\xe0JFIFxxxx")  # JPEG magic


def test_real_png_through_feature_resize_frame_pipelines(spark):
    """The full multimodal pipeline (features → resize → frame-sample)
    over REAL PNG payloads, verified against numpy on the driver."""
    import hashlib

    import numpy as np

    from aind_smartspim_data_transformation_spark.sources.png_codec import (
        encode_png_gray,
    )

    rng = np.random.default_rng(5)
    imgs = {
        i: rng.integers(0, 65535, size=(16, 12)).astype(np.uint16)
        for i in range(4)
    }
    df = spark.createDataFrame(
        [(i, bytearray(encode_png_gray(a))) for i, a in imgs.items()],
        "doc_id long, image binary",
    )
    feats = {r["doc_id"]: r for r in mm.extract_image_features(df).collect()}
    for i, a in imgs.items():
        assert (feats[i]["width"], feats[i]["height"]) == (12, 16)
        assert feats[i]["mean_milli"] == int(a.sum()) * 1000 // a.size

    res = {r["doc_id"]: r for r in mm.resize_images(df, 6, 4).collect()}
    for i, a in imgs.items():
        ys = [y * 16 // 4 for y in range(4)]
        xs = [x * 12 // 6 for x in range(6)]
        assert bytes(res[i]["resized"]) == np.ascontiguousarray(a[np.ix_(ys, xs)]).tobytes()

    frames = {r["doc_id"]: r for r in mm.sample_frames(df, 2).collect()}
    for i, a in imgs.items():
        assert frames[i]["n_sampled"] == 8
        assert frames[i]["sampled_digest"] == hashlib.sha256(
            np.ascontiguousarray(a[::2]).tobytes()
        ).hexdigest()


def test_m01_vs_oracle(spark, sf_dir):
    compare(mm.m01_binary_stats(spark, sf_dir), mm.ORACLE["m01_binary_stats"], sf_dir, "m01")


def test_m02_pipeline_schema_and_values(spark, sf_dir):
    rows = mm.m02_image_features(spark, sf_dir).collect()
    assert len(rows) > 0
    r0 = rows[0]  # doc_id 0 → width 4, height 2
    assert (r0["width"], r0["height"]) == (4, 2)
    assert r0["n_bytes"] == 16 + r0["width"] * r0["height"]
    assert 0 <= r0["mean_milli"] <= 255_000


def test_m03_resize_golden(spark, sf_dir):
    """Nearest-neighbor resize to a fixed 8×4 grid; integer features
    deterministic (recomputed bytewise in plain python for doc 0)."""
    rows = mm.m03_image_resize(spark, sf_dir).collect()
    assert len(rows) > 0
    assert all((r["width"], r["height"]) == (mm.RESIZE_W, mm.RESIZE_H) for r in rows)
    r0 = next(r for r in rows if r["doc_id"] == 0)
    doc0_text = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter("doc_id = 0")
        .collect()[0]["text"]
    )
    w, h = 4, 2  # doc_id 0 → width 4, height 2 (same formula as the table)
    payload = doc0_text.ljust(w * h, "x")[: w * h].encode("ISO-8859-1")
    expect = bytes(
        payload[(y * h // mm.RESIZE_H) * w + (x * w // mm.RESIZE_W)]
        for y in range(mm.RESIZE_H)
        for x in range(mm.RESIZE_W)
    )
    assert r0["resized_sum"] == sum(expect)
    assert r0["resized_wsum"] == sum((i + 1) * b for i, b in enumerate(expect))


def test_m03_m04_vs_oracle(spark, sf_dir):
    compare(mm.m03_image_resize(spark, sf_dir), mm.ORACLE["m03_image_resize"], sf_dir, "m03")
    compare(mm.m04_frame_sample(spark, sf_dir), mm.ORACLE["m04_frame_sample"], sf_dir, "m04")


def test_m04_frame_sample_counts(spark, sf_dir):
    rows = mm.m04_frame_sample(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows[:20]:
        assert r["n_sampled"] == len(range(0, r["n_frames"], mm.FRAME_STRIDE))


def test_tiff_byte_orders_decode_identically():
    """An MM (big-endian) TIFF and its II twin must yield the SAME
    native-order pixel buffer through the multimodal decode — digests
    downstream cannot depend on the container's byte order."""
    import struct

    import numpy as np

    from aind_smartspim_data_transformation_spark.sources.tiff_codec import (
        encode_tiff_gray,
    )

    src = np.arange(12, dtype=np.uint16).reshape(3, 4) * 999
    # hand-built MM twin (the encoder writes II only)
    payload = src.astype(">u2").tobytes()
    entries = [
        (256, 4, 1, 4), (257, 4, 1, 3), (258, 3, 1, 16), (259, 3, 1, 1),
        (262, 3, 1, 1), (273, 4, 1, 8), (277, 3, 1, 1), (278, 4, 1, 3),
        (279, 4, 1, len(payload)),
    ]
    mm_bytes = bytearray(b"MM" + struct.pack(">HI", 42, 8 + len(payload)))
    mm_bytes += payload + struct.pack(">H", len(entries))
    for tag, typ, count, value in entries:
        if typ == 3:
            mm_bytes += struct.pack(">HHIHH", tag, typ, count, value, 0)
        else:
            mm_bytes += struct.pack(">HHII", tag, typ, count, value)
    mm_bytes += struct.pack(">I", 0)

    for blob in (encode_tiff_gray(src), bytes(mm_bytes)):
        arr = mm.decode_image_pixels(blob)
        assert arr.dtype.byteorder in ("=", "<", "|")
        assert np.array_equal(arr, src)
        assert arr.tobytes() == src.astype("<u2").tobytes()


def test_dhash_planted_near_duplicate_pair(spark):
    """A real PNG, a copy with 2 pixels nudged (near-dup), and an
    unrelated image: the banded hamming join must pair the near-dups
    (small hamming) and exclude the unrelated image."""
    import numpy as np

    from aind_smartspim_data_transformation_spark.sources.png_codec import (
        encode_png_gray,
    )

    rng = np.random.default_rng(7)
    base = rng.integers(0, 255, size=(32, 36), dtype=np.uint8)
    near = base.copy()
    near[3, 5] = 255 - near[3, 5]  # visually-minor perturbation
    near[20, 30] = 0
    other = rng.integers(0, 255, size=(32, 36), dtype=np.uint8)

    df = spark.createDataFrame(
        [
            (1, bytearray(encode_png_gray(base))),
            (2, bytearray(encode_png_gray(near))),
            (3, bytearray(encode_png_gray(other))),
        ],
        "doc_id long, image binary",
    )
    hashes = mm.dhash_images(df)
    rows = {r["doc_id"]: (r["dhash_hi"], r["dhash_lo"]) for r in hashes.collect()}
    assert len(rows) == 3 and all(v[0] >= 0 and v[1] >= 0 for v in rows.values())

    pairs = mm.dhash_hamming_pairs(hashes, max_hamming=3).collect()
    got = {(r["doc1"], r["doc2"]): r["hamming"] for r in pairs}
    assert (1, 2) in got and got[(1, 2)] <= 3
    assert all(p == (1, 2) for p in got)


def test_dhash_matches_independent_reference(spark):
    """dhash_images agrees with a from-scratch Python dHash on fake
    images (bit packing and grid sampling written independently here)."""
    import numpy as np

    blobs = [
        (i, bytearray(mm.make_fake_image(f"seed{i}".encode() * 3, 12 + i, 6 + i)))
        for i in range(4)
    ]
    df = spark.createDataFrame(blobs, "doc_id long, image binary")
    got = {r["doc_id"]: (r["dhash_hi"], r["dhash_lo"]) for r in mm.dhash_images(df).collect()}
    for i, blob in blobs:
        arr = mm.decode_image_pixels(bytes(blob))
        h, w = arr.shape
        hi = lo = 0
        for y in range(8):
            for x in range(8):
                p = int(arr[y * h // 8, x * w // 9])
                q = int(arr[y * h // 8, (x + 1) * w // 9])
                bit = 1 if p > q else 0
                idx = y * 8 + x
                if idx < 32:
                    hi |= bit << idx
                else:
                    lo |= bit << (idx - 32)
        assert got[i] == (hi, lo), i


def test_dhash_pairs_cap_degenerate_bucket(spark):
    """Solid-color images all share dHash 0 — the cap must stop the
    in-bucket join from emitting O(n²) pairs (boilerplate, not
    near-duplication)."""
    import numpy as np

    from aind_smartspim_data_transformation_spark.operators.dedup import (
        MAX_BAND_BUCKET,
    )

    n = MAX_BAND_BUCKET + 10
    flat = np.zeros((16, 18), dtype=np.uint8)
    blobs = [(i, bytearray(mm.make_fake_image(bytes(flat.tobytes()), 18, 16))) for i in range(n)]
    df = spark.createDataFrame(blobs, "doc_id long, image binary")
    pairs = mm.dhash_hamming_pairs(mm.dhash_images(df), max_hamming=3)
    assert pairs.count() == 0  # the whole degenerate bucket is dropped


def test_m05_planted_hash_collision_group(spark, tmp_path):
    """m05 (VERDICT r10 ask #7): at the sf fixture every fake image is
    distinct, so n_distinct_hashes == n_images in every row and the
    countDistinct leg is decorative.  Plant a real collision: doc_ids
    0 and 16 share width (0/16 % 16 + 4 = 4) and height (% 8 + 2 = 2),
    and identical text ⇒ identical payload ⇒ identical dHash — the
    (4,2) group must report 2 images but 1 distinct hash, and the
    whole table must match the DuckDB closed-form oracle."""
    import duckdb

    from aind_smartspim_data_transformation_spark.operators import multimodal

    text = "the quick brown fox jumps over the lazy dog"
    rows = [
        (0, text, "en", "s", len(text)),
        (16, text, "en", "s", len(text)),   # same (w, h, payload) as 0
        (1, "a different body of text entirely", "en", "s", 34),
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    got = multimodal.m05_dhash_audit(spark, str(tmp_path)).collect()
    by_wh = {(r["width"], r["height"]): r for r in got}
    g = by_wh[(4, 2)]
    assert g["n_images"] == 2 and g["n_distinct_hashes"] == 1
    assert by_wh[(5, 3)]["n_images"] == 1  # doc 1: 1%16+4, 1%8+2

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    oracle = con.execute(multimodal.ORACLE["m05_dhash_audit"]).fetchall()
    assert sorted(map(tuple, got)) == sorted(map(tuple, oracle))
