"""Codec tests: PNG filters 0-4 (incl. the wavefront band decoder) and
the baseline TIFF codec + format dispatch in the ingest path."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from aind_smartspim_data_transformation_spark.sources.png_codec import (
    _SIG,
    _chunk,
    decode_png_gray,
    encode_png_gray,
)
from aind_smartspim_data_transformation_spark.sources.tiff_codec import (
    decode_tiff_gray,
    encode_tiff_gray,
    probe_tiff_header,
)


# ---------------------------------------------------------------------------
# PNG filters
# ---------------------------------------------------------------------------
@st.composite
def _images(draw):
    h = draw(st.integers(1, 40))
    w = draw(st.integers(1, 40))
    dtype = draw(st.sampled_from([np.uint8, np.uint16]))
    seed = draw(st.integers(0, 2**32 - 1))
    rng = np.random.default_rng(seed)
    # mix of smooth and noisy data so the filters actually predict
    if draw(st.booleans()):
        arr = rng.integers(0, np.iinfo(dtype).max, size=(h, w)).astype(dtype)
    else:
        arr = (np.cumsum(rng.integers(0, 3, size=(h, w)), axis=1) % 251).astype(dtype)
    return arr


@given(_images(), st.integers(0, 4))
@settings(max_examples=120, deadline=None)
def test_png_filter_roundtrip_property(arr, ft):
    dec = decode_png_gray(encode_png_gray(arr, filter_type=ft))
    assert dec.dtype == arr.dtype
    assert np.array_equal(dec, arr)


def _encode_png_mixed_filters(arr: np.ndarray, ftypes: list[int]) -> bytes:
    """Build a PNG whose row y uses filter ftypes[y] (predicting from
    RAW neighbors, valid per the PNG spec) — exercises band
    segmentation in the decoder: scalar path for short 3/4 bands, the
    wavefront for long ones, and transitions through 0/1/2 rows."""
    assert arr.dtype == np.uint16
    h, w = arr.shape
    bpp = 2
    lines = np.frombuffer(arr.astype(">u2").tobytes(), dtype=np.uint8).reshape(
        h, w * bpp
    )
    raw = lines.astype(np.int16)
    left = np.zeros_like(raw)
    left[:, bpp:] = raw[:, :-bpp]
    up = np.zeros_like(raw)
    up[1:] = raw[:-1]
    ul = np.zeros_like(raw)
    ul[1:, bpp:] = raw[:-1, :-bpp]
    p = left + up - ul
    pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
    paeth = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul))
    preds = {0: np.zeros_like(raw), 1: left, 2: up, 3: (left + up) >> 1, 4: paeth}
    body = bytearray()
    for y, ft in enumerate(ftypes):
        body.append(ft)
        body += ((raw[y] - preds[ft][y]) & 0xFF).astype(np.uint8).tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(body), 1))
        + _chunk(b"IEND", b"")
    )


@given(st.integers(0, 2**32 - 1), st.integers(12, 48), st.integers(3, 30))
@settings(max_examples=60, deadline=None)
def test_png_mixed_filter_rows_property(seed, h, w):
    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 65535, size=(h, w)).astype(np.uint16)
    ftypes = list(rng.integers(0, 5, size=h))
    dec = decode_png_gray(_encode_png_mixed_filters(arr, ftypes))
    assert np.array_equal(dec, arr)


def test_png_long_paeth_band_uses_wavefront():
    """A 64-row all-Paeth image goes through the wavefront path (band
    >= _WAVE_MIN) and still decodes exactly."""
    rng = np.random.default_rng(5)
    arr = rng.integers(0, 65535, size=(64, 50)).astype(np.uint16)
    dec = decode_png_gray(encode_png_gray(arr, filter_type=4))
    assert np.array_equal(dec, arr)


def test_png_paeth_decode_throughput():
    """Paeth decode must be within ~30× of filter-0 on a full
    microscopy plane (pure-numpy wavefront; the old per-pixel loop was
    ~500× slower).  Generous bound so CI noise can't flake it."""
    import time

    rng = np.random.default_rng(9)
    plane = rng.integers(0, 65535, size=(1600, 2000)).astype(np.uint16)
    enc0 = encode_png_gray(plane, filter_type=0)
    enc4 = encode_png_gray(plane, filter_type=4)
    t0 = time.perf_counter()
    decode_png_gray(enc0)
    t_f0 = time.perf_counter() - t0
    t0 = time.perf_counter()
    decode_png_gray(enc4)
    t_f4 = time.perf_counter() - t0
    assert t_f4 < max(30 * t_f0, 1.5), f"paeth {t_f4:.3f}s vs filter0 {t_f0:.3f}s"


# ---------------------------------------------------------------------------
# TIFF
# ---------------------------------------------------------------------------
@given(_images(), st.sampled_from([1, 5, 8, 32773]))
@settings(max_examples=80, deadline=None)
def test_tiff_roundtrip_property(arr, compression):
    data = encode_tiff_gray(arr, compression=compression)
    dec = decode_tiff_gray(data)
    assert dec.dtype == arr.dtype
    assert np.array_equal(dec, arr)


def test_lzw_spec_vector():
    """Decoder vs a hand-packed TIFF 6.0 §13 code stream (the bit
    packing here is written independently of the codec): encoding
    [7,7,7,8,8] yields codes CLEAR,7,258,8,8,EOI — 258 is the entry
    the encoder adds for the repeated '7 7'."""
    from aind_smartspim_data_transformation_spark.sources.tiff_codec import (
        _lzw_compress,
        _lzw_decompress,
    )

    codes = [256, 7, 258, 8, 8, 257]
    buf = 0
    nbits = 0
    packed = bytearray()
    for c in codes:  # all under the 510-entry boundary → 9 bits each
        buf = (buf << 9) | c
        nbits += 9
        while nbits >= 8:
            nbits -= 8
            packed.append((buf >> nbits) & 0xFF)
    if nbits:
        packed.append((buf << (8 - nbits)) & 0xFF)
    assert _lzw_decompress(bytes(packed)) == bytes([7, 7, 7, 8, 8])
    # and the encoder produces exactly this stream
    assert _lzw_compress(bytes([7, 7, 7, 8, 8])) == bytes(packed)


def test_lzw_width_boundaries_and_reset():
    """Round-trip data large/diverse enough to cross the 9→10→11→12-bit
    width transitions AND the 4094-entry table reset (early-change
    off-by-ones corrupt everything after the first boundary, so exact
    equality here is a strong check)."""
    from aind_smartspim_data_transformation_spark.sources.tiff_codec import (
        _lzw_compress,
        _lzw_decompress,
    )

    rng = np.random.default_rng(7)
    # random bytes maximize fresh table entries → fastest table growth
    blob = rng.integers(0, 256, size=40_000).astype(np.uint8).tobytes()
    assert _lzw_decompress(_lzw_compress(blob)) == blob
    # highly repetitive data exercises long table entries + KwKwK
    rep = (b"\x07" * 97 + b"\x08\x09" * 53) * 200
    assert _lzw_decompress(_lzw_compress(rep)) == rep


def test_lzw_tail_lands_on_every_width_boundary():
    """Regression: the decoder appends a table entry for the FINAL data
    code (the encoder has none to pair with it), so a stream whose last
    code falls exactly on a width boundary made the decoder widen
    before EOI and misread it.  Sweeping lengths around the 9→10-bit
    boundary (table size 510 after ~252 appends) guarantees some length
    puts the tail exactly on the boundary; random bytes keep one append
    per emitted code."""
    from aind_smartspim_data_transformation_spark.sources.tiff_codec import (
        _lzw_compress,
        _lzw_decompress,
    )

    rng = np.random.default_rng(11)
    for n in range(240, 280):
        blob = rng.integers(0, 256, size=n).astype(np.uint8).tobytes()
        assert _lzw_decompress(_lzw_compress(blob)) == blob, n
    # empty + single-byte degenerate streams
    assert _lzw_decompress(_lzw_compress(b"")) == b""
    assert _lzw_decompress(_lzw_compress(b"\x00")) == b"\x00"


def test_tiff_lzw_full_image_roundtrip():
    """A realistic 16-bit plane through the LZW path end-to-end,
    including the magic-byte dispatch used by the stack reader."""
    from aind_smartspim_data_transformation_spark.sources.stack_reader import (
        decode_image_gray,
    )

    rng = np.random.default_rng(3)
    arr = rng.integers(0, 65535, size=(64, 80)).astype(np.uint16)
    data = encode_tiff_gray(arr, compression=5)
    assert np.array_equal(decode_tiff_gray(data), arr)
    assert np.array_equal(decode_image_gray(data), arr)


def test_tiff_probe_golden():
    arr = np.zeros((1600, 2000), dtype=np.uint16)
    data = encode_tiff_gray(arr)
    assert probe_tiff_header(data) == (2000, 1600, 16)


def test_tiff_big_endian_decode():
    """Hand-build an MM (big-endian) uncompressed TIFF; decode must
    byte-swap samples correctly."""
    arr = np.arange(12, dtype=np.uint16).reshape(3, 4) * 1000
    payload = arr.astype(">u2").tobytes()
    ifd_off = 8 + len(payload)
    entries = [
        (256, 4, 1, 4),
        (257, 4, 1, 3),
        (258, 3, 1, 16),
        (259, 3, 1, 1),
        (262, 3, 1, 1),
        (273, 4, 1, 8),
        (277, 3, 1, 1),
        (278, 4, 1, 3),
        (279, 4, 1, len(payload)),
    ]
    out = bytearray(b"MM" + struct.pack(">HI", 42, ifd_off)) + bytearray(payload)
    out += struct.pack(">H", len(entries))
    for tag, typ, count, value in entries:
        if typ == 3:  # SHORT inline values are left-justified
            out += struct.pack(">HHIHH", tag, typ, count, value, 0)
        else:
            out += struct.pack(">HHII", tag, typ, count, value)
    out += struct.pack(">I", 0)
    assert np.array_equal(decode_tiff_gray(bytes(out)), arr)


def test_tiff_predictor_horizontal_differencing():
    """Deflate + predictor 2 (per-row horizontal differencing)."""
    rng = np.random.default_rng(3)
    arr = rng.integers(0, 65535, size=(5, 7)).astype(np.uint16)
    diff = arr.astype(np.int64)
    diff[:, 1:] = (diff[:, 1:] - diff[:, :-1]) & 0xFFFF
    payload = zlib.compress(diff.astype("<u2").tobytes(), 1)
    ifd_off = 8 + len(payload)
    entries = [
        (256, 4, 1, 7),
        (257, 4, 1, 5),
        (258, 3, 1, 16),
        (259, 3, 1, 8),
        (262, 3, 1, 1),
        (273, 4, 1, 8),
        (277, 3, 1, 1),
        (278, 4, 1, 5),
        (279, 4, 1, len(payload)),
        (317, 3, 1, 2),
    ]
    out = bytearray(b"II" + struct.pack("<HI", 42, ifd_off)) + bytearray(payload)
    out += struct.pack("<H", len(entries))
    for tag, typ, count, value in entries:
        out += struct.pack("<HHII", tag, typ, count, value)
    out += struct.pack("<I", 0)
    assert np.array_equal(decode_tiff_gray(bytes(out)), arr)


def test_tiff_tiled_raises():
    arr = np.zeros((4, 4), dtype=np.uint8)
    data = bytearray(encode_tiff_gray(arr))
    # splice a TileWidth (322) tag in place of RowsPerStrip (278)
    idx = data.find(struct.pack("<HH", 278, 4))
    data[idx : idx + 2] = struct.pack("<H", 322)
    with pytest.raises(ValueError, match="tiled"):
        decode_tiff_gray(bytes(data))


# ---------------------------------------------------------------------------
# ingest-path dispatch
# ---------------------------------------------------------------------------
def test_decode_image_gray_dispatch():
    from aind_smartspim_data_transformation_spark.sources.stack_reader import (
        decode_image_gray,
        probe_image_header,
    )

    rng = np.random.default_rng(11)
    arr = rng.integers(0, 65535, size=(6, 9)).astype(np.uint16)
    assert np.array_equal(decode_image_gray(encode_png_gray(arr)), arr)
    assert np.array_equal(decode_image_gray(encode_tiff_gray(arr)), arr)
    assert probe_image_header(encode_tiff_gray(arr)) == (9, 6, 16)
    with pytest.raises(ValueError, match="unrecognized"):
        decode_image_gray(b"\x00\x01\x02\x03 definitely not an image")


def test_tiff_stack_tree_golden(spark, tmp_path):
    """Mirror of the PNG golden-shape test over a TIFF acquisition
    (reference `tests/test_smartspim_job.py:138-150` exercises extension
    handling; our scan admits .tif and the decode path must deliver)."""
    from tests.imaging_fixtures import assert_pyramid, ingest, make_dataset

    arrays = make_dataset(tmp_path / "src", fmt="tif")
    ingest(spark, tmp_path / "src", tmp_path / "out", (64, 64, 64), 2)
    assert_pyramid(
        f"{tmp_path}/out/Ex_445_Em_469/432380_504340.ome.zarr",
        arrays["Ex_445_Em_469/432380_504340"],
        2,
    )


def test_mixed_png_tiff_stack(spark, tmp_path):
    """One acquisition mixing .png and .tif slices decodes seamlessly."""
    from tests.imaging_fixtures import assert_pyramid, ingest, make_dataset

    arrays = make_dataset(tmp_path / "src", fmt="mixed")
    ingest(spark, tmp_path / "src", tmp_path / "out", (64, 64, 64), 2)
    assert_pyramid(
        f"{tmp_path}/out/Ex_561_Em_600/464780_530260.ome.zarr",
        arrays["Ex_561_Em_600/464780_530260"],
        2,
    )


@given(_images(), st.integers(0, 4), st.data())
@settings(max_examples=60, deadline=None)
def test_png_prefix_decode_equals_full(arr, ft, data):
    """row_stop prefix decode == full decode's prefix, for every filter
    type and every stop point (including 0 rows past the end)."""
    stop = data.draw(st.integers(1, arr.shape[0] + 2))
    enc = encode_png_gray(arr, filter_type=ft)
    assert np.array_equal(
        decode_png_gray(enc, row_stop=stop),
        decode_png_gray(enc)[: min(stop, arr.shape[0])],
    )


@given(_images(), st.sampled_from([1, 5, 8, 32773]), st.data())
@settings(max_examples=40, deadline=None)
def test_tiff_prefix_decode_equals_full(arr, compression, data):
    stop = data.draw(st.integers(1, arr.shape[0] + 2))
    enc = encode_tiff_gray(arr, compression=compression)
    assert np.array_equal(
        decode_tiff_gray(enc, row_stop=stop),
        decode_tiff_gray(enc)[: min(stop, arr.shape[0])],
    )


def test_png_prefix_decode_truncated_stream_raises():
    rng = np.random.default_rng(3)
    arr = rng.integers(0, 65535, size=(20, 16)).astype(np.uint16)
    enc = bytearray(encode_png_gray(arr))
    # corrupt: chop the IDAT payload in half (keep chunk framing by
    # rewriting the stream with a short IDAT) — full decode and deep
    # prefixes must fail loudly, shallow prefixes still decode
    import struct as _s
    import zlib as _z

    raw = b"".join(
        bytes([0]) + arr[y].astype(">u2").tobytes() for y in range(20)
    )
    comp = _z.compress(raw, 6)[: len(_z.compress(raw, 6)) // 2]
    from aind_smartspim_data_transformation_spark.sources.png_codec import _chunk

    hdr = bytes(enc[:33])  # signature + IHDR
    broken = hdr + _chunk(b"IDAT", comp) + _chunk(b"IEND", b"")
    with __import__("pytest").raises(ValueError, match="truncated"):
        decode_png_gray(broken)
    assert decode_png_gray(broken, row_stop=1).shape == (1, 16)


@given(_images(), st.integers(0, 4))
@settings(max_examples=40, deadline=None)
def test_png_adam7_roundtrip(arr, ft):
    """Adam7 interlace (r7): every pass unfilters like a standalone
    image — interlaced encode → decode is the identity for every
    filter type, and a row window on an interlaced stream slices the
    full decode."""
    enc = encode_png_gray(arr, filter_type=ft, interlace=True)
    assert np.array_equal(decode_png_gray(enc), arr)
    stop = min(3, arr.shape[0])
    assert np.array_equal(
        decode_png_gray(enc, row_stop=stop, row_start=1)
        if arr.shape[0] > 1
        else decode_png_gray(enc, row_stop=stop),
        arr[1:stop] if arr.shape[0] > 1 else arr[:stop],
    )


def test_png_interlace_flag_mismatch_fails_loudly():
    """A SEQUENTIAL pixel stream whose IHDR claims Adam7 (or vice
    versa) has a different serialized size — the decoder must fail on
    the length mismatch, never return silently rearranged pixels."""
    rng = np.random.default_rng(4)
    arr = rng.integers(0, 255, size=(8, 8)).astype(np.uint8)
    enc = bytearray(encode_png_gray(arr))
    assert enc[28] == 0  # interlace byte inside IHDR payload
    enc[28] = 1
    # IHDR CRC covers bytes 12..29 (type+payload)
    import struct as _s
    import zlib as _z

    crc = _z.crc32(bytes(enc[12:29]))
    enc[29:33] = _s.pack(">I", crc)
    with __import__("pytest").raises(ValueError, match="(?i)truncated|implies|filter type"):
        decode_png_gray(bytes(enc))


@given(_images(), st.sampled_from([1, 5, 8, 32773]), st.integers(1, 9), st.data())
@settings(max_examples=50, deadline=None)
def test_tiff_multistrip_roundtrip_and_window(arr, compression, rps, data):
    """Multi-strip encode round-trips, and a [start, stop) window
    decode equals the full decode's window for every strip geometry."""
    enc = encode_tiff_gray(arr, compression=compression, rows_per_strip=rps)
    assert np.array_equal(decode_tiff_gray(enc), arr)
    stop = data.draw(st.integers(1, arr.shape[0]))
    start = data.draw(st.integers(0, stop))
    assert np.array_equal(
        decode_tiff_gray(enc, row_stop=stop, row_start=start),
        arr[start:stop],
    )


@given(_images(), st.integers(0, 4), st.data())
@settings(max_examples=40, deadline=None)
def test_png_window_equals_full(arr, ft, data):
    stop = data.draw(st.integers(1, arr.shape[0]))
    start = data.draw(st.integers(0, stop))
    enc = encode_png_gray(arr, filter_type=ft)
    assert np.array_equal(
        decode_png_gray(enc, row_stop=stop, row_start=start),
        arr[start:stop],
    )


def test_tiff_window_never_reads_outside_strips():
    """The strip-skip contract, proven destructively: corrupt every
    strip OUTSIDE the requested window and the window still decodes
    exactly (a decoder that touched those strips would raise on the
    corrupted deflate streams — and the full decode does)."""
    from aind_smartspim_data_transformation_spark.sources.tiff_codec import (
        _read_ifd,
    )

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 65535, size=(20, 16)).astype(np.uint16)
    enc = bytearray(encode_tiff_gray(arr, compression=8, rows_per_strip=4))
    tags, _ = _read_ifd(bytes(enc))
    offsets, counts = tags[273], tags[279]
    assert len(offsets) == 5
    # window rows [8, 12) lives wholly in strip 2 — trash all others
    for s in (0, 1, 3, 4):
        enc[offsets[s] : offsets[s] + counts[s]] = b"\xff" * counts[s]
    assert np.array_equal(
        decode_tiff_gray(bytes(enc), row_stop=12, row_start=8), arr[8:12]
    )
    with pytest.raises(Exception):
        decode_tiff_gray(bytes(enc))


def test_tiff_zero_extent_rejected():
    """h=0 / w=0 IHDR-equivalents must dead-letter at the probe (the
    strip-window arithmetic would otherwise divide by RowsPerStrip=0)."""
    arr = np.zeros((2, 3), np.uint8)
    enc = bytearray(encode_tiff_gray(arr))
    # ImageLength tag (257) value → 0 inside the IFD
    import struct as _s

    (ifd_off,) = _s.unpack("<I", enc[4:8])
    (n,) = _s.unpack("<H", enc[ifd_off : ifd_off + 2])
    for i in range(n):
        off = ifd_off + 2 + 12 * i
        tag, typ, cnt = _s.unpack("<HHI", enc[off : off + 8])
        if tag == 257:
            enc[off + 8 : off + 12] = _s.pack("<I", 0)
    with pytest.raises(ValueError, match="invalid TIFF extents"):
        decode_tiff_gray(bytes(enc))


def test_png_oversized_stream_rejected():
    """An IHDR claiming fewer rows than the zlib stream holds must
    refuse on FULL decode (silently cropping would feed truncated data
    into the store); a prefix decode may legitimately stop early."""
    rng = np.random.default_rng(21)
    arr = rng.integers(0, 255, size=(10, 8)).astype(np.uint8)
    enc = bytearray(encode_png_gray(arr))
    import struct as _s
    import zlib as _z

    enc[16:24] = _s.pack(">II", 8, 6)  # claim h=6, stream holds 10 rows
    crc = _z.crc32(bytes(enc[12:29]))
    enc[29:33] = _s.pack(">I", crc)
    with pytest.raises(ValueError, match="implies exactly"):
        decode_png_gray(bytes(enc))
    assert decode_png_gray(bytes(enc), row_stop=3).shape == (3, 8)


# ---------------------------------------------------------------------------
# PackBits (TIFF 6.0 §9, compression 32773) — round 7
# ---------------------------------------------------------------------------
def test_packbits_spec_vector():
    """The worked example from the TIFF 6.0 spec §9 (Apple PackBits)."""
    from aind_smartspim_data_transformation_spark.sources.tiff_codec import (
        _packbits_decompress,
    )

    # spec: FE AA | 02 80 00 2A | FD AA | 03 80 00 2A 22 | F7 AA
    #  → AA×3 | 80 00 2A | AA×4 | 80 00 2A 22 | AA×10
    packed = bytes.fromhex("FEAA0280002AFDAA0380002A22F7AA")
    want = (
        b"\xaa" * 3 + b"\x80\x00\x2a" + b"\xaa" * 4
        + b"\x80\x00\x2a\x22" + b"\xaa" * 10
    )
    assert _packbits_decompress(packed) == want


def test_packbits_noop_and_truncation():
    from aind_smartspim_data_transformation_spark.sources.tiff_codec import (
        _packbits_decompress,
    )

    # 0x80 is a no-op filler byte
    assert _packbits_decompress(b"\x80\x00A\x80\xfeB") == b"A" + b"B" * 3
    with pytest.raises(ValueError, match="truncated"):
        _packbits_decompress(b"\x05AB")  # literal run cut short
    with pytest.raises(ValueError, match="truncated"):
        _packbits_decompress(b"\xfe")  # replicate with no byte


@given(st.binary(min_size=0, max_size=600))
@settings(max_examples=200, deadline=None)
def test_packbits_roundtrip_arbitrary_bytes(data):
    from aind_smartspim_data_transformation_spark.sources.tiff_codec import (
        _packbits_compress,
        _packbits_decompress,
    )

    assert _packbits_decompress(_packbits_compress(data)) == data


def test_tiff_packbits_with_predictor():
    """PackBits composes with horizontal differencing: RLE shines on
    the flat gradients differencing produces — decode must invert both."""
    from aind_smartspim_data_transformation_spark.sources.tiff_codec import (
        _packbits_compress,
    )
    import struct as _s

    # hand-build: predictor 2 + packbits (our encoder doesn't emit
    # predictor, so splice the tag in over a known pixel block)
    arr = np.tile(np.arange(40, dtype=np.uint16) * 7, (6, 1))
    diff = np.empty_like(arr)
    diff[:, 0] = arr[:, 0]
    diff[:, 1:] = (arr[:, 1:].astype(np.int64) - arr[:, :-1]).astype(np.uint16)
    seg = b"".join(
        _packbits_compress(diff[y].astype("<u2").tobytes()) for y in range(6)
    )
    entries = [
        (256, 4, 1, 40), (257, 4, 1, 6), (258, 3, 1, 16),
        (259, 3, 1, 32773), (262, 3, 1, 1), (273, 4, 1, 8),
        (277, 3, 1, 1), (278, 4, 1, 6), (279, 4, 1, len(seg)),
        (317, 3, 1, 2),
    ]
    out = bytearray(b"II" + _s.pack("<HI", 42, 8 + len(seg)))
    out += seg
    out += _s.pack("<H", len(entries))
    for tag, typ, count, value in entries:
        out += _s.pack("<HHII", tag, typ, count, value)
    out += _s.pack("<I", 0)
    assert np.array_equal(decode_tiff_gray(bytes(out)), arr)


def test_packbits_stack_e2e(spark, tmp_path):
    """A whole acquisition of PackBits TIFF slices flows through the
    fused job into a store identical to the plain-TIFF acquisition's."""
    from aind_smartspim_data_transformation_spark.config.settings import (
        ImagingJobSettings,
    )
    from aind_smartspim_data_transformation_spark.imaging.job import (
        run_imaging_job,
    )
    from tests.imaging_fixtures import make_dataset

    roots = {}
    for comp, name in ((1, "plain"), (32773, "pb")):
        root = tmp_path / name
        vols = make_dataset(root, height=16, width=20, fmt="tif")
        if comp != 1:  # re-encode every slice as PackBits
            for p in sorted((root / "SmartSPIM").rglob("*.tif")):
                plane = decode_tiff_gray(p.read_bytes())
                p.write_bytes(encode_tiff_gray(plane, compression=comp))
        out = tmp_path / f"out_{name}"
        resp = run_imaging_job(
            spark,
            ImagingJobSettings(
                input_source=str(root),
                output_directory=str(out),
                chunk_size=[64, 8, 64],  # multi-band y to hit windows
                downsample_levels=2,
            ),
        )
        assert resp["status_code"] == 200
        roots[name] = {
            str(p.relative_to(out)): p.read_bytes()
            for p in sorted(out.rglob("*"))
            if p.is_file()
        }
    assert roots["plain"] == roots["pb"]


# ---------------------------------------------------------------------------
# Tiled TIFF (TIFF 6.0 §15, tags 322-325) — round 7
# ---------------------------------------------------------------------------
@given(_images(), st.sampled_from([1, 5, 8, 32773]), st.data())
@settings(max_examples=50, deadline=None)
def test_tiff_tiled_roundtrip_and_window(arr, compression, data):
    enc = encode_tiff_gray(arr, compression=compression, tile=(16, 16))
    assert np.array_equal(decode_tiff_gray(enc), arr)
    stop = data.draw(st.integers(1, arr.shape[0]))
    start = data.draw(st.integers(0, stop))
    assert np.array_equal(
        decode_tiff_gray(enc, row_stop=stop, row_start=start),
        arr[start:stop],
    )


def test_tiff_tiled_window_never_reads_outside_tile_rows():
    """Destructive proof of the tile-window contract: corrupt every
    tile whose row range is OUTSIDE the requested window — the window
    must still decode exactly (those tiles are never decompressed)."""
    import struct as _s

    rng = np.random.default_rng(9)
    arr = rng.integers(0, 65535, size=(48, 40)).astype(np.uint16)
    enc = bytearray(encode_tiff_gray(arr, compression=8, tile=(16, 16)))
    from aind_smartspim_data_transformation_spark.sources.tiff_codec import (
        _read_ifd,
    )

    tags, _ = _read_ifd(bytes(enc))
    offsets, counts = tags[324], tags[325]
    across = -(-40 // 16)
    # window = rows [16, 32) → tile row 1; corrupt tile rows 0 and 2
    for ty in (0, 2):
        for tx in range(across):
            idx = ty * across + tx
            enc[offsets[idx] : offsets[idx] + counts[idx]] = b"\xff" * counts[idx]
    got = decode_tiff_gray(bytes(enc), row_start=16, row_stop=32)
    assert np.array_equal(got, arr[16:32])
    with pytest.raises(Exception):
        decode_tiff_gray(bytes(enc))  # full decode must hit the damage


def test_tiff_tiled_with_predictor_and_big_endian():
    """Hand-built MM tiled file with predictor 2: per-tile-row
    differencing inverted, big-endian samples swapped."""
    import struct as _s

    from aind_smartspim_data_transformation_spark.sources.tiff_codec import (
        _packbits_compress,
    )

    arr = np.tile(np.arange(32, dtype=np.uint16) * 3, (20, 1))  # 20x32
    tl, tw = 16, 16
    tiles = []
    for ty in range(2):
        for tx in range(2):
            block = arr[ty * tl : (ty + 1) * tl, tx * tw : (tx + 1) * tw]
            full = np.zeros((tl, tw), dtype=np.uint16)
            full[: block.shape[0], : block.shape[1]] = block
            diff = np.empty_like(full)
            diff[:, 0] = full[:, 0]
            diff[:, 1:] = (
                full[:, 1:].astype(np.int64) - full[:, :-1]
            ).astype(np.uint16)
            tiles.append(diff.astype(">u2").tobytes())
    offs, cur = [], 8
    for t in tiles:
        offs.append(cur)
        cur += len(t)
    off_arr, cnt_arr, ifd_off = cur, cur + 16, cur + 32
    entries = [
        (256, 4, 1, 32), (257, 4, 1, 20), (258, 3, 1, 16),
        (259, 3, 1, 1), (262, 3, 1, 1), (277, 3, 1, 1),
        (317, 3, 1, 2),
        (322, 4, 1, tw), (323, 4, 1, tl),
        (324, 4, 4, off_arr), (325, 4, 4, cnt_arr),
    ]
    out = bytearray(b"MM" + _s.pack(">HI", 42, ifd_off))
    for t in tiles:
        out += t
    out += _s.pack(">4I", *offs)
    out += _s.pack(">4I", *(len(t) for t in tiles))
    out += _s.pack(">H", len(entries))
    for tag, typ, count, value in sorted(entries):
        out += _s.pack(">HHI", tag, typ, count)
        if typ == 3:  # SHORT: LEFT-justified in the big-endian field
            out += _s.pack(">HH", value, 0)
        else:
            out += _s.pack(">I", value)
    out += _s.pack(">I", 0)
    assert np.array_equal(decode_tiff_gray(bytes(out)), arr)


def test_tiled_and_interlaced_stack_e2e(spark, tmp_path):
    """An acquisition mixing tiled TIFF and Adam7 PNG slices flows
    through the fused job into a store identical to the plain
    acquisition's — the full envelope closes end-to-end."""
    from aind_smartspim_data_transformation_spark.config.settings import (
        ImagingJobSettings,
    )
    from aind_smartspim_data_transformation_spark.imaging.job import (
        run_imaging_job,
    )
    from aind_smartspim_data_transformation_spark.sources.png_codec import (
        encode_png_gray,
    )
    from tests.imaging_fixtures import make_dataset

    trees = {}
    for exotic in (False, True):
        name = "exotic" if exotic else "plain"
        root = tmp_path / name
        make_dataset(root, height=32, width=32, fmt="mixed")
        if exotic:  # re-encode: TIFFs tiled, PNGs interlaced
            for p in sorted((root / "SmartSPIM").rglob("*")):
                if p.suffix == ".tif":
                    plane = decode_tiff_gray(p.read_bytes())
                    p.write_bytes(
                        encode_tiff_gray(plane, compression=8, tile=(16, 16))
                    )
                elif p.suffix == ".png":
                    plane = decode_png_gray(p.read_bytes())
                    p.write_bytes(encode_png_gray(plane, interlace=True))
        out = tmp_path / f"out_{name}"
        resp = run_imaging_job(
            spark,
            ImagingJobSettings(
                input_source=str(root),
                output_directory=str(out),
                chunk_size=[64, 16, 64],  # multi-band y
                downsample_levels=2,
            ),
        )
        assert resp["status_code"] == 200
        trees[name] = {
            str(p.relative_to(out)): p.read_bytes()
            for p in sorted(out.rglob("*"))
            if p.is_file()
        }
    assert trees["plain"] == trees["exotic"]
