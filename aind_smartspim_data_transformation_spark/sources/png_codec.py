"""Pure-python PNG codec for grayscale microscopy slices.

The reference reads 16-bit grayscale PNG/TIFF slices through pims/dask
(`/root/reference/src/aind_smartspim_data_transformation/io/readers.py:112-184`);
this container has no pillow/imagecodecs, so slice decode is backed by
this minimal codec built on ``zlib`` + ``numpy`` only (PNG is a public
spec: RFC 2083).  Supports what the imaging plane needs:

- decode: 8/16-bit grayscale (colortype 0), filters 0-4, sequential
  AND Adam7-interlaced (r7: each pass unfilters like a standalone
  image and scatters onto the pixel grid);
- encode: 8/16-bit grayscale, any single filter type 0-4 (non-zero
  filters exist to build real filtered test vectors), optional Adam7
  interlacing (fixture support for the decoder's interlace path);
- header probe: width/height/bitdepth without decompressing (the
  reference's shape-sniff operator, SURVEY.md §2.1 S4).

16-bit samples are big-endian per the PNG spec.

Decode is vectorized for every filter type.  Filters 0 (none) and
2 (up) are whole-row numpy ops; filter 1 (sub) is a per-lane cumsum;
filters 3 (average) and 4 (Paeth) have an intra-row sequential
dependency that no row-wise expression removes, so contiguous bands of
3/4 rows are decoded by an **anti-diagonal wavefront**: cell (y, x)
depends only on (y, x-1), (y-1, x), (y-1, x-1), so every cell on the
anti-diagonal y + x = d is computable at once from diagonals d-1/d-2 —
O(h + w) numpy steps on vectors up to min(h, w) long instead of
O(h · w) interpreted-Python pixel visits.  Short bands (< _WAVE_MIN
rows) fall back to the scalar loop, which wins on per-step overhead.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    crc = zlib.crc32(tag + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + tag + payload + struct.pack(">I", crc)


def _filter_body(lines: np.ndarray, filter_type: int, bpp: int) -> bytes:
    """Apply one PNG filter to every scanline of ``lines`` ((h, stride)
    uint8) and prepend the filter byte — one standalone image's (or
    Adam7 pass's) serialized body.  Encoding predicts from RAW neighbor
    bytes, so all five filters vectorize with plain shifts."""
    h = lines.shape[0]
    raw = lines.astype(np.int16)
    left = np.zeros_like(raw)
    left[:, bpp:] = raw[:, :-bpp]
    up = np.zeros_like(raw)
    up[1:] = raw[:-1]
    ul = np.zeros_like(raw)
    ul[1:, bpp:] = raw[:-1, :-bpp]
    if filter_type == 0:
        filt = raw
    elif filter_type == 1:
        filt = raw - left
    elif filter_type == 2:
        filt = raw - up
    elif filter_type == 3:
        filt = raw - ((left + up) >> 1)
    else:
        filt = raw - _paeth_vec(left, up, ul)
    return np.concatenate(
        [np.full((h, 1), filter_type, dtype=np.uint8), (filt & 0xFF).astype(np.uint8)],
        axis=1,
    ).tobytes()


def encode_png_gray(
    arr: np.ndarray,
    compress_level: int = 1,
    filter_type: int = 0,
    interlace: bool = False,
) -> bytes:
    """Encode a 2-D uint8/uint16 array as a grayscale PNG.

    ``filter_type`` applies one PNG filter (0 none / 1 sub / 2 up /
    3 average / 4 Paeth) to every scanline.  ``interlace=True`` writes
    an Adam7-interlaced stream (each of the seven passes filtered
    independently, like a standalone image) — fixture support for the
    decoder's interlace path.
    """
    if arr.ndim != 2:
        raise ValueError(f"expected 2-D array, got shape {arr.shape}")
    if arr.dtype == np.uint8:
        bitdepth, payload = 8, arr
    elif arr.dtype == np.uint16:
        bitdepth, payload = 16, arr.astype(">u2")
    else:
        raise ValueError(f"unsupported dtype {arr.dtype} (uint8/uint16 only)")
    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError(f"unknown PNG filter type {filter_type}")
    h, w = arr.shape
    bpp = bitdepth // 8
    stride = w * bpp
    ihdr = struct.pack(
        ">IIBBBBB", w, h, bitdepth, 0, 0, 0, 1 if interlace else 0
    )
    lines = np.frombuffer(payload.tobytes(), dtype=np.uint8).reshape(h, stride)
    if interlace:
        lanes = lines.reshape(h, w, bpp)
        body = b"".join(
            _filter_body(
                np.ascontiguousarray(lanes[sy::dy, sx::dx]).reshape(
                    lanes[sy::dy, sx::dx].shape[0], -1
                ),
                filter_type,
                bpp,
            )
            for sx, sy, dx, dy in _ADAM7
            if lanes[sy::dy, sx::dx].size
        )
    else:
        body = _filter_body(lines, filter_type, bpp)
    idat = zlib.compress(body, compress_level)
    return _SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def probe_png_header(data: bytes) -> tuple[int, int, int]:
    """(width, height, bitdepth) from the IHDR without decompressing."""
    if data[:8] != _SIG:
        raise ValueError("not a PNG file")
    w, h, bitdepth, colortype, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", data[16:29]
    )
    if colortype != 0:
        raise ValueError(f"only grayscale (colortype 0) supported, got {colortype}")
    # a zeroed/garbage IHDR must fail HERE: the streaming prefix decoder
    # legitimately skips the zlib tail, so a 0×0 "image" would otherwise
    # decode to an empty array instead of a dead-letterable error
    if w <= 0 or h <= 0 or bitdepth not in (8, 16):
        raise ValueError(f"invalid PNG IHDR: {w}x{h} bitdepth={bitdepth}")
    # Adam7 (interlace=1) is decodable since r7 — each pass unfilters
    # like a standalone image and scatters onto the pixel grid.
    # Nonzero compression/filter methods are not defined by the PNG
    # spec at all; interlace methods beyond Adam7 don't exist.
    if comp != 0 or filt != 0 or interlace not in (0, 1):
        raise ValueError(
            f"unsupported PNG IHDR methods: compression={comp} "
            f"filter={filt} interlace={interlace}"
        )
    return w, h, bitdepth


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _paeth_vec(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Vectorized Paeth predictor (values fit int16: a+b-c ∈ [-255, 510])."""
    p = a + b - c
    pa = np.abs(p - a)
    pb = np.abs(p - b)
    pc = np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


# Bands of filter-3/4 rows shorter than this decode faster with the
# scalar loop (the wavefront's per-diagonal numpy dispatch overhead
# dominates on 1-2 row vectors).
_WAVE_MIN = 8


def _decode_band_scalar(
    cur: np.ndarray, fts: np.ndarray, prev: np.ndarray, bpp: int
) -> np.ndarray:
    """Per-pixel reference decode for a short filter-3/4 band."""
    k, stride = cur.shape
    out = np.zeros((k, stride), dtype=np.int64)
    pr = prev
    for y in range(k):
        rec = cur[y].astype(np.int64)
        if fts[y] == 3:
            for x in range(stride):
                left = rec[x - bpp] if x >= bpp else 0
                rec[x] = (rec[x] + (left + pr[x]) // 2) & 0xFF
        else:
            for x in range(stride):
                left = rec[x - bpp] if x >= bpp else 0
                ul = pr[x - bpp] if x >= bpp else 0
                rec[x] = (rec[x] + _paeth(int(left), int(pr[x]), int(ul))) & 0xFF
        out[y] = rec
        pr = rec
    return out


def _decode_band_wavefront(
    cur: np.ndarray, fts: np.ndarray, prev: np.ndarray, bpp: int
) -> np.ndarray:
    """Anti-diagonal wavefront decode of a filter-3/4 row band.

    Layout trick: skew each row r right by r columns, so the cells of
    anti-diagonal d = r + i all live in ONE column of the skewed array
    and every step is plain column slicing (no gather/scatter).  Row 0
    of the skew holds the already-decoded row above the band; +2 column
    offset zero-pads the virtual i = -1 / i = -2 neighbors.
    """
    k, stride = cur.shape
    w = stride // bpp
    # S[r, i + r + 2, lane] = decoded byte; r=0 is the prior row.
    S = np.zeros((k + 1, w + k + 2, bpp), dtype=np.int16)
    S[0, 2 : w + 2] = prev.reshape(w, bpp)
    curS = np.zeros_like(S)
    for r in range(1, k + 1):
        curS[r, r + 2 : r + 2 + w] = cur[r - 1].reshape(w, bpp)
    is_avg = (fts == 3)[:, None]  # broadcasts over the lane dim of (rows, lanes)
    all_avg = bool(is_avg.all())
    all_paeth = bool((~is_avg).all())
    for d in range(1, k + w):
        lo = max(1, d - w + 1)
        hi = min(k, d)  # inclusive
        c = d + 2
        left = S[lo : hi + 1, c - 1]
        up = S[lo - 1 : hi, c - 1]
        ul = S[lo - 1 : hi, c - 2]
        if all_avg:
            pred = (left + up) >> 1
        elif all_paeth:
            # fused Paeth: p-a = b-c, p-b = a-c, p-c = (a-c)+(b-c),
            # so two subtractions feed all three distances.
            t1 = up - ul
            t2 = left - ul
            pa = np.abs(t1)
            pb = np.abs(t2)
            pc = np.abs(t1 + t2)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul)
            )
        else:
            pred = np.where(
                is_avg[lo - 1 : hi],
                (left + up) >> 1,
                _paeth_vec(left, up, ul),
            )
        S[lo : hi + 1, c] = (curS[lo : hi + 1, c] + pred) & 0xFF
    out = np.empty((k, stride), dtype=np.int64)
    for r in range(1, k + 1):
        out[r - 1] = S[r, r + 2 : r + 2 + w].reshape(stride)
    return out


def _unfilter(rows: np.ndarray, w: int, bpp: int) -> np.ndarray:
    """Sequential unfilter of ``rows`` ((h, stride+1) uint8: filter
    byte + scanline) → (h, stride) uint8 reconstructed bytes.  Shared
    by the sequential decode and each Adam7 pass (a pass is filtered
    exactly like a standalone image)."""
    h = rows.shape[0]
    stride = w * bpp
    ftypes = rows[:, 0]
    cur = rows[:, 1:]
    bad = set(np.unique(ftypes)) - {0, 1, 2, 3, 4} if h else set()
    if bad:
        raise ValueError(f"unknown PNG filter type {bad.pop()}")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    y = 0
    while y < h:
        ft = ftypes[y]
        if ft == 0:
            rec = cur[y].astype(np.int64)
        elif ft == 2:  # up — whole-row add
            rec = (cur[y] + prev) & 0xFF
        elif ft == 1:  # sub — per-lane cumulative sum
            lanes = cur[y].reshape(w, bpp).astype(np.int64)
            rec = (np.cumsum(lanes, axis=0) & 0xFF).reshape(stride)
        else:  # 3/4 — decode the maximal contiguous band at once
            y2 = y
            while y2 < h and ftypes[y2] in (3, 4):
                y2 += 1
            band_fts = ftypes[y:y2]
            if y2 - y >= _WAVE_MIN:
                band = _decode_band_wavefront(cur[y:y2], band_fts, prev, bpp)
            else:
                band = _decode_band_scalar(cur[y:y2], band_fts, prev, bpp)
            out[y:y2] = band
            prev = band[-1]
            y = y2
            continue
        out[y] = rec
        prev = rec
        y += 1
    return out


# Adam7 pass grid (PNG spec §8.2): (x_start, y_start, x_step, y_step)
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _inflate_idat(data: bytes, target: int | None = None) -> bytearray:
    """Inflate the IDAT payloads in stream order.  Without ``target``
    the whole stream is inflated, so zlib verifies its adler32 at the
    stream end; with ``target`` inflation stops once that many bytes
    are in (a row prefix)."""
    dec = zlib.decompressobj()
    raw = bytearray()
    off = 8
    while off < len(data) and (target is None or len(raw) < target):
        (length,) = struct.unpack(">I", data[off : off + 4])
        tag = data[off + 4 : off + 8]
        if tag == b"IDAT":
            raw += dec.decompress(data[off + 8 : off + 8 + length])
        off += 12 + length
        if tag == b"IEND":
            break
    raw += dec.flush()
    return raw


def _decode_adam7(data: bytes, w: int, h: int, bitdepth: int) -> np.ndarray:
    """Full decode of an Adam7-interlaced grayscale PNG: the stream is
    the concatenation of seven sub-images (empty passes absent), each
    filtered independently — unfilter each with the shared
    :func:`_unfilter` and scatter onto the (h, w) grid."""
    bpp = bitdepth // 8
    raw = _inflate_idat(data)
    out8 = np.zeros((h, w * bpp), dtype=np.uint8)
    pos = 0
    for sx, sy, dx, dy in _ADAM7:
        pw = -(-(w - sx) // dx) if w > sx else 0
        ph = -(-(h - sy) // dy) if h > sy else 0
        if pw <= 0 or ph <= 0:
            continue
        pstride = pw * bpp
        size = ph * (pstride + 1)
        if pos + size > len(raw):
            raise ValueError(
                f"PNG pixel stream truncated in Adam7 pass "
                f"({len(raw) - pos} bytes for a {pw}x{ph} sub-image)"
            )
        rows = np.frombuffer(raw[pos : pos + size], dtype=np.uint8).reshape(
            ph, pstride + 1
        )
        pos += size
        sub = _unfilter(rows, pw, bpp)  # (ph, pw*bpp)
        lanes = sub.reshape(ph, pw, bpp)
        out8.reshape(h, w, bpp)[sy::dy, sx::dx] = lanes
    if pos != len(raw):
        raise ValueError(
            f"PNG pixel stream is {len(raw)} bytes but the Adam7 "
            f"layout of a {w}x{h} image implies exactly {pos}"
        )
    if bitdepth == 16:
        return (
            out8.reshape(h, w, 2)
            .view(np.dtype(">u2"))
            .reshape(h, w)
            .astype(np.uint16)
        )
    return out8.reshape(h, w)


def decode_png_gray(
    data: bytes, row_stop: int | None = None, row_start: int = 0
) -> np.ndarray:
    """Decode a grayscale PNG into a 2-D uint8/uint16 array.

    ``row_stop``: decode only rows ``[0, row_stop)`` — PNG filters
    reference the PREVIOUS row, so a prefix is decodable standalone,
    and the zlib stream is inflated only as far as the prefix needs:
    inflate+unfilter cost scales with row_stop, not the full height
    (the fused ingest's band tasks, imaging/fused.py).  ``row_start``
    only slices the returned window to ``[row_start, row_stop)`` —
    PNG's sequential zlib stream cannot skip leading rows (unlike
    TIFF strips) — it exists so callers can use one signature for
    both codecs via ``decode_image_gray``.  Full decode (defaults) is
    byte-identical to the historical path.

    Adam7-interlaced streams (r7) decode by unfiltering each of the
    seven passes as a standalone image and scattering onto the pixel
    grid; rows interleave across passes, so a row WINDOW on an
    interlaced stream costs a full decode (sliced afterwards) — fine
    for the rare interlaced input, and still correct."""
    w, h, bitdepth = probe_png_header(data)
    interlaced = data[28] == 1
    if row_stop is None or row_stop > h:
        row_stop = h
    if not 0 <= row_start <= row_stop:
        raise ValueError(f"bad row window [{row_start}, {row_stop})")
    bpp = bitdepth // 8
    stride = w * bpp
    if interlaced:
        return _decode_adam7(data, w, h, bitdepth)[row_start:row_stop]
    need = row_stop * (stride + 1)
    # inflate IDAT payloads streaming, stopping once the prefix is in.
    # A FULL decode keeps inflating through the stream end instead: the
    # zlib finalization verifies the adler32 checksum, and an exact
    # length check below refuses a pixel stream longer than the IHDR
    # height claims (silently cropping a corrupt oversized stream would
    # feed truncated data into the store instead of dead-lettering).
    full = row_stop == h
    raw = _inflate_idat(data, None if full else need)
    if len(raw) < need:
        raise ValueError(
            f"PNG pixel stream truncated: {len(raw)} bytes for "
            f"{row_stop} rows ({need} needed)"
        )
    if full and len(raw) != need:
        raise ValueError(
            f"PNG pixel stream is {len(raw)} bytes but the IHDR "
            f"{w}x{h} implies exactly {need}"
        )
    h = row_stop
    out = _unfilter(
        np.frombuffer(bytes(raw[:need]), dtype=np.uint8).reshape(
            h, stride + 1
        ),
        w,
        bpp,
    )
    if bitdepth == 16:
        full = (
            out.reshape(h, w, 2)
            .view(np.dtype(">u2"))
            .reshape(h, w)
            .astype(np.uint16)
        )
    else:
        full = out.reshape(h, w)
    return full[row_start:]
