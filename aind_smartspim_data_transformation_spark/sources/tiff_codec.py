"""Pure-python baseline-TIFF codec for grayscale microscopy slices.

The reference reads PNG *and* TIFF stacks through pims
(`/root/reference/src/aind_smartspim_data_transformation/io/readers.py:112-184`;
`compress/png_to_zarr.py:459-500` builds a lazy per-file TIFF reader).
This container has no tifffile/pillow, so slice decode is backed by
this minimal codec built on ``struct`` + ``zlib`` + ``numpy`` only
(TIFF 6.0 is a public Adobe/ISO spec).  Supports what the imaging
plane needs:

- decode: single-IFD grayscale (PhotometricInterpretation 0/1),
  1 sample/pixel, 8/16-bit, STRIP- or TILE-organized (TIFF 6.0 §15 —
  tiles decompress independently, edge tiles padded to full tile
  size), compression none (1), Deflate (8 / legacy 32946), LZW (5;
  TIFF 6.0 §13 — MSB-first variable-width codes with early change) or
  PackBits (32773; TIFF 6.0 §9 run-length), optional
  horizontal-differencing predictor (tag 317 = 2, applied per tile row
  in tiled layouts), both byte orders (II/MM);
- encode: uint8/uint16 grayscale, none/Deflate/LZW/PackBits, single-
  or multi-strip OR tiled, II order (for fixtures and round-trips);
- header probe: width/height/bitdepth from the IFD without touching
  strip data (same contract as ``probe_png_header``).

Tiled TIFFs, palettes, multi-sample images, and JPEG compression raise
``ValueError`` — loudly unsupported rather than silently wrong.  LZW
decode is a pure-python code loop (fallback for microscopy exports);
Deflate rides zlib's C path and is the fast option.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8}


def _read_ifd(data: bytes) -> tuple[dict[int, list[int]], str]:
    """Parse the first IFD → ({tag: [values...]}, endian_prefix)."""
    if data[:2] == b"II":
        en = "<"
    elif data[:2] == b"MM":
        en = ">"
    else:
        raise ValueError("not a TIFF file")
    (magic,) = struct.unpack(en + "H", data[2:4])
    if magic != 42:
        raise ValueError(f"bad TIFF magic {magic} (BigTIFF unsupported)")
    (ifd_off,) = struct.unpack(en + "I", data[4:8])
    (n_entries,) = struct.unpack(en + "H", data[ifd_off : ifd_off + 2])
    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        off = ifd_off + 2 + 12 * i
        tag, typ, count = struct.unpack(en + "HHI", data[off : off + 8])
        size = _TYPE_SIZES.get(typ, 1) * count
        if size <= 4:
            payload = data[off + 8 : off + 8 + size]
        else:
            (val_off,) = struct.unpack(en + "I", data[off + 8 : off + 12])
            payload = data[val_off : val_off + size]
        if typ == 3:  # SHORT
            vals = list(struct.unpack(en + f"{count}H", payload))
        elif typ == 4:  # LONG
            vals = list(struct.unpack(en + f"{count}I", payload))
        elif typ == 1:  # BYTE
            vals = list(payload)
        else:  # rational/ascii/etc — not needed, keep raw length only
            vals = []
        tags[tag] = vals
    return tags, en


_LZW_CLEAR, _LZW_EOI = 256, 257


def _lzw_decompress(data: bytes) -> bytes:
    """TIFF-variant LZW (TIFF 6.0 §13): MSB-first bit packing, 9→12-bit
    variable-width codes, CLEAR=256 / EOI=257, EARLY CHANGE: the
    encoder widens when its next free code reaches 2^w - 1 (511/1023/
    2047 — one sooner than plain LZW).  The decoder's table lags the
    encoder's by exactly one append (it reconstructs entry k while
    reading code k+1), so it must widen one append earlier still: when
    ITS table size reaches 2^w - 2 (510/1022/2046).  Verified by
    round-trip property tests that cross every width boundary and the
    4094-entry table reset."""
    out = bytearray()
    table: list[bytes] = []
    width = 9
    prev: bytes | None = None
    buf = 0  # MSB-first bit accumulator
    nbuf = 0
    pos = 0
    n = len(data)
    while True:
        while nbuf < width:
            if pos >= n:
                return bytes(out)  # truncated stream: EOI implied
            buf = (buf << 8) | data[pos]
            pos += 1
            nbuf += 8
        nbuf -= width
        code = (buf >> nbuf) & ((1 << width) - 1)
        if code == _LZW_EOI:
            return bytes(out)
        if code == _LZW_CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            width = 9
            prev = None
            continue
        if prev is None:
            if code >= 256:
                raise ValueError("LZW stream must start with CLEAR or literal")
            entry = table[code] if table else bytes([code])
            if not table:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]  # KwKwK case
        else:
            raise ValueError("corrupt LZW stream (code beyond table)")
        out += entry
        if prev is not None:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) - 2 and width < 12:
                width += 1
        prev = entry


def _lzw_compress(data: bytes) -> bytes:
    """TIFF-variant LZW encoder (fixture/round-trip support)."""
    out = bytearray()
    buf = 0
    nbuf = 0

    def emit(code: int, width: int) -> None:
        nonlocal buf, nbuf
        buf = (buf << width) | code
        nbuf += width
        while nbuf >= 8:
            nbuf -= 8
            out.append((buf >> nbuf) & 0xFF)

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    emit(_LZW_CLEAR, width)
    omega = b""
    for b in data:
        cand = omega + bytes([b])
        if cand in table:
            omega = cand
            continue
        emit(table[omega], width)
        table[cand] = next_code
        next_code += 1
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        elif next_code == 4094:  # 12-bit table nearly full: reset
            emit(_LZW_CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        omega = bytes([b])
    if omega:
        emit(table[omega], width)
        # The decoder appends a table entry for this final code even
        # though the encoder has nothing to add (no next symbol), and
        # may WIDEN as a result — count the phantom append so EOI is
        # written at the width the decoder will read it with.
        next_code += 1
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
    emit(_LZW_EOI, width)
    if nbuf:
        out.append((buf << (8 - nbuf)) & 0xFF)  # flush, zero-padded
    return bytes(out)


def _packbits_decompress(data: bytes) -> bytes:
    """TIFF 6.0 §9 PackBits: control byte b → b<128 copy b+1 literals;
    b>128 repeat the next byte 257−b times; b==128 no-op.  Pure byte-
    stream RLE — row boundaries are an ENCODER discipline (rows packed
    separately), invisible to the decoder."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        b = data[i]
        i += 1
        if b == 128:  # no-op filler
            continue
        if b < 128:
            cnt = b + 1
            if i + cnt > n:
                raise ValueError("truncated PackBits literal run")
            out += data[i : i + cnt]
            i += cnt
        else:
            if i >= n:
                raise ValueError("truncated PackBits replicate run")
            out += data[i : i + 1] * (257 - b)
            i += 1
    return bytes(out)


def _packbits_compress(data: bytes) -> bytes:
    """PackBits encoder for one row (TIFF 6.0 §9: rows pack
    separately).  Replicate runs ≥2 (up to 128); literals break when a
    ≥3-byte run starts (the spec's recommended heuristic)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        j = i
        while j < n - 1 and data[j] == data[j + 1] and j - i < 127:
            j += 1
        run = j - i + 1
        if run >= 2:
            out.append(257 - run)
            out.append(data[i])
            i = j + 1
            continue
        j = i
        while j < n and j - i < 128:
            if j + 2 < n and data[j] == data[j + 1] == data[j + 2]:
                break
            j += 1
        out.append(j - i - 1)
        out += data[i:j]
        i = j
    return bytes(out)


def probe_tiff_header(data: bytes) -> tuple[int, int, int]:
    """(width, height, bitdepth) from the IFD without reading strips."""
    tags, _ = _read_ifd(data)
    try:
        w = tags[256][0]
        h = tags[257][0]
    except (KeyError, IndexError):
        raise ValueError("TIFF missing ImageWidth/ImageLength") from None
    # zero/garbage extents must fail HERE with a dead-letterable error
    # (the PNG probe's contract); they also guarantee the strip-window
    # arithmetic below never sees rows_per_strip == 0
    if w <= 0 or h <= 0:
        raise ValueError(f"invalid TIFF extents: {w}x{h}")
    bits = tags.get(258, [8])[0]
    spp = tags.get(277, [1])[0]
    photo = tags.get(262, [1])[0]
    if spp != 1 or photo not in (0, 1):
        raise ValueError(
            f"only 1-sample grayscale TIFF supported "
            f"(samples={spp}, photometric={photo})"
        )
    if (322 in tags) != (323 in tags):
        raise ValueError("tiled TIFF needs both TileWidth and TileLength")
    if bits not in (8, 16):
        raise ValueError(f"unsupported TIFF bit depth {bits}")
    return w, h, bits


def decode_tiff_gray(
    data: bytes, row_stop: int | None = None, row_start: int = 0
) -> np.ndarray:
    """Decode a grayscale strip TIFF into a 2-D uint8/uint16 array.

    ``row_stop`` / ``row_start``: decode only rows ``[row_start,
    row_stop)``.  Strips are independent, so strips entirely BELOW
    ``row_start`` are never read (RowsPerStrip locates the first
    needed strip) and decompression stops at the first strip past
    ``row_stop`` — a middle band of a multi-strip plane costs only its
    own strips.  Tiled layouts (TIFF 6.0 §15) decode only the tile
    ROWS intersecting the window (all tile columns of those rows).
    The horizontal predictor is per-row (per tile row when tiled) and
    unaffected.  Full decode (defaults) is byte-identical to the
    historical path."""
    w, h, bits = probe_tiff_header(data)
    if row_stop is None or row_stop > h:
        row_stop = h
    if not 0 <= row_start <= row_stop:
        raise ValueError(f"bad row window [{row_start}, {row_stop})")
    tags, en = _read_ifd(data)
    compression = tags.get(259, [1])[0]
    predictor = tags.get(317, [1])[0]
    if compression not in (1, 5, 8, 32946, 32773):
        raise ValueError(
            f"unsupported TIFF compression {compression} "
            f"(none/lzw/deflate/packbits only)"
        )
    if predictor not in (1, 2):
        raise ValueError(f"unsupported TIFF predictor {predictor}")
    if 322 in tags:
        return _decode_tiled(
            data, tags, en, w, h, bits, compression, predictor,
            row_start, row_stop,
        )
    offsets = tags.get(273, [])
    counts = tags.get(279, [])
    if not offsets:
        raise ValueError("TIFF missing StripOffsets")
    if not counts:
        raise ValueError("TIFF missing StripByteCounts")
    rps = tags.get(278, [h])[0] or h
    s0 = row_start // rps  # first strip overlapping the window
    base_row = s0 * rps
    dtype = np.dtype(en + ("u2" if bits == 16 else "u1"))
    need = (row_stop - base_row) * w * dtype.itemsize
    raw = bytearray()
    for off, cnt in zip(offsets[s0:], counts[s0:]):
        if len(raw) >= need:
            break
        strip = data[off : off + cnt]
        raw += _decompress_segment(strip, compression)
    if len(raw) < need:
        raise ValueError(
            f"TIFF pixel stream truncated: {len(raw)} bytes for rows "
            f"[{base_row}, {row_stop}) ({need} needed)"
        )
    n_rows = row_stop - base_row
    arr = np.frombuffer(bytes(raw), dtype=dtype, count=n_rows * w).reshape(
        n_rows, w
    )
    if predictor == 2:  # horizontal differencing: cumsum per row
        native = arr.astype(np.int64)
        arr = (np.cumsum(native, axis=1) & ((1 << bits) - 1)).astype(dtype)
    out = arr.astype(np.uint16 if bits == 16 else np.uint8)
    return out[row_start - base_row :]


def _decompress_segment(seg: bytes, compression: int) -> bytes:
    """One strip's or tile's byte stream → raw pixel bytes."""
    if compression == 1:
        return seg
    if compression == 5:
        return _lzw_decompress(seg)
    if compression == 32773:
        return _packbits_decompress(seg)
    return zlib.decompress(seg)


def _decode_tiled(
    data: bytes,
    tags: dict[int, list[int]],
    en: str,
    w: int,
    h: int,
    bits: int,
    compression: int,
    predictor: int,
    row_start: int,
    row_stop: int,
) -> np.ndarray:
    """Tile-organized decode (TIFF 6.0 §15): tiles are laid out
    left-to-right, top-to-bottom, each compressed independently and
    PADDED in the file to the full tile size at image edges.  Only the
    tile rows intersecting ``[row_start, row_stop)`` are read."""
    tw = tags[322][0]
    tl = tags[323][0]
    if tw <= 0 or tl <= 0:
        raise ValueError(f"invalid TIFF tile size {tw}x{tl}")
    offsets = tags.get(324, [])
    counts = tags.get(325, [])
    if not offsets or not counts:
        raise ValueError("tiled TIFF missing TileOffsets/TileByteCounts")
    across = -(-w // tw)
    down = -(-h // tl)
    if len(offsets) < across * down or len(counts) < across * down:
        raise ValueError(
            f"tiled TIFF has {len(offsets)} tiles for a "
            f"{across}x{down} grid"
        )
    dtype = np.dtype(en + ("u2" if bits == 16 else "u1"))
    out_dtype = np.uint16 if bits == 16 else np.uint8
    out = np.zeros((row_stop - row_start, w), dtype=out_dtype)
    tile_px = tl * tw
    for ty in range(row_start // tl, -(-row_stop // tl)):
        y0 = ty * tl
        for tx in range(across):
            idx = ty * across + tx
            seg = data[offsets[idx] : offsets[idx] + counts[idx]]
            raw = _decompress_segment(seg, compression)
            if len(raw) < tile_px * dtype.itemsize:
                raise ValueError(
                    f"TIFF tile ({ty},{tx}) truncated: {len(raw)} bytes "
                    f"for {tile_px} px"
                )
            tile = np.frombuffer(raw, dtype=dtype, count=tile_px).reshape(
                tl, tw
            )
            if predictor == 2:  # horizontal differencing per tile row
                native = tile.astype(np.int64)
                tile = (np.cumsum(native, axis=1) & ((1 << bits) - 1)).astype(
                    dtype
                )
            # crop the file-side padding to image bounds, then to the
            # requested row window
            ylo = max(y0, row_start)
            yhi = min(y0 + tl, min(h, row_stop))
            xhi = min(tw, w - tx * tw)
            if yhi <= ylo:
                continue
            out[ylo - row_start : yhi - row_start, tx * tw : tx * tw + xhi] = (
                tile[ylo - y0 : yhi - y0, :xhi].astype(out_dtype)
            )
    return out


def encode_tiff_gray(
    arr: np.ndarray,
    compression: int = 1,
    rows_per_strip: int | None = None,
    tile: tuple[int, int] | None = None,
) -> bytes:
    """Encode a 2-D uint8/uint16 array as an II strip or tiled TIFF.

    ``compression``: 1 (none), 5 (LZW), 8 (Deflate) or 32773 (PackBits
    — each row packed separately per TIFF 6.0 §9).
    ``rows_per_strip``: ``None`` = one strip (historical layout);
    otherwise the plane splits into independently-compressed strips of
    that many rows — the layout that lets ``decode_tiff_gray`` read a
    row window without touching other strips.
    ``tile``: (tile_length, tile_width) — TIFF 6.0 §15 tiled layout
    instead of strips (dims must be multiples of 16 per spec; edge
    tiles are zero-padded to full tile size in the file).  Mutually
    exclusive with ``rows_per_strip``.
    """
    if arr.ndim != 2:
        raise ValueError(f"expected 2-D array, got shape {arr.shape}")
    if arr.dtype == np.uint8:
        bits = 8
    elif arr.dtype == np.uint16:
        bits = 16
    else:
        raise ValueError(f"unsupported dtype {arr.dtype} (uint8/uint16 only)")
    if compression not in (1, 5, 8, 32773):
        raise ValueError(f"unsupported compression {compression}")
    if tile is not None and rows_per_strip is not None:
        raise ValueError("tile and rows_per_strip are mutually exclusive")
    h, w = arr.shape
    native = np.ascontiguousarray(arr.astype("<u2" if bits == 16 else "u1"))
    row_bytes = w * (2 if bits == 16 else 1)

    def _compress_seg(seg: bytes, seg_row_bytes: int) -> bytes:
        if compression == 8:
            return zlib.compress(seg, 1)
        if compression == 5:
            return _lzw_compress(seg)
        if compression == 32773:
            return b"".join(
                _packbits_compress(seg[p : p + seg_row_bytes])
                for p in range(0, len(seg), seg_row_bytes)
            )
        return seg

    if tile is not None:
        tl, tw = int(tile[0]), int(tile[1])
        if tl <= 0 or tw <= 0 or tl % 16 or tw % 16:
            raise ValueError(
                f"tile dims must be positive multiples of 16, got {tile}"
            )
        tile_row_bytes = tw * (2 if bits == 16 else 1)
        tiles: list[bytes] = []
        for ty in range(-(-h // tl)):
            for tx in range(-(-w // tw)):
                block = native[
                    ty * tl : (ty + 1) * tl, tx * tw : (tx + 1) * tw
                ]
                if block.shape != (tl, tw):  # edge tile → zero-pad
                    full = np.zeros((tl, tw), dtype=native.dtype)
                    full[: block.shape[0], : block.shape[1]] = block
                    block = full
                tiles.append(
                    _compress_seg(
                        np.ascontiguousarray(block).tobytes(), tile_row_bytes
                    )
                )
        return _assemble_tiff(tiles, w, h, bits, compression, tiled=(tl, tw))

    rps = h if rows_per_strip is None else max(1, int(rows_per_strip))
    strips: list[bytes] = []
    for r0 in range(0, h, rps) or [0]:
        strips.append(_compress_seg(native[r0 : r0 + rps].tobytes(), row_bytes))
    if not strips:  # h == 0 is rejected upstream, but stay total
        strips = [b""]
    return _assemble_tiff(strips, w, h, bits, compression, rps=rps)


def _assemble_tiff(
    segments: list[bytes],
    w: int,
    h: int,
    bits: int,
    compression: int,
    rps: int | None = None,
    tiled: tuple[int, int] | None = None,
) -> bytes:
    """Lay out header | segment data | [offset/count LONG arrays] | IFD
    for a strip (``rps``) or tiled (``tiled=(tl, tw)``) file."""
    n = len(segments)
    offs: list[int] = []
    cur = 8
    for seg in segments:
        offs.append(cur)
        cur += len(seg)
    if n == 1:
        off_val, cnt_val = offs[0], len(segments[0])
        ifd_off = cur
    else:  # count > 1 LONG arrays live out-of-line, pointed to by the IFD
        off_val = cur
        cnt_val = cur + 4 * n
        ifd_off = cur + 8 * n
    entries = [
        (256, 4, 1, w),  # ImageWidth
        (257, 4, 1, h),  # ImageLength
        (258, 3, 1, bits),  # BitsPerSample
        (259, 3, 1, compression),
        (262, 3, 1, 1),  # PhotometricInterpretation: BlackIsZero
        (277, 3, 1, 1),  # SamplesPerPixel
    ]
    if tiled is not None:
        tl, tw = tiled
        entries += [
            (322, 4, 1, tw),  # TileWidth
            (323, 4, 1, tl),  # TileLength
            (324, 4, n, off_val),  # TileOffsets
            (325, 4, n, cnt_val),  # TileByteCounts
        ]
    else:
        entries += [
            (273, 4, n, off_val),  # StripOffsets
            (278, 4, 1, rps),  # RowsPerStrip
            (279, 4, n, cnt_val),  # StripByteCounts
        ]
    entries.sort()  # IFD entries must be tag-ascending (TIFF 6.0)
    out = bytearray()
    out += b"II" + struct.pack("<HI", 42, ifd_off)
    for seg in segments:
        out += seg
    if n > 1:
        out += struct.pack(f"<{n}I", *offs)
        out += struct.pack(f"<{n}I", *(len(s) for s in segments))
    out += struct.pack("<H", len(entries))
    for tag, typ, count, value in entries:
        out += struct.pack("<HHII", tag, typ, count, value)
    out += struct.pack("<I", 0)  # next-IFD terminator
    return bytes(out)
