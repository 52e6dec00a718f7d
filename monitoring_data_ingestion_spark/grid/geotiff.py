"""GeoTIFF encode/decode for grid sinks (SURVEY.md §2.1 S6).

The reference emits Float32 GeoTIFF via ``gdal_translate -co COMPRESS=LZW
-ot Float32`` (/root/reference/src/file-conversions.js:57-74). The engine's
native sink is partitioned parquet; this module covers the interchange
format: rasterio (LZW, predictor=3 — the reference's exact creation
options) when the library is installed, otherwise a self-contained
Float32 GeoTIFF writer/reader built from the public TIFF 6.0 spec,
TIFF Technical Note 3 (floating-point horizontal-differencing
predictor), and GeoTIFF 1.1, so the round-trip works (and is tested)
with zero native dependencies — including the reference's exact
LZW + predictor=3 creation options.

Layout written by the fallback: little-endian classic TIFF, one strip,
one Float32 sample per pixel, LZW-compressed with the TTN3 float
predictor (or raw with ``compress=False``), north-up affine
georeferencing via ModelPixelScale + ModelTiepoint, WGS-84 geographic
CRS keys, and the GDAL_NODATA ASCII tag — the same raster model GDAL
produces for the reference's outputs. The pure-Python LZW encoder keys
its string table on integer codes and packs the emitted codes in one
numpy pass; the decoder walks the stream one byte at a time, in linear
time.
rasterio remains the fast path for bulk export.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

from ..ingest.sinks import atomic_open

try:  # pragma: no cover - not present in this environment
    import rasterio
    from rasterio.transform import from_origin

    HAVE_RASTERIO = True
except ImportError:
    HAVE_RASTERIO = False

# TIFF 6.0 tag ids.
_IMAGE_WIDTH = 256
_IMAGE_LENGTH = 257
_BITS_PER_SAMPLE = 258
_COMPRESSION = 259
_PHOTOMETRIC = 262
_STRIP_OFFSETS = 273
_SAMPLES_PER_PIXEL = 277
_ROWS_PER_STRIP = 278
_STRIP_BYTE_COUNTS = 279
_PLANAR_CONFIG = 284
_PREDICTOR = 317
_SAMPLE_FORMAT = 339
# GeoTIFF 1.1 tag ids.
_MODEL_PIXEL_SCALE = 33550
_MODEL_TIEPOINT = 33922
_GEO_KEY_DIRECTORY = 34735
# GDAL extension.
_GDAL_NODATA = 42113

_TYPE_SHORT = 3  # uint16
_TYPE_LONG = 4  # uint32
_TYPE_ASCII = 2
_TYPE_DOUBLE = 12

_TYPE_SIZES = {_TYPE_SHORT: 2, _TYPE_LONG: 4, _TYPE_ASCII: 1, _TYPE_DOUBLE: 8}

# GeoKey directory: version 1.1.0; GTModelType=2 (geographic),
# GTRasterType=1 (PixelIsArea), GeographicType=4326 (WGS-84).
_GEO_KEYS = (1, 1, 0, 3, 1024, 0, 1, 2, 1025, 0, 1, 1, 2048, 0, 1, 4326)


# --------------------------------------------------------------------------
# TIFF LZW codec (TIFF 6.0 §13): MSB-first bit packing, 9-bit initial code
# width, ClearCode=256, EOI=257, first table entry 258, "early change"
# width bumps (the next code is written one bit wider as soon as entry
# 510/1022/2046 exists — the historical TIFF writer behavior every reader
# expects), table reset via ClearCode when the 12-bit space is exhausted.
# --------------------------------------------------------------------------

_LZW_CLEAR = 256
_LZW_EOI = 257


def _lzw_encode(data: bytes) -> bytes:
    # The table maps each multi-byte string to its code, keyed on the
    # integer (prefix_code << 8) | last_byte; single bytes are their own
    # codes and are never stored. ``w`` is the code of the current match.
    # Codes and their bit widths are collected first and packed once.
    codes = [_LZW_CLEAR]
    widths = [9]
    put_code = codes.append
    put_width = widths.append
    table: dict[int, int] = {}
    lookup = table.get
    next_code = 258
    width = 9
    it = iter(data)
    w = next(it, -1)
    if w >= 0:
        for b in it:
            key = (w << 8) | b
            code = lookup(key)
            if code is not None:
                w = code
                continue
            put_code(w)
            put_width(width)
            table[key] = next_code
            next_code += 1
            # Early change: codes are written one bit wider as soon as the
            # entry numbered 2^width - 2 exists.
            if next_code == 511 or next_code == 1023 or next_code == 2047:
                width += 1
            w = b
            if next_code == 4094:  # 12-bit space nearly full — reset
                # No phantom-append accounting is needed here (unlike the
                # final-code/EOI path below): the code just written was
                # emitted inside the loop, so our insert and the decoder's
                # phantom append stayed in lockstep — its table size is
                # next_code - 1 = 4093, nowhere near a width boundary, and
                # both sides write/read this CLEAR at 12 bits.
                put_code(_LZW_CLEAR)
                put_width(12)
                table.clear()
                next_code = 258
                width = 9
        put_code(w)
        put_width(width)
        # The decoder appends a phantom table entry for this final data
        # code too (it cannot know no more data follows), so its table
        # grows one past ours here. If that phantom append lands exactly
        # on an early-change boundary (decoder table size 510/1022/2046,
        # i.e. our next_code reaching 511/1023/2047), every conformant
        # reader widens before reading the next code — so the EOI below
        # must be written at the widened width. Without this accounting
        # ~3/4096 of strips (final code ending at a width boundary) were
        # silently corrupt for any TIFF reader.
        if next_code + 1 in (511, 1023, 2047):
            width += 1
    put_code(_LZW_EOI)
    put_width(width)
    return _pack_codes_msb(codes, widths)


def _pack_codes_msb(codes: list[int], widths: list[int]) -> bytes:
    """Concatenate each code's low ``width`` bits, most significant bit
    first, zero-padding the last byte (TIFF 6.0 §13 bit order)."""
    shifts = np.arange(11, -1, -1, dtype=np.uint16)  # codes are ≤ 12 bits
    bits = (np.array(codes, dtype=np.uint16)[:, None] >> shifts) & 1
    keep = shifts < np.array(widths, dtype=np.uint16)[:, None]
    return np.packbits(bits[keep].astype(np.uint8)).tobytes()


def _lzw_decode(data: bytes) -> bytes:
    out = bytearray()
    bitbuf = 0
    nbits = 0
    pos = 0
    width = 9
    table: list[bytes] = []

    def reset_table() -> None:
        nonlocal table, width
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9

    def get() -> int:
        nonlocal bitbuf, nbits, pos
        while nbits < width:
            if pos >= len(data):
                return _LZW_EOI  # truncated stream — treat as end
            bitbuf = (bitbuf << 8) | data[pos]
            pos += 1
            nbits += 8
        nbits -= width
        code = bitbuf >> nbits
        bitbuf &= (1 << nbits) - 1  # keep only unread bits: linear time
        return code

    reset_table()
    prev: bytes | None = None
    while True:
        code = get()
        if code == _LZW_EOI:
            break
        if code == _LZW_CLEAR:
            reset_table()
            prev = None
            continue
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"corrupt LZW stream: code {code} > table size")
        # Mirror the encoder's early change: the encoder's table is one
        # entry ahead of ours at read time (it inserts right after writing
        # a code, we insert right after reading it), so it writes at
        # 2^w bits from next_code == 2^w - 1 — which we observe as our
        # table size hitting 2^w - 2.
        if len(table) in (510, 1022, 2046):
            width += 1
        out += entry
        prev = entry
    return bytes(out)


# --------------------------------------------------------------------------
# TIFF Technical Note 3 floating-point predictor (Predictor tag = 3):
# per row, the float values' bytes are split into byte planes ordered
# most-significant first (big-endian), then the reordered row is
# horizontally differenced byte-wise mod 256. Decoding is the byte-wise
# cumulative sum followed by plane re-interleave.
# --------------------------------------------------------------------------


def _fp_predict_rows(values: np.ndarray) -> bytes:
    height, width = values.shape
    be = np.ascontiguousarray(values, dtype=">f4").view(np.uint8).reshape(height, width, 4)
    planes = np.ascontiguousarray(be.transpose(0, 2, 1)).reshape(height, 4 * width)
    diffed = planes.copy()
    diffed[:, 1:] -= planes[:, :-1]  # uint8 arithmetic wraps mod 256
    return diffed.tobytes()


def _fp_unpredict_rows(data: bytes, height: int, width: int) -> np.ndarray:
    rows = np.frombuffer(data, dtype=np.uint8).reshape(height, 4 * width)
    acc = np.cumsum(rows, axis=1, dtype=np.uint8)  # uint8 accumulator: mod 256
    be = np.ascontiguousarray(acc.reshape(height, 4, width).transpose(0, 2, 1))
    return (
        np.frombuffer(be.tobytes(), dtype=">f4").reshape(height, width).astype("<f4")
    )


@dataclass(frozen=True)
class GeoRaster:
    """A decoded north-up raster: values[row, col], row 0 at ``north``."""

    values: np.ndarray  # 2-D float32
    west: float
    north: float
    xres: float
    yres: float  # positive; rows advance southward
    nodata: float | None = None


_STRIP_TARGET_BYTES = 64 * 1024  # classic TIFF writer convention (~64 KB/strip)


def encode_geotiff(raster: GeoRaster, compress: bool = True) -> bytes:
    """Encode a north-up Float32 raster as GeoTIFF bytes (pure Python).

    ``compress=True`` (default) writes LZW + floating-point predictor=3 —
    the reference's exact creation options
    (/root/reference/src/file-conversions.js:60-66); ``compress=False``
    writes raw Float32 strips. Strips follow the classic ~64 KB
    convention (RowsPerStrip sized so an uncompressed strip stays under
    64 KB), so a 1440×721 global grid — the reference's ERA5 shape —
    comes out multi-strip exactly as GDAL writes it. Each strip is an
    independent LZW stream (own Clear/EOI) and the TTN3 predictor is
    per-row, so strips decode independently.
    """
    values = np.ascontiguousarray(raster.values, dtype="<f4")
    if values.ndim != 2:
        raise ValueError(f"raster must be 2-D, got shape {values.shape}")
    height, width = values.shape
    row_bytes = 4 * width
    rows_per_strip = max(1, min(height, _STRIP_TARGET_BYTES // row_bytes or 1))
    strips: list[bytes] = []
    for r0 in range(0, height, rows_per_strip):
        chunk = values[r0 : r0 + rows_per_strip]
        if compress:
            strips.append(_lzw_encode(_fp_predict_rows(chunk)))
        else:
            strips.append(chunk.tobytes())

    entries: list[tuple[int, int, int, bytes]] = []  # (tag, type, count, packed)

    def entry(tag: int, typ: int, vals) -> None:
        if typ == _TYPE_ASCII:
            packed = vals.encode("ascii") + b"\x00"
            entries.append((tag, typ, len(packed), packed))
            return
        fmt = {_TYPE_SHORT: "H", _TYPE_LONG: "I", _TYPE_DOUBLE: "d"}[typ]
        packed = struct.pack(f"<{len(vals)}{fmt}", *vals)
        entries.append((tag, typ, len(vals), packed))

    entry(_IMAGE_WIDTH, _TYPE_LONG, [width])
    entry(_IMAGE_LENGTH, _TYPE_LONG, [height])
    entry(_BITS_PER_SAMPLE, _TYPE_SHORT, [32])
    entry(_COMPRESSION, _TYPE_SHORT, [5 if compress else 1])  # 5 = LZW
    entry(_PHOTOMETRIC, _TYPE_SHORT, [1])  # BlackIsZero
    entry(_STRIP_OFFSETS, _TYPE_LONG, [0] * len(strips))  # patched below
    entry(_SAMPLES_PER_PIXEL, _TYPE_SHORT, [1])
    entry(_ROWS_PER_STRIP, _TYPE_LONG, [rows_per_strip])
    entry(_STRIP_BYTE_COUNTS, _TYPE_LONG, [len(s) for s in strips])
    entry(_PLANAR_CONFIG, _TYPE_SHORT, [1])
    if compress:
        entry(_PREDICTOR, _TYPE_SHORT, [3])  # TTN3 floating-point predictor
    entry(_SAMPLE_FORMAT, _TYPE_SHORT, [3])  # IEEE float
    entry(_MODEL_PIXEL_SCALE, _TYPE_DOUBLE, [raster.xres, raster.yres, 0.0])
    # Tiepoint: raster (0,0,0) ↔ model (west, north, 0).
    entry(_MODEL_TIEPOINT, _TYPE_DOUBLE, [0.0, 0.0, 0.0, raster.west, raster.north, 0.0])
    entry(_GEO_KEY_DIRECTORY, _TYPE_SHORT, list(_GEO_KEYS))
    if raster.nodata is not None:
        entry(_GDAL_NODATA, _TYPE_ASCII, repr(raster.nodata))

    entries.sort(key=lambda e: e[0])  # IFD entries must be tag-ascending

    # Layout: header (8) | IFD | overflow values | pixel strips.
    ifd_offset = 8
    ifd_size = 2 + 12 * len(entries) + 4
    overflow_offset = ifd_offset + ifd_size
    overflow: list[bytes] = []
    cursor = overflow_offset
    fields: list[bytes] = []
    field_idx: dict[int, int] = {}
    overflow_idx: dict[int, int] = {}
    for tag, typ, count, packed in entries:
        if len(packed) <= 4:
            value_bytes = packed.ljust(4, b"\x00")
        else:
            overflow_idx[tag] = len(overflow)
            overflow.append(packed)
            value_bytes = struct.pack("<I", cursor)
            cursor += len(packed)
        fields.append(struct.pack("<HHI", tag, typ, count) + value_bytes)
        field_idx[tag] = len(fields) - 1
    # Patch StripOffsets now that the data start is known: strips are laid
    # out back-to-back from ``cursor``. With several strips the offsets
    # array lives in the overflow area (4*n > 4 bytes); with one strip it
    # is inline in the IFD value field.
    offs = []
    pos = cursor
    for s in strips:
        offs.append(pos)
        pos += len(s)
    packed_offs = struct.pack(f"<{len(offs)}I", *offs)
    if len(strips) > 1:
        overflow[overflow_idx[_STRIP_OFFSETS]] = packed_offs
    else:
        idx = field_idx[_STRIP_OFFSETS]
        fields[idx] = fields[idx][:8] + packed_offs

    out = bytearray()
    out += struct.pack("<2sHI", b"II", 42, ifd_offset)
    out += struct.pack("<H", len(entries))
    out += b"".join(fields)
    out += struct.pack("<I", 0)  # no next IFD
    out += b"".join(overflow)
    for s in strips:
        out += s
    return bytes(out)


def decode_geotiff(data: bytes) -> GeoRaster:
    """Decode a Float32 GeoTIFF produced by this module (or any
    little-endian striped equivalent that is raw or LZW + predictor 1/3);
    handles both single- and multi-strip layouts."""
    byte_order, magic, ifd_offset = struct.unpack_from("<2sHI", data, 0)
    if byte_order != b"II" or magic != 42:
        raise ValueError("not a little-endian classic TIFF")
    (n_entries,) = struct.unpack_from("<H", data, ifd_offset)
    tags: dict[int, list] = {}
    for i in range(n_entries):
        tag, typ, count = struct.unpack_from("<HHI", data, ifd_offset + 2 + 12 * i)
        value_field = ifd_offset + 2 + 12 * i + 8
        size = _TYPE_SIZES[typ] * count
        if size <= 4:
            off = value_field
        else:
            (off,) = struct.unpack_from("<I", data, value_field)
        if typ == _TYPE_ASCII:
            tags[tag] = [data[off : off + count - 1].decode("ascii")]
        else:
            fmt = {_TYPE_SHORT: "H", _TYPE_LONG: "I", _TYPE_DOUBLE: "d"}[typ]
            tags[tag] = list(struct.unpack_from(f"<{count}{fmt}", data, off))
    compression = tags.get(_COMPRESSION, [1])[0]
    predictor = tags.get(_PREDICTOR, [1])[0]
    if compression not in (1, 5):
        raise ValueError(f"unsupported TIFF compression {compression}")
    if predictor not in (1, 3):
        raise ValueError(f"unsupported TIFF predictor {predictor}")
    width = tags[_IMAGE_WIDTH][0]
    height = tags[_IMAGE_LENGTH][0]
    rows_per_strip = tags.get(_ROWS_PER_STRIP, [height])[0]
    strip_offs = tags[_STRIP_OFFSETS]
    strip_lens = tags[_STRIP_BYTE_COUNTS]
    if len(strip_offs) != len(strip_lens):
        raise ValueError("StripOffsets/StripByteCounts length mismatch")
    parts: list[np.ndarray] = []
    for i, (off, ln) in enumerate(zip(strip_offs, strip_lens)):
        strip = data[off : off + ln]
        if compression == 5:
            strip = _lzw_decode(strip)
        n_rows = min(rows_per_strip, height - i * rows_per_strip)
        if predictor == 3:
            parts.append(_fp_unpredict_rows(strip, n_rows, width))
        else:
            parts.append(np.frombuffer(strip, dtype="<f4").reshape(n_rows, width))
    values = parts[0] if len(parts) == 1 else np.vstack(parts)
    xres, yres, _ = tags[_MODEL_PIXEL_SCALE]
    tie = tags[_MODEL_TIEPOINT]
    nodata = float(tags[_GDAL_NODATA][0]) if _GDAL_NODATA in tags else None
    return GeoRaster(
        values=values.copy(), west=tie[3], north=tie[4], xres=xres, yres=yres, nodata=nodata
    )


def write_geotiff(raster: GeoRaster, path: str) -> None:
    """Publish one raster file through ``ingest.sinks.atomic_open``, so a
    failed re-write keeps the last good raster; rasterio (LZW
    predictor=3, the reference's creation options) when available, else
    the pure-Python encoder."""
    with atomic_open(path) as f:
        if HAVE_RASTERIO:  # pragma: no cover - not present in this environment
            transform = from_origin(raster.west, raster.north, raster.xres, raster.yres)
            with rasterio.open(
                f,
                "w",
                driver="GTiff",
                height=raster.values.shape[0],
                width=raster.values.shape[1],
                count=1,
                dtype="float32",
                crs="EPSG:4326",
                transform=transform,
                compress="lzw",
                predictor=3,
                nodata=raster.nodata,
            ) as dst:
                dst.write(raster.values.astype("float32"), 1)
        else:
            f.write(encode_geotiff(raster))


def read_geotiff(path: str) -> GeoRaster:
    with open(path, "rb") as f:
        return decode_geotiff(f.read())
