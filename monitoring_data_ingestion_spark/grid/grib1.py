"""Pure-Python GRIB edition-1 codec: record scan/select + simple-packing
decode — the reference's actual INPUT format, dependency-free.

The reference never decodes GRIB itself: it shells out to ``wgrib`` to
extract one record as a standalone GRIB file
(/root/reference/src/file-conversions.js:114-127 — ``wgrib input -d
record_number -grib -o out``) and to cdo/gdal for the arithmetic that
follows. This module closes that external-format gap the same way
``grid/geotiff.py`` (output side) and ``multimodal/ppm.py`` did: a real,
tested, pure-Python implementation of the byte format, so an ERA5-style
GRIB1 download is scannable by this engine with zero native binaries.

Implemented surface (WMO FM 92-VIII Ext. GRIB edition 1):

* Section 0 (Indicator): "GRIB" magic, 24-bit total length, edition 1.
* Section 1 (PDS): parameter / level / reference-time fields, presence
  flags for GDS/BMS, signed decimal scale factor D.
* Section 2 (GDS): regular latitude/longitude grid (data representation
  type 0): Ni×Nj shape, first/last lat/lon in millidegrees
  (signed-magnitude 24-bit), increments, scanning modes 0x00 (+i, −j,
  row major — north row first, the ERA5 layout) and 0x40 (+j, south row
  first — regional products; normalized to north-first on decode).
* Section 3 (BMS): optional bitmap, one bit per cell, MSB first.
* Section 4 (BDS): simple packing — signed binary scale factor E, IBM
  System/370 32-bit float reference value R, ``nbits``-wide big-endian
  unsigned increments X; decoded value Y = (R + X·2^E) / 10^D.  With
  the spherical-harmonics flag raised (GDS type 50 — ERA5/IFS native
  spectral fields), the (0,0) real coefficient rides UNPACKED as an
  IBM-32 float at octets 12-15 and the remaining mode-1 sequence
  simple-packs after it; synthesis to a Gaussian grid is the shared
  cross-edition ``grib2.spectral_synthesis``.  SECOND-ORDER (complex)
  grid-point packing (flag bits 2+4 — the DWD/ECMWF-era form): the
  octet-14 extended flags carry N1/N2 stream pointers, P1 group
  minima pack at the octet-11 width and per-point deviations follow
  as one continuous bitstream at per-group (constant or varying)
  widths; groups come row-by-row or from a secondary bitmap.  The
  gribex general-extended bits (octet-14 bits 4-8), the matrix form
  and the primary-bitmap combination are named loud stops.
* Section 5: "7777" terminator.

Multi-record files are plain concatenations of messages; ``wgrib -d n``
parity is :func:`select_record` (1-based, returns the nth message's
exact bytes as a standalone file) and record inventory is
:func:`iter_messages`.

Every arithmetic choice is stated so an oracle can restate results
closed-form without touching bytes (the ``grid_grib1_decode`` catalog
query does exactly that): packing computes X = round(Y·10^D − R_scaled)
/ 2^E with R chosen as the scaled minimum, so integer-valued grids with
E=0, D=0 and an integer-exact IBM reference decode BIT-EXACTLY.

numpy vectorizes bit unpacking (values arrive in Arrow batches
executor-side; a per-cell Python loop would dominate batch time).
"""

from __future__ import annotations

import datetime
import functools
import math
import struct
import sys
from dataclasses import dataclass

import numpy as np

MAGIC = b"GRIB"
TERMINATOR = b"7777"


def loud_truncation(fn):
    """Public-codec-boundary guard: torn or corrupt bytes surface as
    ValueError — the per-record FILE defect a 100 TB landing scan can
    report and a ``match=`` pushdown can route around — never a raw
    IndexError/KeyError/struct.error escaping a template read deep in
    the section walk (those read as engine bugs and put debugging at
    the wrong layer).  Precise ValueErrors pass through untouched."""
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except (IndexError, KeyError, struct.error) as exc:
            raise ValueError(
                f"truncated or corrupt GRIB message "
                f"({type(exc).__name__}: {exc})"
            ) from exc
    return wrapper


def _check_grib1_envelope(msg: bytes) -> None:
    """Indicator + terminator validation shared by the public decode
    and inspect entry points: the 24-bit total length must equal the
    buffer handed in and the 7777 terminator must close it — without
    this, a message whose tail was torn off (rsync/partial download)
    decodes "successfully" from whatever bytes remain."""
    if len(msg) < 12 or msg[:4] != MAGIC or msg[7] != EDITION:
        raise ValueError("not a GRIB edition-1 message")
    total = _r24(msg, 4)
    if total != len(msg):
        raise ValueError(
            f"GRIB1 message length mismatch (indicator says {total}, "
            f"have {len(msg)} bytes)"
        )
    if msg[-4:] != TERMINATOR:
        raise ValueError("missing 7777 terminator")


EDITION = 1
_GRID_LATLON = 0
_GRID_GAUSSIAN = 4  # Gaussian latitude/longitude (data representation type)
_GRID_ROTATED = 10  # rotated latitude/longitude
_GRID_SPECTRAL = 50  # spherical harmonic coefficients


# --- IBM System/370 32-bit hexadecimal float (the GRIB1 reference value) --


def ibm32_encode(x: float) -> bytes:
    """Pack ``x`` as IBM 32-bit float: sign(1) | exponent(7, base-16,
    bias 64) | mantissa(24); value = (−1)^s · m/2^24 · 16^(e−64).
    Round-to-nearest on the 24-bit mantissa; small integers are exact."""
    if x == 0 or not math.isfinite(x):
        return b"\x00\x00\x00\x00"
    sign = 0x80 if x < 0 else 0
    x = abs(x)
    # Choose e so that m = x·16^(64−e)·2^24 lands in [2^20, 2^24).
    e = int(math.floor(math.log(x, 16))) + 64 + 1
    m = int(round(x * 16.0 ** (64 - e) * (1 << 24)))
    while m >= 1 << 24:  # rounding overflowed a hex digit
        m >>= 4
        e += 1
    while m and m < 1 << 20:
        m <<= 4
        e -= 1
    if not 0 <= e <= 127:
        raise ValueError(f"IBM float exponent out of range for {x!r}")
    return bytes([sign | e, (m >> 16) & 0xFF, (m >> 8) & 0xFF, m & 0xFF])


def ibm32_decode(b: bytes) -> float:
    """Inverse of :func:`ibm32_encode`."""
    if len(b) != 4:
        raise ValueError("IBM float is 4 bytes")
    sign = -1.0 if b[0] & 0x80 else 1.0
    e = b[0] & 0x7F
    m = (b[1] << 16) | (b[2] << 8) | b[3]
    if m == 0:
        return 0.0
    return sign * (m / float(1 << 24)) * 16.0 ** (e - 64)


def ibm32_encode_floor(x: float) -> bytes:
    """Largest IBM-representable value ≤ ``x``.

    The encoder's default reference value is the data minimum; storing
    it with round-to-NEAREST can round UP past the minimum, making the
    smallest increment negative (a spurious encode failure). Reference
    values must therefore round toward −∞."""
    b = ibm32_encode(x)
    for _ in range(4):  # one ulp step suffices; loop is belt-and-braces
        if ibm32_decode(b) <= x:
            return b
        sign, e = b[0] & 0x80, b[0] & 0x7F
        m = (b[1] << 16) | (b[2] << 8) | b[3]
        if sign:  # negative: magnitude must INCREASE to go toward −∞
            m += 1
            if m >= 1 << 24:
                m >>= 4
                e += 1
        else:
            m -= 1
            if m < 1 << 20 and e > 0:  # renormalize below a hex boundary
                m = (m << 4) | 0xF
                e -= 1
        b = bytes([sign | e, (m >> 16) & 0xFF, (m >> 8) & 0xFF, m & 0xFF])
    raise ValueError(f"could not floor-encode {x!r} as IBM float")


# --- low-level helpers ----------------------------------------------------


def _u24(n: int) -> bytes:
    return bytes([(n >> 16) & 0xFF, (n >> 8) & 0xFF, n & 0xFF])


def _r24(b: bytes, off: int) -> int:
    return (b[off] << 16) | (b[off + 1] << 8) | b[off + 2]


def _s16(n: int) -> bytes:
    """GRIB1 signed-magnitude 16-bit (top bit = sign)."""
    mag = abs(int(n))
    if mag >= 1 << 15:
        raise ValueError("signed-magnitude 16-bit overflow")
    return bytes([((0x80 if n < 0 else 0) | (mag >> 8)), mag & 0xFF])


def _rs16(b: bytes, off: int) -> int:
    mag = ((b[off] & 0x7F) << 8) | b[off + 1]
    return -mag if b[off] & 0x80 else mag


def _s24(n: int) -> bytes:
    """Signed-magnitude 24-bit (lat/lon in millidegrees)."""
    mag = abs(int(n))
    if mag >= 1 << 23:
        raise ValueError("signed-magnitude 24-bit overflow")
    return bytes([(0x80 if n < 0 else 0) | (mag >> 16), (mag >> 8) & 0xFF, mag & 0xFF])


def _rs24(b: bytes, off: int) -> int:
    mag = ((b[off] & 0x7F) << 16) | (b[off + 1] << 8) | b[off + 2]
    return -mag if b[off] & 0x80 else mag


def _scale_factor(label: str, v: int, base: float) -> float:
    """``base ** v`` for a scale factor both editions carry in 2 octets
    of sign-magnitude.  Past that width, or where the power leaves the
    normal float range, it stops naming the factor: an overflow would
    escape as a raw OverflowError, and a zero or subnormal 2^E or 10^D
    turns the increments, or the decoded values, into NaN."""
    if -0x7FFF <= v <= 0x7FFF:
        try:
            f = base ** v
        except OverflowError:
            f = math.inf
        if sys.float_info.min <= f < math.inf:
            return f
    raise ValueError(f"{label} {v} out of range")


def quantize_simple_packing(
    present: np.ndarray,
    decimal_scale: int,
    binary_scale: int,
    nbits: int,
    reference_value: float | None,
    encode_ref,
    encode_ref_floor,
    decode_ref,
):
    """Shared simple-packing quantization for both GRIB editions.

    Returns (reference bytes, stored reference, uint64 increments).
    The default reference is the scaled minimum stored with FLOOR
    rounding (round-to-nearest can round up past the minimum and make
    the smallest increment negative); an explicit ``reference_value``
    stores nearest and fails loudly if it exceeds a data value. NaN in
    present cells is rejected — missing data must ride the bitmap, or
    the uint64 cast would emit platform-dependent garbage."""
    ten_d = _scale_factor("decimal scale factor", decimal_scale, 10.0)
    two_e = _scale_factor("binary scale factor", binary_scale, 2.0)
    present = np.asarray(present, dtype=np.float64)
    if np.isnan(present).any():
        raise ValueError(
            "present cells contain NaN — mask missing data with a bitmap"
        )
    scaled = present * ten_d
    if reference_value is None:
        rb = encode_ref_floor(float(scaled.min())) if len(scaled) else encode_ref(0.0)
    else:
        rb = encode_ref(reference_value)
    r = decode_ref(rb)
    xf = np.round((scaled - r) / two_e)
    if len(xf) and xf.min() < 0:
        raise ValueError("reference_value exceeds a data value (negative increment)")
    x = xf.astype(np.uint64)
    if len(x) and int(x.max()) >= 1 << nbits:
        raise ValueError(f"nbits={nbits} cannot hold max increment {int(x.max())}")
    return rb, r, x


def _pack_bits(values: np.ndarray, nbits: int) -> bytes:
    """Big-endian bit packing of unsigned ints into a contiguous stream."""
    if nbits % 8 == 0:
        width = nbits // 8
        out = np.zeros((len(values), width), dtype=np.uint8)
        v = values.astype(np.uint64)
        for k in range(width):
            out[:, width - 1 - k] = (v >> np.uint64(8 * k)) & np.uint64(0xFF)
        return out.tobytes()
    bits = np.zeros(len(values) * nbits, dtype=np.uint8)
    v = values.astype(np.uint64)
    for k in range(nbits):  # bit k of each value → stream position
        bits[k::nbits] = (v >> np.uint64(nbits - 1 - k)) & np.uint64(1)
    return np.packbits(bits).tobytes()


def _encode_second_order(
    x: np.ndarray,
    group_sizes: list[int],
    fo_width: int,
    varying: bool,
    secondary: bool,
) -> tuple[bytes, int]:
    """BDS octets 12+ of the WMO second-order (complex) grid-point
    layout: N1/flags/N2/P1/P2 pointers, the width table, the optional
    secondary bitmap, the first-order values (group minima at
    ``fo_width`` bits, byte-aligned at N1) and the second-order
    deviations as one CONTINUOUS bitstream at N2.  Returns (body,
    slack bits in the second-order stream)."""
    x = np.asarray(x, dtype=np.uint64)
    p2, p1 = len(x), len(group_sizes)
    if sum(group_sizes) != p2:
        raise ValueError("group sizes must cover every present point")
    if min(group_sizes, default=1) <= 0:
        raise ValueError("second-order groups must be non-empty")
    if not 1 <= p1 <= 0xFFFF or p2 > 0xFFFF:
        raise ValueError("second-order P1/P2 must fit 16 bits")
    fo = np.empty(p1, dtype=np.uint64)
    so_parts: list[np.ndarray] = []
    widths: list[int] = []
    pos = 0
    for g, n in enumerate(group_sizes):
        seg = x[pos : pos + n]
        fo[g] = seg.min()
        so = (seg - fo[g]).astype(np.uint64)
        widths.append(int(so.max()).bit_length() if int(so.max()) else 0)
        so_parts.append(so)
        pos += n
    if not varying:
        widths = [max(widths)] * p1
    if max(widths) > 62:
        raise ValueError("second-order width exceeds 62 bits")
    if int(fo.max()) >= 1 << fo_width:
        raise ValueError(
            f"nbits={fo_width} cannot hold first-order value {int(fo.max())}"
        )
    width_table = bytes(widths) if varying else bytes([widths[0]])
    secbits = b""
    if secondary:
        marks = np.zeros(p2, dtype=np.uint8)
        marks[np.cumsum([0] + group_sizes[:-1])] = 1
        secbits = np.packbits(marks).tobytes()
    fo_bytes = _pack_bits(fo, fo_width)
    total_bits = sum(n * w for n, w in zip(group_sizes, widths))
    stream = np.zeros(total_bits, dtype=np.uint8)
    bit = 0
    for so, w in zip(so_parts, widths):
        if w:
            for k in range(w):
                stream[bit + k : bit + len(so) * w : w] = (
                    (so >> np.uint64(w - 1 - k)) & np.uint64(1)
                ).astype(np.uint8)
            bit += len(so) * w
    so_bytes = np.packbits(stream).tobytes() if total_bits else b""
    so_slack = (8 - total_bits % 8) % 8
    n1 = 22 + len(width_table) + len(secbits)  # 1-based BDS octet
    n2 = n1 + len(fo_bytes)
    if n2 + max(1, (total_bits + 7) // 8) - 1 > 0xFFFF:
        raise ValueError("second-order BDS exceeds the 16-bit pointers")
    body = (
        n1.to_bytes(2, "big")
        + bytes([(0x40 if secondary else 0) | (0x20 if varying else 0)])
        + n2.to_bytes(2, "big")
        + p1.to_bytes(2, "big")
        + p2.to_bytes(2, "big")
        + bytes([0])  # octet 21 reserved
        + width_table
        + secbits
        + fo_bytes
        + so_bytes
    )
    return body, so_slack


def _decode_second_order(
    bds: bytes, n_present: int, fo_width: int, row_lengths
) -> np.ndarray:
    """Second-order (complex) grid-point BDS → uint64 increments X in
    storage order.  Octets 12-13/15-16 are 1-based pointers to the
    first-/second-order streams; octet 14 flags (code table 11): bit 1
    matrix (unsupported), bit 2 secondary bitmap, bit 3 varying widths,
    bits 4-8 the gribex general-extended forms (unsupported — their
    stream layout differs and a standard-layout read would decode
    offset garbage).  Without a secondary bitmap each ROW is a group
    (``row_lengths``); with one, a set bit starts a group and the
    derived group count must equal P1."""
    if len(bds) < 22:
        raise ValueError("truncated second-order BDS")
    n1 = int.from_bytes(bds[11:13], "big")
    ext = bds[13]
    n2 = int.from_bytes(bds[14:16], "big")
    p1 = int.from_bytes(bds[16:18], "big")
    p2 = int.from_bytes(bds[18:20], "big")
    if ext & 0x80:
        raise ValueError(
            "matrix-of-values second-order packing is not supported"
        )
    if ext & 0x1F:
        raise ValueError(
            "general extended second-order (gribex) packing is not "
            "supported (octet-14 bits 4-8 set)"
        )
    if p1 == 0:
        raise ValueError("second-order packing with zero groups")
    if p2 != n_present:
        raise ValueError(
            f"second-order P2={p2} disagrees with {n_present} grid points"
        )
    secondary, varying = bool(ext & 0x40), bool(ext & 0x20)
    cursor = 21  # 0-based: first octet after the fixed head
    if varying:
        widths = list(bds[cursor : cursor + p1])
        if len(widths) < p1:
            raise ValueError("truncated second-order width table")
        cursor += p1
    else:
        widths = [bds[cursor]] * p1
        cursor += 1
    if max(widths) > 62:
        raise ValueError("second-order width exceeds 62 bits")
    if secondary:
        nb = (p2 + 7) // 8
        sec = np.unpackbits(
            np.frombuffer(bds[cursor : cursor + nb], dtype=np.uint8)
        )[:p2]
        if sec.size < p2:
            raise ValueError("truncated secondary bitmap")
        if p2 and sec[0] != 1:
            raise ValueError(
                "secondary bitmap must start a group at the first point"
            )
        starts = np.flatnonzero(sec)
        group_sizes = np.diff(np.append(starts, p2)).tolist()
        if len(group_sizes) != p1:
            raise ValueError(
                f"secondary bitmap defines {len(group_sizes)} groups, "
                f"P1 declares {p1}"
            )
        cursor += nb
    else:
        group_sizes = [int(n) for n in row_lengths]
        if len(group_sizes) != p1:
            raise ValueError(
                f"row-grouped second-order packing: grid has "
                f"{len(group_sizes)} rows, P1 declares {p1}"
            )
    fo_need = (p1 * fo_width + 7) // 8
    # N2 must land PAST the end of the first-order stream, not merely
    # past N1 — a corrupt N2 pointing into the first-order values or
    # the width table would silently decode those bytes as deviations
    # with plausible statistics (the failure class every other guard
    # here stops loudly).
    if n1 - 1 < cursor or len(bds) < n1 - 1 + fo_need or n2 - 1 < n1 - 1 + fo_need:
        raise ValueError("second-order stream pointers out of range")
    fo = (
        _unpack_bits(bds[n1 - 1 : n1 - 1 + fo_need], p1, fo_width)
        if fo_width
        else np.zeros(p1, dtype=np.uint64)
    )
    total_bits = sum(n * w for n, w in zip(group_sizes, widths))
    so_bytes = bds[n2 - 1 :]
    if len(so_bytes) * 8 < total_bits:
        raise ValueError("truncated second-order value stream")
    allbits = np.unpackbits(np.frombuffer(so_bytes, dtype=np.uint8))
    x = np.empty(p2, dtype=np.uint64)
    bit = pos = 0
    for f, n, w in zip(fo, group_sizes, widths):
        if w:
            b = allbits[bit : bit + n * w].reshape(n, w).astype(np.uint64)
            so = b @ (
                np.uint64(1) << np.arange(w - 1, -1, -1, dtype=np.uint64)
            )
            bit += n * w
        else:
            so = np.zeros(n, dtype=np.uint64)
        x[pos : pos + n] = np.uint64(f) + so
        pos += n
    return x


def _unpack_bits(data: bytes, n_values: int, nbits: int) -> np.ndarray:
    """Inverse of :func:`_pack_bits` → uint64 array of length n_values.

    Byte-aligned widths (8/16/24/32 — the widths real archives ship)
    take a vectorized bytes-view path: the generic route expands every
    bit to a uint64 (a ~64× transient blowup plus a matmul) on the
    decode hot path, measured ~6× slower for a full ERA5-size field.
    Widths past 64 reject loudly — a uint64 weight shift of ≥64 wraps
    to zero and would silently decode garbage high-order bits."""
    if nbits == 0:
        return np.zeros(n_values, dtype=np.uint64)
    if nbits > 64:
        raise ValueError(
            f"{nbits}-bit packing width is not decodable "
            "(exceeds 64-bit value arithmetic)"
        )
    if nbits % 8 == 0:
        nb = nbits // 8
        raw = np.frombuffer(data, dtype=np.uint8)[: n_values * nb]
        if raw.size < n_values * nb:
            raise ValueError(
                f"packed stream holds {raw.size} bytes, "
                f"expected {n_values * nb}"
            )
        cols = raw.reshape(n_values, nb).astype(np.uint64)
        out = np.zeros(n_values, dtype=np.uint64)
        for k in range(nb):  # big-endian accumulation, MSB first
            out = (out << np.uint64(8)) | cols[:, k]
        return out
    bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8))[: n_values * nbits]
    bits = bits.reshape(n_values, nbits).astype(np.uint64)
    weights = (np.uint64(1) << np.arange(nbits - 1, -1, -1, dtype=np.uint64))
    return bits @ weights


# WMO code table 3 LAYER level types: PDS octets 11-12 are TWO 1-octet
# values (top, bottom of the layer) instead of one 16-bit level — e.g.
# 112 = layer between two depths below land surface (cm).  Reading the
# combined 16-bit number for these types silently fabricates a level
# (0-10 cm would "decode" as level 10 — also a valid point depth).
_LAYER_LEVEL_TYPES = frozenset(
    {101, 104, 106, 108, 110, 112, 114, 116, 120, 121, 128, 141}
)


# --- PDS time octets (WMO code tables 4 and 5, edition 1) -----------------

# Code table 4 fixed-duration units → hours.  Edition 1 numbers differ
# from GRIB2's table 4.4 in the sub-hour codes (minute = 0 is shared,
# second = 254 here vs 13 there); calendar units (3 month, 4 year, 5
# decade, 6 normal, 7 century) have no fixed hour length and reject.
_TIME_UNIT_HOURS = {1: 1, 2: 24, 10: 3, 11: 6, 12: 12}


def _grib1_hours(unit: int, value: int) -> int:
    """Code-table-4 (unit, value) → WHOLE hours, or a loud stop for
    sub-hour remainders and calendar units — the same contract as the
    GRIB2 decoder's ``_forecast_hours`` (a silently floored lead would
    mis-stamp every valid time downstream)."""
    if unit in _TIME_UNIT_HOURS:
        return value * _TIME_UNIT_HOURS[unit]
    if unit in (0, 254):  # minutes / seconds
        q, rem = divmod(value, 60 if unit == 0 else 3600)
        if rem:
            raise ValueError(
                f"sub-hour GRIB1 time ({value} in unit {unit}) is not "
                "a whole number of hours"
            )
        return q
    raise ValueError(
        f"unsupported GRIB1 time unit {unit} (calendar-dependent "
        "or reserved)"
    )


# --- message model --------------------------------------------------------
#
# What both editions' records share: the spectral view of a spherical-
# harmonic record and the per-cell coordinates of a reduced grid.


def spectral_coeffs(rec) -> np.ndarray | None:
    """Complex coefficients C_n^m in mode-1 order (m = 0..T, n = m..T)
    of a spectral record; None on gridded records."""
    if rec.spectral_truncation is None:
        return None
    return rec.values[0::2] + 1j * rec.values[1::2]


def reduced_grid_cells(rec, lon_first_deg: float):
    """Per-cell (lat, lon) of a reduced grid, flat storage order, both
    editions: row j's latitude repeats row_ni[j] times; its longitudes
    are lon_first + i·360/row_ni[j] (full parallels, the only form the
    decoders admit).  Computed once per record."""
    cells = getattr(rec, "_cells", None)
    if cells is None:
        lats = np.repeat(rec.latitudes_deg, rec.row_ni)
        lons = np.concatenate(
            [(np.arange(n) * 360.0) / n + lon_first_deg for n in rec.row_ni]
        )
        cells = rec._cells = (lats, lons)
    return cells


@dataclass
class Grib1Record:
    """One decoded GRIB1 message."""

    parameter: int
    level_type: int
    level: int
    reftime: tuple[int, int, int, int, int]  # (year, month, day, hour, minute)
    ni: int | None  # None on spectral records (no grid)
    nj: int
    lat_first_mdeg: int
    lon_first_mdeg: int
    dlat_mdeg: int
    dlon_mdeg: int
    decimal_scale: int
    binary_scale: int
    reference_value: float
    nbits: int
    values: np.ndarray  # (nj, ni) float64, NaN where the bitmap masks
    # PDS octets 18-21 (time unit / P1 / P2 / time range indicator),
    # normalized onto the SAME cross-edition surface the GRIB2 decoder
    # exposes: lead to the field's point time (or the START of a
    # statistical interval) in WHOLE hours, the statistical process in
    # GRIB2 code-table-4.10 numbering (0 = average for TRI 3, 1 =
    # accumulation for TRI 4), and the interval END as a calendar
    # tuple.  ``time_range_indicator`` keeps the raw edition-1 code.
    time_range_indicator: int = 0
    forecast_hours: int = 0
    statistical_process: int | None = None
    interval_end: tuple[int, int, int, int, int] | None = None
    # LAYER level types (code table 3 — see _LAYER_LEVEL_TYPES): octets
    # 11-12 split as (top, bottom); ``level`` holds the top and
    # ``level2`` the bottom.  None — the usual case — on point levels.
    level2: int | None = None
    # Gaussian grids (data representation type 4 — ECMWF F-grids):
    # GDS octets 26-27 hold N (parallels pole→equator) instead of Dj;
    # the exact row latitudes are the Legendre quadrature nodes the
    # engine recomputes (grib2.gaussian_latitudes), north → south.
    # ``lat_first_mdeg`` keeps the GDS's rounded La1; ``dlat_mdeg`` is
    # 0 (there is no affine latitude step on a Gaussian grid).
    gaussian_n: int | None = None
    latitudes_deg: np.ndarray | None = None
    # Rotated lat/lon grids (data representation type 10 — the COSMO/
    # HIRLAM edition-1 form): (south pole lat deg, south pole lon deg,
    # rotation angle deg).  The affine fields hold the ROTATED axes;
    # true per-cell coordinates come from ``cell_lats_deg`` /
    # ``cell_lons_deg`` (the same unrotation the GRIB2 template-3.1
    # path uses).
    rotated_pole: tuple[float, float, float] | None = None
    # Spherical-harmonic records (GDS type 50): the triangular
    # truncation T (J = K = M).  ``values`` is then the FLAT real
    # sequence re/im interleaved in mode-1 order (m = 0..T, n = m..T),
    # ``nj`` the complex-coefficient count (T+1)(T+2)/2, ``ni`` None,
    # and every geographic field zero — synthesis to a Gaussian grid
    # (grib2.spectral_synthesis, shared cross-edition) is an explicit
    # step, never an implicit georef.
    spectral_truncation: int | None = None
    # COMPLEX spherical-harmonic packing only (BDS flags 0b1100 — the
    # ECMWF gribex archive form, edition-1 sibling of GRIB2 template
    # 5.51): the triangular sub-truncation TS whose n <= TS
    # coefficients rode UNPACKED as IBM-32 floats; None on simple
    # spectral and on every gridded record.
    spectral_sub_truncation: int | None = None
    # QUASI-REGULAR (reduced) Gaussian grid — ECMWF's native edition-1
    # archive layout (the CDS ERA5 feed the reference consumes,
    # /root/reference/src/file-conversions.js:114-127, reads these
    # through wgrib): Ni coded missing (0xFFFF) and the GDS PL list
    # carries the number of points on each parallel, north → south.
    # When set, ``ni`` is None, ``values`` stays a FLAT (sum(row_ni),)
    # array in storage order (ragged rows can't reshape), every row
    # starts at lon_first with spacing 360/row_ni[j], and the landing
    # contract is the SAME as GRIB2's template-3.40 reduced form
    # (quadrature latitudes + per-cell coordinate arrays).
    row_ni: np.ndarray | None = None

    spectral_coeffs = property(spectral_coeffs)

    @property
    def cell_lats_deg(self) -> np.ndarray | None:
        if self.row_ni is not None:
            return self._reduced_cells()[0]
        if self.rotated_pole is None:
            return None
        return self._rotated_cells()[0]

    @property
    def cell_lons_deg(self) -> np.ndarray | None:
        if self.row_ni is not None:
            return self._reduced_cells()[1]
        if self.rotated_pole is None:
            return None
        return self._rotated_cells()[1]

    def _reduced_cells(self):
        return reduced_grid_cells(self, self.lon_first_mdeg / 1e3)

    def _rotated_cells(self):
        cells = getattr(self, "_cells", None)
        if cells is None:
            from .grib2 import rotated_unrotate  # lazy: grib2 imports grib1

            rlats = (
                self.lat_first_mdeg - self.dlat_mdeg * np.arange(self.nj)[:, None]
            ) / 1e3
            rlons = (
                self.lon_first_mdeg + self.dlon_mdeg * np.arange(self.ni)[None, :]
            ) / 1e3
            shape = (self.nj, self.ni)
            cells = rotated_unrotate(
                np.broadcast_to(rlats, shape),
                np.broadcast_to(rlons, shape),
                *self.rotated_pole,
            )
            self._cells = cells
        return cells


def encode_grib1_message(
    values: np.ndarray,
    *,
    parameter: int = 11,  # TMP in WMO table 2
    level_type: int = 1,  # surface
    level: int = 0,
    level2: int | None = None,
    reftime: tuple[int, int, int, int, int] = (2020, 1, 1, 0, 0),
    lat_first_mdeg: int = 90_000,
    lon_first_mdeg: int = 0,
    dlat_mdeg: int = 1_000,
    dlon_mdeg: int = 1_000,
    decimal_scale: int = 0,
    binary_scale: int = 0,
    nbits: int = 16,
    bitmap: np.ndarray | None = None,
    reference_value: float | None = None,
    scanning_mode: int = 0x00,
    forecast: dict | None = None,
    statistical: dict | None = None,
    gaussian: bool = False,
    rotated: dict | None = None,
    spectral: dict | None = None,
    reduced_ni=None,
    reduced_latlon: bool = False,
    second_order: dict | None = None,
    predefined_bitmap: dict | None = None,
) -> bytes:
    """Encode a (nj, ni) grid as one GRIB1 message (simple packing).

    ``values`` row 0 is ALWAYS the northernmost row (``lat_first_mdeg``)
    regardless of ``scanning_mode``; mode 0x40 (+j, south row first —
    common in regional products) stores the rows bottom-up with La1 =
    the southern edge, so encode→decode round-trips to the same
    normalized north-first grid. ``bitmap`` (bool, same shape; False =
    missing) adds a BMS and packs only present cells.
    ``reference_value`` defaults to the scaled minimum of the present
    cells (the standard choice); pass it explicitly to pin R for
    bit-exact closed-form oracles.

    ``forecast`` (keys ``unit`` from code table 4, ``value``) makes the
    field a point forecast: time range indicator 0 with P1 = value, or
    TRI 10 (P1 spans octets 19-20) when the value needs 16 bits — the
    layout GFS-style archives use for leads past 255.  ``statistical``
    (keys ``process`` in GRIB2-4.10 numbering — 0 average → TRI 3, 1
    accumulation → TRI 4 — plus ``start``/``end`` and optional
    ``unit``) makes it a period product with P1 = start, P2 = end.
    The two are mutually exclusive (in edition 1 the SAME octets carry
    either the point lead or the interval bounds); the default is an
    analysis field (TRI 0, hour unit, lead 0).

    LAYER level types (code table 3, e.g. 112 = between two depths
    below land) pack octets 11-12 as two 1-octet values: pass the top
    as ``level`` and the bottom as ``level2`` (both 0-255); point
    level types take the plain 16-bit ``level`` and reject ``level2``.

    ``gaussian=True`` writes a global GAUSSIAN grid (data
    representation type 4, the ECMWF F-grid): ``values`` must have an
    even row count (nj = 2N parallels), rows north → south on the
    Legendre quadrature latitudes; ``lat_first_mdeg``/``dlat_mdeg``
    are ignored (La1/La2 come from the quadrature, GDS octets 26-27
    carry N instead of Dj) and only scanning mode 0x00 is supported.

    ``rotated`` (keys ``south_pole_lat``, ``south_pole_lon``,
    optional ``angle``, degrees) writes a ROTATED lat/lon grid (data
    representation type 10 — the COSMO/HIRLAM edition-1 form): the
    axis kwargs are coordinates IN THE ROTATED SYSTEM and the GDS
    grows octets 33-42 (pole in signed-magnitude millidegrees, angle
    as an IBM 32-bit float — prefer IBM-exact angles, e.g. whole
    degrees).

    ``spectral`` (key ``truncation``) writes SPHERICAL-HARMONIC
    coefficients (data representation type 50): GDS octets 7-12 carry
    the J/K/M pentagonal resolution parameters (triangular here:
    all T), octets 13-14 representation type 1 / mode 1, and the BDS
    raises its spherical-harmonics flag with the (0,0) real
    coefficient UNPACKED as an IBM 32-bit float at octets 12-15 and
    every other value of the mode-1 sequence simple-packed after it —
    the edition-1 sibling of GRIB2's 3.50 + 5.50 pair.  ``values`` is
    the 1-D COMPLEX array C_n^m for m = 0..T, n = m..T; m = 0
    coefficients must be real.  No bitmap, no scanning mode.

    ``second_order`` writes the WMO SECOND-ORDER (complex) grid-point
    packing — group minima ("first-order values") at ``nbits`` bits
    plus per-point deviations at per-group widths: key ``groups`` is
    either ``"rows"`` (the default row-by-row form — no secondary
    bitmap, each grid row one group) or an explicit list of group
    sizes (written as a secondary bitmap whose set bits start groups);
    ``varying=True`` stores one width octet per group instead of the
    single constant width.  No primary bitmap, no spectral; composes
    with regular, Gaussian and reduced grids.

    ``reduced_ni`` writes a QUASI-REGULAR (reduced) GAUSSIAN grid —
    ECMWF's native edition-1 archive layout: Ni and Di code missing
    (0xFFFF), the per-parallel point counts land in the GDS PL list
    (octet 5 = 33: the list follows the 32-octet type-4 body), and the
    resolution flags clear the increments-given bit (Di varies per
    row).  ``values`` must be FLAT with sum(reduced_ni) points, rows
    north → south on the Legendre quadrature latitudes, each row a
    full parallel from ``lon_first_mdeg`` with spacing 360/row_ni[j];
    only scanning mode 0x00 — the edition-1 sibling of GRIB2's reduced
    template 3.40.  ``bitmap`` composes: pass it FLAT (sum(reduced_ni)
    bools in storage order) — the masked-ocean-field-on-a-thinned-grid
    shape real ERA5-era archives ship.  ``reduced_latlon=True`` writes
    the REDUCED (thinned) LAT/LON form instead (DWD-era archives):
    same PL machinery on grid type 0 with an AFFINE latitude axis from
    ``lat_first_mdeg``/``dlat_mdeg`` (La1/La2 carry it; Di and Dj code
    missing, the decoder re-derives the step from the span).

    ``predefined_bitmap`` (keys ``number`` 1-65534, ``mask`` — bool,
    same shape as ``values``) writes a CENTRE-PREDEFINED bitmap: BMS
    octets 5-6 carry the catalog number and NO bits ride in the
    section (the mask is pre-agreed between producer and consumer —
    WMO BMS note 2); present cells pack exactly as with an explicit
    ``bitmap``.  The decoder resolves the number through its
    ``predefined_bitmaps`` catalog keyed by (centre, number).
    Mutually exclusive with ``bitmap``."""
    spec_t: int | None = None
    spec_sub: int | None = None
    spec_p = 1.0
    reduced_arr: np.ndarray | None = None
    if reduced_ni is not None:
        reduced_arr = np.asarray(reduced_ni, dtype=np.int64)
        if gaussian or rotated is not None or spectral is not None:
            raise ValueError("choose exactly one grid family")
        if scanning_mode != 0x00:
            raise ValueError(
                "reduced grids support only scanning mode 0x00"
            )
        if len(reduced_arr) < 2 or (reduced_arr <= 0).any():
            raise ValueError(
                "a reduced grid needs >= 2 rows of positive point counts"
            )
        if not reduced_latlon and len(reduced_arr) % 2:
            raise ValueError(
                "a global reduced Gaussian grid has an even positive "
                "parallel count"
            )
        if (reduced_arr >= 0xFFFF).any():
            raise ValueError("points-per-row must fit 16 bits (not 0xFFFF)")
        vals = np.asarray(values, dtype=np.float64)
        if vals.ndim != 1 or len(vals) != int(reduced_arr.sum()):
            raise ValueError(
                "reduced-grid values must be flat with sum(reduced_ni) "
                "points"
            )
        nj, ni = len(reduced_arr), None
    if spectral is not None:
        spec_t = int(spectral["truncation"])
        if spec_t < 1:
            raise ValueError("spectral truncation must be >= 1")
        if gaussian or rotated is not None:
            raise ValueError("choose exactly one grid family")
        if bitmap is not None:
            raise ValueError("spectral data carries no bitmap")
        if scanning_mode != 0x00:
            raise ValueError("spectral data has no scanning mode")
        c = np.asarray(values)
        npairs = (spec_t + 1) * (spec_t + 2) // 2
        if c.ndim != 1 or len(c) != npairs or not np.iscomplexobj(c):
            raise ValueError(
                f"triangular T{spec_t} spectrum is a 1-D complex array of "
                f"{npairs} coefficients (m = 0..T, n = m..T)"
            )
        if float(np.abs(c[: spec_t + 1].imag).max()) != 0.0:
            raise ValueError(
                "m = 0 coefficients of a real field have zero imaginary part"
            )
        vals = np.empty(2 * npairs, dtype=np.float64)
        vals[0::2] = c.real
        vals[1::2] = c.imag
        nj, ni = npairs, 0
        if "sub_truncation" in spectral:
            # COMPLEX packing (BDS flags 0b1100): the n <= TS
            # sub-spectrum rides UNPACKED as IBM-32 floats; every
            # other value is multiplied by the Laplacian weight
            # (n(n+1))^P before simple packing — the same split as
            # GRIB2 template 5.51, on the edition-1 BDS layout
            # (octets 12-13 N, 14-15 IP = P×1000 sign-magnitude,
            # 16-18 J1/K1/M1).
            spec_sub = int(spectral["sub_truncation"])
            spec_p = float(spectral.get("laplacian", 1.0))
            if not 0 <= spec_sub < spec_t:
                raise ValueError(
                    f"sub-truncation {spec_sub} must satisfy "
                    f"0 <= TS < T={spec_t} (n = 0 has zero Laplacian "
                    "weight, so it must ride unpacked)"
                )
            if not abs(round(spec_p * 1000)) < 1 << 15:
                raise ValueError(
                    f"Laplacian power {spec_p} overflows the 16-bit "
                    "IP field (P × 1000, sign-magnitude)"
                )
    elif reduced_arr is None:
        vals = np.asarray(values, dtype=np.float64)
        if vals.ndim != 2:
            raise ValueError("values must be (nj, ni)")
        nj, ni = vals.shape
    if scanning_mode not in (0x00, 0x40):
        raise ValueError(f"unsupported scanning mode 0x{scanning_mode:02x}")
    pre_bm_num: int | None = None
    if predefined_bitmap is not None:
        if bitmap is not None:
            raise ValueError(
                "bitmap and predefined_bitmap are mutually exclusive"
            )
        if spec_t is not None:
            raise ValueError("spectral data carries no bitmap")
        pre_bm_num = int(predefined_bitmap["number"])
        if not 1 <= pre_bm_num <= 0xFFFE:
            # 0 means "bits follow"; 0xFFFF would read as coded-missing
            raise ValueError(
                f"predefined bitmap number {pre_bm_num} out of range 1-65534"
            )
        bitmap = predefined_bitmap["mask"]
    bm = None if bitmap is None else np.asarray(bitmap, dtype=bool)
    if bm is not None and bm.shape != vals.shape:
        raise ValueError("bitmap shape must match values")
    if scanning_mode == 0x40:  # store rows south-first
        vals = vals[::-1]
        bm = None if bm is None else bm[::-1]
    present = vals.reshape(-1)
    if spec_t is not None:
        # the (0,0) real coefficient rides unpacked (IBM-32) ahead of
        # the packed stream; everything else simple-packs
        present = present[1:]
    if bm is not None:
        present = present[bm.reshape(-1)]
    spec_head = b""
    if spec_sub is not None:
        if second_order is not None:
            # same loudness as the simple-spectral combination below —
            # silently dropping a contradictory argument would encode
            # a message that does not reflect the caller's intent
            raise ValueError("second-order packing is grid-point only")
        from .grib2 import _spectral_degrees  # lazy: grib2 imports grib1

        deg2 = _spectral_degrees(spec_t)
        sub_mask = deg2 <= spec_sub
        unpacked_sub = vals[sub_mask]
        dn = deg2[~sub_mask].astype(np.float64)
        scaled = vals[~sub_mask] * (dn * (dn + 1.0)) ** spec_p
        r_bytes, r, x = quantize_simple_packing(
            scaled,
            decimal_scale,
            binary_scale,
            nbits,
            reference_value,
            ibm32_encode,
            ibm32_encode_floor,
            ibm32_decode,
        )
        packed = _pack_bits(x, nbits)
        n1 = 19 + 4 * len(unpacked_sub)  # 1-based packed-stream octet
        if n1 + len(packed) - 1 > 0xFFFF:
            raise ValueError(
                "complex spectral BDS exceeds the 16-bit N pointer"
            )
        spec_head = (
            n1.to_bytes(2, "big")
            + _s16(int(round(spec_p * 1000)))  # IP, sign-magnitude
            + bytes([spec_sub, spec_sub, spec_sub])  # J1/K1/M1
            + b"".join(ibm32_encode(float(u)) for u in unpacked_sub)
        )
        re00 = b""
        unused = (8 - (len(scaled) * nbits) % 8) % 8
        bds_pad = (11 + len(spec_head) + len(packed)) % 2
        unused += 8 * bds_pad
    elif second_order is not None:
        if spec_t is not None:
            raise ValueError("second-order packing is grid-point only")
        if bm is not None:
            raise ValueError(
                "second-order packing with a primary bitmap is not "
                "supported"
            )
        groups = second_order.get("groups", "rows")
        so_varying = bool(second_order.get("varying", False))
        if isinstance(groups, str):
            if groups != "rows":
                raise ValueError(
                    f"second-order groups must be 'rows' or a size "
                    f"list, got {groups!r}"
                )
            so_sizes = (
                [int(n) for n in reduced_arr]
                if reduced_arr is not None
                else [ni] * nj
            )
            so_secondary = False
        else:
            so_sizes = [int(n) for n in groups]
            so_secondary = True
        # 62-bit bound: the quantization only needs the X increments;
        # the real width checks (first-order at nbits, per-group
        # deviation widths) happen in _encode_second_order.
        r_bytes, r, x = quantize_simple_packing(
            present,
            decimal_scale,
            binary_scale,
            62,
            reference_value,
            ibm32_encode,
            ibm32_encode_floor,
            ibm32_decode,
        )
        packed, so_slack = _encode_second_order(
            x, so_sizes, nbits, so_varying, so_secondary
        )
        re00 = b""
        unused = so_slack
        bds_pad = (11 + len(packed)) % 2
        unused += 8 * bds_pad
    else:
        r_bytes, r, x = quantize_simple_packing(
            present,
            decimal_scale,
            binary_scale,
            nbits,
            reference_value,
            ibm32_encode,
            ibm32_encode_floor,
            ibm32_decode,
        )
        packed = _pack_bits(x, nbits)
        re00 = ibm32_encode(float(vals[0])) if spec_t is not None else b""
        # Unused-bit accounting must cover BOTH the sub-byte packing
        # slack AND the even-length pad byte appended below, or a
        # spec-conformant reader deriving the value count from
        # (len−11)·8 − unused reads one garbage value.
        unused = (8 - (len(present) * nbits) % 8) % 8
        bds_pad = (11 + len(re00) + len(packed)) % 2
        unused += 8 * bds_pad  # fits the 4-bit nibble: ≤ 7 + 8 = 15

    if forecast is not None and statistical is not None:
        raise ValueError(
            "forecast and statistical are mutually exclusive in GRIB1 "
            "(octets 19-20 carry either the point lead or the interval)"
        )
    t_unit, p1, p2, tri = 1, 0, 0, 0  # analysis field
    if forecast is not None:
        t_unit, value = int(forecast["unit"]), int(forecast["value"])
        _grib1_hours(t_unit, value)  # validates unit/divisibility
        if 0 <= value <= 0xFF:
            p1, tri = value, 0
        elif value <= 0xFFFF:
            p1, p2, tri = value >> 8, value & 0xFF, 10  # 16-bit P1
        else:
            raise ValueError(f"forecast value {value} exceeds 16 bits")
    elif statistical is not None:
        t_unit = int(statistical.get("unit", 1))
        p1, p2 = int(statistical["start"]), int(statistical["end"])
        # BOTH bounds must convert to whole hours — the decoder reads
        # P1 as forecast_hours and P2 as the interval end, so a
        # sub-hour start would encode a message the engine itself
        # rejects.
        _grib1_hours(t_unit, p1)
        _grib1_hours(t_unit, p2)
        if not 0 <= p1 <= p2 <= 0xFF:
            raise ValueError(
                f"statistical interval ({p1}, {p2}) must satisfy "
                "0 <= start <= end <= 255"
            )
        tri = {0: 3, 1: 4}.get(int(statistical["process"]))
        if tri is None:
            raise ValueError(
                "statistical process must be 0 (average) or 1 "
                "(accumulation) in GRIB2-4.10 numbering"
            )

    if level_type in _LAYER_LEVEL_TYPES:
        if level2 is None:
            raise ValueError(
                f"level type {level_type} is a LAYER type: octets 11-12 "
                "are (top, bottom) — pass level2"
            )
        if not (0 <= level <= 0xFF and 0 <= level2 <= 0xFF):
            raise ValueError(
                f"layer bounds ({level}, {level2}) must each fit one octet"
            )
        level_octets = bytes([level, level2])
    elif level2 is not None:
        raise ValueError(
            f"level type {level_type} is a point level — level2 only "
            "applies to layer types"
        )
    else:
        level_octets = level.to_bytes(2, "big")

    pds = (
        bytes([1])  # parameter table version
        + bytes([74])  # originating centre (UK Met Office — arbitrary)
        + bytes([1])  # generating process
        + bytes([255])  # grid id: defined by GDS
        + bytes([0x80 if bitmap is None else 0xC0])  # GDS present [+ BMS]
        + bytes([parameter, level_type])
        + level_octets
        + bytes(
            [
                (reftime[0] - 1) % 100 + 1,
                reftime[1],
                reftime[2],
                reftime[3],
                reftime[4],
            ]
        )
        + bytes([t_unit, p1, p2, tri])  # octets 18-21
        + bytes([0, 0, 0])  # number in average, missing
        + bytes([(reftime[0] - 1) // 100 + 1])  # century
        + bytes([0])  # subcentre
        + _s16(decimal_scale)
    )
    pds = _u24(3 + len(pds)) + pds

    if gaussian and rotated is not None:
        raise ValueError("choose exactly one grid family")
    if spec_t is not None:
        grid_type = _GRID_SPECTRAL
    elif reduced_arr is not None:
        if reduced_latlon:
            # thinned lat/lon: affine latitude axis in La1/La2, both
            # increments coded missing (Di varies per row; the decoder
            # re-derives Dj from the span)
            if dlat_mdeg <= 0:
                raise ValueError(
                    "reduced lat/lon needs a positive dlat_mdeg"
                )
            la1 = lat_first_mdeg
            la2 = lat_first_mdeg - (nj - 1) * dlat_mdeg
            row24_27 = b"\xff\xff\xff\xff"
            grid_type = _GRID_LATLON
        else:
            from .grib2 import gaussian_latitudes  # lazy: grib2 imports grib1

            lats = gaussian_latitudes(nj)
            la1 = int(round(float(lats[0]) * 1000))
            la2 = int(round(float(lats[-1]) * 1000))
            # Di codes missing (it varies per row); octets 26-27 carry N.
            row24_27 = b"\xff\xff" + (nj // 2).to_bytes(2, "big")
            grid_type = _GRID_GAUSSIAN
    elif gaussian:
        if scanning_mode != 0x00:
            raise ValueError(
                "Gaussian grids support only scanning mode 0x00 "
                "(north row first)"
            )
        if nj % 2:
            raise ValueError("a global Gaussian grid has an even row count")
        from .grib2 import gaussian_latitudes  # lazy: grib2 imports grib1

        lats = gaussian_latitudes(nj)
        la1 = int(round(float(lats[0]) * 1000))
        la2 = int(round(float(lats[-1]) * 1000))
        # Octets 24-25 carry Di as on type 0; octets 26-27 carry N
        # (parallels between a pole and the equator) instead of Dj.
        row24_27 = dlon_mdeg.to_bytes(2, "big") + (nj // 2).to_bytes(2, "big")
        grid_type = _GRID_GAUSSIAN
    else:
        lat_south = lat_first_mdeg - (nj - 1) * dlat_mdeg
        la1, la2 = (
            (lat_south, lat_first_mdeg) if scanning_mode == 0x40
            else (lat_first_mdeg, lat_south)
        )
        row24_27 = dlon_mdeg.to_bytes(2, "big") + dlat_mdeg.to_bytes(2, "big")
        grid_type = _GRID_LATLON
    gds_extra = b""
    if rotated is not None:
        # Octets 33-42: south pole of rotation (signed-magnitude
        # millidegrees) + angle of rotation (IBM 32-bit float).
        grid_type = _GRID_ROTATED
        sp_lat = float(rotated["south_pole_lat"])
        if not -90.0 <= sp_lat <= 90.0:
            raise ValueError("rotated-grid southern pole latitude out of range")
        gds_extra = (
            _s24(int(round(sp_lat * 1000)))
            + _s24(int(round(float(rotated["south_pole_lon"]) * 1000)))
            + ibm32_encode(float(rotated.get("angle", 0.0)))
        )
    if spec_t is not None:
        # GDS type 50 (spherical harmonics): octets 7-8/9-10/11-12
        # carry J/K/M, octet 13 the representation type (1 = associated
        # Legendre of the first kind), octet 14 the mode (1 = the
        # standard complex ordering) — padded to the 32-octet layout.
        gds = (
            bytes([0, 255])  # NV=0, PV=255 (none)
            + bytes([grid_type])
            + spec_t.to_bytes(2, "big")  # J
            + spec_t.to_bytes(2, "big")  # K
            + spec_t.to_bytes(2, "big")  # M
            + bytes([1, 1])  # representation type 1, mode 1
            + bytes(18)  # reserved padding to the 32-octet layout
        )
    elif reduced_arr is not None:
        # Reduced Gaussian GDS: Ni missing, PL list after the 32-octet
        # body (octet 5 = 33), increments-given flag CLEAR (Di varies
        # per row), Lo2 = the easternmost point of the widest parallel.
        nmax = int(reduced_arr.max())
        lo2 = lon_first_mdeg + int(round((nmax - 1) * 360_000.0 / nmax))
        gds = (
            bytes([0, 33])  # NV=0, PL at octet 33
            + bytes([grid_type])
            + b"\xff\xff"  # Ni coded missing: quasi-regular rows
            + nj.to_bytes(2, "big")
            + _s24(la1)
            + _s24(lon_first_mdeg)
            + bytes([0x00])  # resolution flags: increments NOT given
            + _s24(la2)
            + _s24(lo2)
            + row24_27
            + bytes([scanning_mode])
            + bytes(4)  # reserved padding to the 32-byte layout
            + b"".join(int(k).to_bytes(2, "big") for k in reduced_arr)
        )
    else:
        gds = (
            bytes([0, 255])  # NV=0, PV=255 (none)
            + bytes([grid_type])
            + ni.to_bytes(2, "big")
            + nj.to_bytes(2, "big")
            + _s24(la1)
            + _s24(lon_first_mdeg)
            + bytes([0x80])  # resolution/component flags: increments given
            + _s24(la2)
            + _s24(lon_first_mdeg + (ni - 1) * dlon_mdeg)
            + row24_27
            + bytes([scanning_mode])  # 0x00 = +i,−j; 0x40 = +i,+j (south 1st)
            + bytes(4)  # reserved padding to the 32-byte layout
            + gds_extra  # type 10: rotation pole + angle (octets 33-42)
        )
    gds = _u24(3 + len(gds)) + gds

    bms = b""
    if pre_bm_num is not None:
        # Centre-predefined bitmap: octets 5-6 carry the catalog
        # NUMBER and no bits ride in the section (body = unused octet
        # + number = 3; 3 + 3 length = 6, already even, nothing
        # unused) — the mask is pre-agreed, the decoder resolves it
        # through its (centre, number) catalog.
        bms = _u24(6) + bytes([0]) + pre_bm_num.to_bytes(2, "big")
    elif bitmap is not None:
        bm_bits = np.packbits(bm.reshape(-1).astype(np.uint8)).tobytes()
        pad = (3 + 3 + len(bm_bits)) % 2  # BMS length must be even
        # The unused-bits octet covers BOTH the sub-byte packing slack
        # AND the even-length pad byte — same accounting as the BDS — so
        # a reader deriving the bitmap bit count from (len − 6)·8 −
        # unused sees exactly ni·nj bits, never 8 spurious trailing ones.
        bm_unused = (8 - (bm.size % 8)) % 8 + 8 * pad
        body = bytes([bm_unused]) + bytes([0, 0]) + bm_bits + bytes(pad)
        bms = _u24(3 + len(body)) + body

    # BDS flag nibble: bit 1 spherical harmonics; bits 2+4 together
    # mark grid-point second-order packing with the octet-14 extended
    # flags (the stream pointers live there).
    if spec_t is not None:
        bds_flags = 0b1000 | (0b0100 if spec_sub is not None else 0)
    elif second_order is not None:
        bds_flags = 0b0101
    else:
        bds_flags = 0b0000
    bds_body = (
        bytes([(bds_flags << 4) | unused])
        + _s16(binary_scale)
        + r_bytes
        + bytes([nbits])
        + spec_head  # complex spectral only: N/IP/J1K1M1 + sub-spectrum
        + re00  # simple spectral only: unpacked (0,0) real (octets 12-15)
        + packed
        + bytes(bds_pad)  # even-length pad, counted in ``unused``
    )
    bds = _u24(3 + len(bds_body)) + bds_body

    total = 8 + len(pds) + len(gds) + len(bms) + len(bds) + 4
    return (
        MAGIC + _u24(total) + bytes([EDITION]) + pds + gds + bms + bds + TERMINATOR
    )


# Indicator octets and the least total length per edition: an edition-1
# indicator is 8 octets with a 24-bit length, an edition-2 one 16 octets
# with a 64-bit length; a message must also hold the 4-octet 7777.
_INDICATORS = {1: (8, 12), 2: (16, 20)}


def iter_grib_messages(buf: bytes, edition: int | None = None):
    """Scan a (possibly multi-record, possibly mixed-edition) GRIB file:
    yield (edition, message bytes) per message, in order.  Real archives
    mix editions across products (ERA5 surface vs wave, GFS), so the
    edition is read per message from the indicator; ``edition`` makes
    any other edition a loud stop."""
    buf = bytes(buf)
    pos = 0
    n = len(buf)
    while pos < n:
        idx = buf.find(MAGIC, pos)
        if idx < 0:
            return
        if idx + 8 > n:
            raise ValueError("truncated GRIB indicator section")
        ed = buf[idx + 7]
        if ed not in _INDICATORS or edition not in (None, ed):
            raise ValueError(f"unsupported GRIB edition {ed}")
        head, least = _INDICATORS[ed]
        if idx + head > n:
            raise ValueError("truncated GRIB indicator section")
        # Read the length in place: slicing the rest of the buffer per
        # record would copy O(n²) bytes on many-record files.
        total = _r24(buf, idx + 4) if ed == 1 else int.from_bytes(
            buf[idx + 8 : idx + 16], "big"
        )
        if total < least:
            # A zeroed/implausible length is a framing error: end <= idx
            # would re-find the same magic forever (an unbounded scan),
            # and the terminator check would read bytes BEFORE this
            # message (the previous record's own 7777 would "pass").
            raise ValueError(
                f"GRIB{ed} indicator declares impossible length {total}"
            )
        end = idx + total
        if end > n:
            raise ValueError("truncated GRIB message")
        if buf[end - 4 : end] != TERMINATOR:
            raise ValueError("missing 7777 terminator")
        yield ed, buf[idx:end]
        pos = end


def iter_messages(buf: bytes):
    """Scan a (possibly multi-record) GRIB1 file: yield each message's
    exact bytes in order — the record inventory ``wgrib`` prints."""
    for _, msg in iter_grib_messages(buf, EDITION):
        yield msg


def select_record(buf: bytes, record_number: int) -> bytes:
    """``wgrib input -d N -grib`` parity: the Nth (1-based) message as a
    standalone GRIB1 file (/root/reference/src/file-conversions.js:120-127)."""
    if record_number < 1:
        raise ValueError("record_number is 1-based")
    i = 0
    for i, msg in enumerate(iter_messages(buf), start=1):
        if i == record_number:
            return msg
    # a data-level defect, not an engine bug: ValueError like every
    # other codec-boundary reject, so a quarantine-mode caller lands it
    # as a manifest row instead of crashing the job
    raise ValueError(f"record {record_number} not in file ({i} records)")


@loud_truncation
def inspect_grib1(msg: bytes) -> dict:
    """Header-only record inspection — ``wgrib``'s inventory line
    without touching the packed data. Parses PDS + GDS (+ BMS/BDS
    LENGTHS only); never unpacks a value bit, so inventorying a 100 TB
    archive reads a few hundred bytes per record. Returns the metadata
    the reference's inventory/record-select step keys on
    (/root/reference/src/file-conversions.js:120-127 picks records by
    number; real wgrib prints exactly these fields)."""
    msg = bytes(msg)
    _check_grib1_envelope(msg)
    total_len = _r24(msg, 4)
    pos = 8
    pds_len = _r24(msg, pos)
    pds = msg[pos : pos + pds_len]
    has_gds = bool(pds[7] & 0x80)
    has_bms = bool(pds[7] & 0x40)
    century = pds[24]
    lt, lv, lv2 = _decode_level(pds)
    year = (century - 1) * 100 + pds[12]
    reftime = (year, pds[13], pds[14], pds[15], pds[16])
    # Lenient lead decoding: a mixed archive may hold records with
    # calendar-unit leads or reinterpreting time range indicators
    # (climatology TRIs, valid-between).  The INVENTORY must still list
    # them — wgrib lists every record — so a non-hour-convertible lead
    # surfaces as forecast_hours=None instead of aborting the whole
    # file's scan; the FULL decode path (decode_grib1) keeps the loud
    # stop, because there a wrong valid time corrupts data downstream.
    try:
        _, forecast_hours, stat_process, _ = _decode_pds_time(pds, reftime)
    except ValueError:
        forecast_hours = stat_process = None
    out = {
        "parameter": pds[8],
        "level_type": lt,
        "level": lv,
        "level2": lv2,
        "year": year,
        "month": pds[13],
        "day": pds[14],
        "hour": pds[15],
        "minute": pds[16],
        "forecast_hours": forecast_hours,
        "statistical_process": stat_process,
        "decimal_scale": _rs16(pds, 26),
        "has_bitmap": has_bms,
        "total_bytes": total_len,
    }
    pos += pds_len
    if has_gds:
        gds = msg[pos : pos + _r24(msg, pos)]
        out["grid_type"] = gds[5]
        if gds[5] == _GRID_SPECTRAL:
            # octets 7-12 are J/K/M, not Ni/Nj — the inventory LISTS
            # spectral records (wgrib lists them) with NULL dimensions
            out["ni"] = out["nj"] = None
        else:
            ni_raw = int.from_bytes(gds[6:8], "big")
            # Quasi-regular (reduced) grids code Ni missing: the
            # inventory LISTS them with NULL ni (wgrib lists them; the
            # per-row counts have no single-column rendering) — letting
            # the 0xFFFF sentinel through would inventory a garbage
            # dimension.
            out["ni"] = None if ni_raw == 0xFFFF else ni_raw
            out["nj"] = int.from_bytes(gds[8:10], "big")
        pos += _r24(msg, pos)
    if has_bms:
        pos += _r24(msg, pos)
    bds = msg[pos : pos + 11]
    out["binary_scale"] = _rs16(bds, 4)
    out["nbits"] = bds[10]
    return out


def _decode_level(pds: bytes) -> tuple[int, int, int | None]:
    """PDS octets 10-12 → (level_type, level, level2).  LAYER types
    (_LAYER_LEVEL_TYPES) split octets 11-12 as (top, bottom); point
    types read the plain 16-bit level with level2 = None.  ONE helper
    shared by the full decode and the header-only inventory path, so
    the two can never disagree on the same record's level."""
    level_type = pds[9]
    if level_type in _LAYER_LEVEL_TYPES:
        return level_type, pds[10], pds[11]
    return level_type, int.from_bytes(pds[10:12], "big"), None


def _decode_pds_time(
    pds: bytes, reftime: tuple[int, int, int, int, int]
) -> tuple[int, int, int | None, tuple[int, int, int, int, int] | None]:
    """PDS octets 18-21 → (time range indicator, forecast_hours,
    statistical_process, interval_end), normalized to the cross-edition
    landing surface (see :class:`Grib1Record`).

    Supported time range indicators (WMO code table 5): 0 (forecast at
    ref + P1), 1 (initialized analysis), 3 (average over ref+P1 …
    ref+P2 → process 0), 4 (accumulation over the same → process 1)
    and 10 (P1 spans octets 19-20 — leads past 255).  Anything else —
    valid-between (2), difference (5), climatological means (51,
    113+) — stops loudly: each reinterprets P1/P2, and a decoder that
    guessed would stamp wrong valid times silently."""
    unit, o19, o20, tri = pds[17], pds[18], pds[19], pds[20]
    stat_process = interval_end = None
    if tri == 0:
        forecast_hours = _grib1_hours(unit, o19)
    elif tri == 1:  # initialized analysis: valid AT the reference time
        forecast_hours = 0
    elif tri in (3, 4):
        forecast_hours = _grib1_hours(unit, o19)
        end = datetime.datetime(*reftime) + datetime.timedelta(
            hours=_grib1_hours(unit, o20)
        )
        interval_end = (end.year, end.month, end.day, end.hour, end.minute)
        stat_process = 0 if tri == 3 else 1  # GRIB2 code-table-4.10 numbers
    elif tri == 10:
        forecast_hours = _grib1_hours(unit, (o19 << 8) | o20)
    else:
        raise ValueError(f"unsupported GRIB1 time range indicator {tri}")
    return tri, forecast_hours, stat_process, interval_end


@loud_truncation
def decode_grib1(
    msg: bytes,
    predefined_bitmaps: dict | None = None,
) -> Grib1Record:
    """Decode one GRIB1 message.

    ``predefined_bitmaps`` is the consumer-side catalog of
    CENTRE-PREDEFINED bitmaps keyed by ``(centre, number)`` → flat
    bool mask: a BMS whose octets 5-6 carry a nonzero number ships NO
    bits (the mask is pre-agreed — WMO BMS note 2), so a record using
    one resolves its mask here and stops loudly, naming centre and
    number, when the catalog doesn't carry it — guessing a mask would
    scatter every present value to the wrong cell."""
    msg = bytes(msg)
    _check_grib1_envelope(msg)
    pos = 8

    # -- PDS --
    pds_len = _r24(msg, pos)
    pds = msg[pos : pos + pds_len]
    has_gds = bool(pds[7] & 0x80)
    has_bms = bool(pds[7] & 0x40)
    parameter = pds[8]
    level_type, level, level2 = _decode_level(pds)
    century = pds[24]
    year = (century - 1) * 100 + pds[12]
    reftime = (year, pds[13], pds[14], pds[15], pds[16])
    decimal_scale = _rs16(pds, 26)
    time_range_indicator, forecast_hours, stat_process, interval_end = (
        _decode_pds_time(pds, reftime)
    )
    pos += pds_len
    if not has_gds:
        raise ValueError("messages without a GDS are not supported")

    # -- GDS --
    gds_len = _r24(msg, pos)
    gds = msg[pos : pos + gds_len]
    if gds[5] not in (
        _GRID_LATLON, _GRID_GAUSSIAN, _GRID_ROTATED, _GRID_SPECTRAL
    ):
        raise ValueError(f"unsupported grid type {gds[5]}")
    spectral_truncation: int | None = None
    if gds[5] == _GRID_SPECTRAL:
        # GDS type 50 (spherical harmonic coefficients): octets 7-12
        # are the J/K/M pentagonal resolution parameters -- NOT Ni/Nj
        # -- then representation type (13) and mode (14).  Only the
        # triangular J = K = M truncation in type-1 mode-1 ordering is
        # supported; anything else reorders the coefficient sequence
        # and guessing would synthesize a garbage field.  No grid, no
        # scanning, no bitmap: the record's values are the flat re/im
        # sequence, and synthesis to a Gaussian grid
        # (grib2.spectral_synthesis) is an explicit step.
        sj = int.from_bytes(gds[6:8], "big")
        sk = int.from_bytes(gds[8:10], "big")
        sm = int.from_bytes(gds[10:12], "big")
        if not (sj == sk == sm) or sj < 1:
            raise ValueError(
                f"only triangular spectral truncation supported "
                f"(J={sj}, K={sk}, M={sm})"
            )
        if gds[12] != 1 or gds[13] != 1:
            raise ValueError(
                f"unsupported spectral representation type {gds[12]} / "
                f"mode {gds[13]}"
            )
        if has_bms:
            raise ValueError("spectral data carries no bitmap")
        spectral_truncation = int(sj)
        ni, nj = None, (sj + 1) * (sj + 2) // 2
        lat_first = lon_first = 0
        dlat = dlon = 0
        scan = 0x00
        gaussian_n = None
        latitudes = None
        rotated_pole = None
        row_ni = None
    else:
        ni = int.from_bytes(gds[6:8], "big")
        row_ni = None
        if ni == 0xFFFF and gds[5] not in (_GRID_GAUSSIAN, _GRID_LATLON):
            # QUASI-REGULAR geometry beyond the two archive forms
            # (reduced Gaussian — ECMWF; reduced/thinned lat/lon —
            # DWD-era): rotated/spectral thinned grids have no per-row
            # machinery here, and reading 65535 as a literal column
            # count would fail deep in the bit unpack with an
            # inscrutable reshape error — stop loudly at the GDS.
            raise ValueError(
                f"quasi-regular (thinned) GRIB1 grid type {gds[5]} is "
                "not supported (Ni coded missing with per-row point "
                "counts is decoded for Gaussian and lat/lon grids only)"
            )
        nj = int.from_bytes(gds[8:10], "big")
        lat_first = _rs24(gds, 10)
        lon_first = _rs24(gds, 13)
        # Silent geography corruption is worse than a loud stop: an
        # unsupported scanning mode reorders the cells, and unset resolution
        # flags mean the increment fields are not given. Mode 0x40 (+j,
        # south row first — common in regional products) is a pure row
        # reorder and IS supported: the record normalizes to the engine's
        # +i,−j north-first view (rows flipped, lat_first = northern edge).
        scan = gds[27]
        if scan not in (0x00, 0x40):
            raise ValueError(
                f"unsupported scanning mode 0x{scan:02x} (only +i,±j row-major)"
            )
        if ni == 0xFFFF:
            # REDUCED Gaussian grid (ECMWF's native edition-1 archive
            # layout — the CDS ERA5 feed the reference's wgrib path
            # consumes): Ni coded missing, the per-parallel point
            # counts in the GDS PL list.  Octet 4 (0-based gds[3]) is
            # NV, octet 5 (gds[4]) the 1-based location of the first
            # optional list; NV 4-octet vertical-coordinate floats
            # precede the PL row counts when present.  Di is NOT given
            # (it varies per row), so the resolution-flag gate below
            # moves inside the regular branch.
            if gds[4] == 0xFF:
                raise ValueError(
                    "reduced (quasi-regular) grid without a "
                    "points-per-row list (GDS octet 5 coded missing)"
                )
            pl0 = (gds[4] - 1) + 4 * gds[3]
            if pl0 < 32:
                # The optional lists follow the fixed 32-octet type-4
                # body; a pointer into the body would read header
                # octets (Nj, La1, ...) as row counts — garbage counts
                # that happen to be positive would then silently
                # mis-slice every packed value.
                raise ValueError(
                    f"points-per-row list pointer {gds[4]} lands inside "
                    "the fixed GDS body"
                )
            if len(gds) < pl0 + 2 * nj:
                raise ValueError("truncated points-per-row list")
            row_ni = np.array(
                [
                    int.from_bytes(gds[pl0 + 2 * k : pl0 + 2 * k + 2], "big")
                    for k in range(nj)
                ],
                dtype=np.int64,
            )
            if (row_ni <= 0).any():
                raise ValueError(
                    "points-per-row list holds a zero/missing count"
                )
            # Full-parallel cross-check: the decoder's longitude model
            # is lon_first + i·360/row_ni[j], so Lo2 (octets 21-23 —
            # the easternmost point of the widest parallel) must agree
            # with it.  A SECTOR/regional thinned grid would otherwise
            # decode with silently fabricated global longitudes — the
            # same silent-geography class the La1/quadrature gate stops.
            lo2 = _rs24(gds, 20)
            nmax = int(row_ni.max())
            lo2_expect = lon_first + round((nmax - 1) * 360_000.0 / nmax)
            if abs(lo2 - lo2_expect) > 2:
                raise ValueError(
                    f"reduced grid is not full-parallel: GDS "
                    f"Lo2 {lo2} mdeg does not match the widest row's "
                    f"easternmost point {lo2_expect} mdeg (sector/"
                    "regional thinned grids are not supported)"
                )
            reduced_lats: np.ndarray | None = None
            if gds[5] == _GRID_LATLON:
                # REDUCED (thinned) LAT/LON — the DWD-era edition-1
                # form: the latitude axis is AFFINE (La1 → La2 over nj
                # parallels), rows ragged like the Gaussian form.  Dj
                # comes from octets 26-27 when the increments-given
                # flag is set, else derives exactly from the La1→La2
                # span; a non-dividing span is a corrupt GDS, not a
                # rounding choice.
                if scan != 0x00:
                    raise ValueError(
                        "reduced lat/lon grids support only scanning "
                        "mode 0x00"
                    )
                la2 = _rs24(gds, 17)
                if nj < 2:
                    raise ValueError(
                        "a reduced lat/lon grid needs at least 2 rows"
                    )
                if gds[16] & 0x80:
                    dlat_r = int.from_bytes(gds[25:27], "big")
                    if dlat_r <= 0 or dlat_r == 0xFFFF:
                        # a zero/missing Dj with the flag SET would
                        # collapse every parallel onto one latitude —
                        # the same silent-geography class the derived
                        # branch's span<=0 guard stops
                        raise ValueError(
                            f"reduced lat/lon Dj {dlat_r} mdeg is "
                            "zero/missing despite the increments-given "
                            "flag"
                        )
                    if lat_first - (nj - 1) * dlat_r != la2:
                        raise ValueError(
                            f"GDS La2 {la2} mdeg does not match La1 - "
                            f"(Nj-1)*Dj = {lat_first - (nj - 1) * dlat_r}"
                        )
                else:
                    span = lat_first - la2
                    if span <= 0 or span % (nj - 1):
                        raise ValueError(
                            f"reduced lat/lon latitude span {span} mdeg "
                            f"does not divide evenly over {nj - 1} steps"
                        )
                    dlat_r = span // (nj - 1)
                reduced_lats = (
                    lat_first - dlat_r * np.arange(nj, dtype=np.float64)
                ) / 1e3
            ni = None
            dlon = 0  # no common Di on ragged rows
        else:
            if not gds[16] & 0x80:
                raise ValueError(
                    "direction increments not given (resolution flags)"
                )
            dlon = int.from_bytes(gds[23:25], "big")
        gaussian_n = None
        latitudes = None
        if gds[5] == _GRID_GAUSSIAN:
            # Octets 26-27 are N (parallels pole→equator), NOT Dj.  The
            # exact row latitudes are the Legendre quadrature nodes —
            # recomputed, with the GDS's rounded La1 as a cross-check so a
            # mislabeled grid can't silently inherit wrong geography.
            if scan != 0x00:
                raise ValueError(
                    "Gaussian grids support only scanning mode 0x00"
                )
            gaussian_n = int.from_bytes(gds[25:27], "big")
            if nj != 2 * gaussian_n:
                raise ValueError(
                    f"non-global Gaussian grid (nj={nj}, N={gaussian_n}) "
                    "not supported"
                )
            from .grib2 import gaussian_latitudes  # lazy: grib2 imports grib1

            latitudes = gaussian_latitudes(nj)
            if abs(lat_first - round(float(latitudes[0]) * 1000)) > 1:
                raise ValueError(
                    f"GDS La1 {lat_first} mdeg does not match the N={gaussian_n} "
                    f"quadrature first parallel "
                    f"{round(float(latitudes[0]) * 1000)} mdeg"
                )
            dlat = 0  # no affine latitude step on a Gaussian grid
        else:
            dlat = int.from_bytes(gds[25:27], "big")
        if row_ni is not None and reduced_lats is not None:
            # reduced lat/lon: the per-row AFFINE latitudes ride the
            # same ``latitudes_deg`` surface the Gaussian reduced form
            # uses (no affine axis is exposed on ragged rows — octets
            # 25-27 may be coded missing and were read raw above)
            latitudes = reduced_lats
            dlat = 0
        rotated_pole = None
        if gds[5] == _GRID_ROTATED:
            # Rotated lat/lon (type 10 — the COSMO/HIRLAM edition-1 form):
            # the type-0 layout's axes are coordinates IN THE ROTATED
            # SYSTEM; octets 33-42 append the south pole of rotation
            # (signed-magnitude mdeg) and the angle (IBM 32-bit float).
            if len(gds) < 42:
                raise ValueError("truncated rotated lat/lon GDS")
            rotated_pole = (
                _rs24(gds, 32) / 1e3,
                _rs24(gds, 35) / 1e3,
                ibm32_decode(gds[38:42]),
            )
            if not -90.0 <= rotated_pole[0] <= 90.0:
                raise ValueError(
                    "rotated-grid southern pole latitude out of range"
                )
    pos += gds_len

    # -- BMS --
    total_cells = None
    if spectral_truncation is None:
        total_cells = int(row_ni.sum()) if row_ni is not None else ni * nj
    bitmap = None
    if has_bms:
        # (spectral + BMS already stopped in the GDS type-50 branch,
        # so total_cells is always an int here)
        bms_len = _r24(msg, pos)
        bms = msg[pos : pos + bms_len]
        pre_num = int.from_bytes(bms[4:6], "big")
        if pre_num != 0:
            # CENTRE-PREDEFINED bitmap: no bits ride in the section —
            # the mask is pre-agreed (WMO BMS note 2) and must come
            # from the caller's (centre, number) catalog.  PDS octet 5
            # names the originating centre.
            centre = pds[4]
            mask = (predefined_bitmaps or {}).get((centre, pre_num))
            if mask is None:
                raise ValueError(
                    f"predefined bitmap {pre_num} of centre {centre} "
                    "is not in the supplied catalog (pass "
                    "predefined_bitmaps={(centre, number): mask})"
                )
            bits = np.asarray(mask, dtype=bool).reshape(-1)
            if bits.size != total_cells:
                raise ValueError(
                    f"predefined bitmap {pre_num} of centre {centre} "
                    f"holds {bits.size} cells, grid has {total_cells}"
                )
            bitmap = bits
            pos += bms_len
        else:
            bits = np.unpackbits(
                np.frombuffer(bms[6:], dtype=np.uint8)
            )[:total_cells]
            if bits.size < total_cells:
                # a too-short bitmap must stop, not silently mask a prefix
                raise ValueError(
                    f"bitmap holds {bits.size} bits, grid has "
                    f"{total_cells} cells"
                )
            bitmap = bits.astype(bool)
            pos += bms_len

    # -- BDS --
    bds_len = _r24(msg, pos)
    bds = msg[pos : pos + bds_len]
    flags = bds[3] >> 4
    # Flag bit 1 (0b1000): spherical-harmonic coefficients.  It must
    # agree with the GDS type — a gridpoint payload read "as spectral"
    # (or vice versa) decodes a garbage field with plausible statistics.
    if bool(flags & 0b1000) != (spectral_truncation is not None):
        raise ValueError(
            "BDS spherical-harmonics flag disagrees with the GDS grid type"
        )
    second_order = False
    spectral_complex = False
    if flags & 0b0100:
        if spectral_truncation is not None:
            # The edition-1 COMPLEX spherical-harmonic form (the
            # ECMWF gribex compact archive layout) — decoded below on
            # the same sub-spectrum split as its GRIB2 sibling 5.51.
            if flags & 0b0001:
                # octet-14 extended flags are a GRID-POINT layout; on
                # a spectral BDS the same octets hold IP — reading
                # them as flags would mis-place the whole stream
                raise ValueError(
                    "complex spherical-harmonic packing with octet-14 "
                    "extended flags is malformed"
                )
            spectral_complex = True
        else:
            if not flags & 0b0001:
                # Grid-point second-order packing always carries the
                # octet-14 extended flags (they hold the stream
                # pointers) — without them the layout is unknowable.
                raise ValueError(
                    "second-order packing without the octet-14 extended "
                    "flags is malformed"
                )
            if bitmap is not None:
                # The primary-bitmap + row-grouped combination leaves
                # the group membership of masked rows producer-defined
                # — stop loudly rather than guess.
                raise ValueError(
                    "second-order packing with a primary bitmap is not "
                    "supported"
                )
            second_order = True
    elif flags & 0b0001:
        # Flag bit 4 alone: additional flags at octet 14 WITHOUT the
        # second-order bit (matrix-of-values forms).  The packed stream
        # then starts PAST octet 12, so reading the standard layout
        # would decode offset garbage with plausible statistics.
        raise ValueError(
            "extended BDS layout (octet-14 additional flags) without "
            "second-order packing is not supported"
        )
    unused = bds[3] & 0x0F
    binary_scale = _rs16(bds, 4)
    r = ibm32_decode(bds[6:10])
    nbits = bds[10]
    spectral_sub: int | None = None
    if spectral_complex:
        # Edition-1 COMPLEX spherical-harmonic packing (the ECMWF
        # gribex archive form — WMO FM-92 section 4 complex packing of
        # spherical harmonics): octets 12-13 N (1-based pointer to the
        # packed stream), 14-15 IP = P×1000 (sign-magnitude), 16-18
        # J1/K1/M1 the sub-spectrum truncation; the n <= TS
        # coefficients ride UNPACKED as IBM-32 floats at octets
        # 19..N-1 and every remaining value of the mode-1 sequence was
        # multiplied by the Laplacian weight (n(n+1))^P before simple
        # packing — the SAME split as GRIB2 template 5.51
        # (grib2._decode_field), so mixed-edition spectral archives
        # decode to identical coefficient sequences.
        from .grib2 import _spectral_degrees

        if bds_len < 19:
            raise ValueError("truncated complex spherical-harmonics BDS")
        n1 = int.from_bytes(bds[11:13], "big")
        lap_p = _rs16(bds, 13) / 1000.0
        j1, k1, m1 = bds[15], bds[16], bds[17]
        if not (j1 == k1 == m1) or j1 >= spectral_truncation:
            raise ValueError(
                f"only triangular sub-truncation below T supported "
                f"(J1={j1}, K1={k1}, M1={m1}, T={spectral_truncation})"
            )
        deg2 = _spectral_degrees(spectral_truncation)
        sub = deg2 <= j1
        n_sub = int(sub.sum())
        if n1 - 1 != 18 + 4 * n_sub:
            # the pointer is redundant with J1 under the triangular
            # layout; a disagreement means one of them is corrupt and
            # trusting either would mis-slice every coefficient
            raise ValueError(
                f"complex spectral pointer N={n1} disagrees with the "
                f"TS={j1} sub-spectrum ({n_sub} unpacked values)"
            )
        if bds_len < n1 - 1:
            raise ValueError("truncated spectral sub-spectrum")
        unpacked = np.array(
            [
                ibm32_decode(bds[18 + 4 * i : 22 + 4 * i])
                for i in range(n_sub)
            ]
        )
        n_present = int(deg2.size) - n_sub
        if nbits:
            need = (n_present * nbits + 7) // 8
            x = _unpack_bits(bds[n1 - 1 : n1 - 1 + need], n_present, nbits)
            rest = (
                r + x.astype(np.float64) * (2.0 ** binary_scale)
            ) / (10.0 ** decimal_scale)
        else:  # constant packed remainder
            rest = np.full(n_present, r / (10.0 ** decimal_scale))
        dn = deg2[~sub].astype(np.float64)
        values = np.empty(deg2.size)
        values[sub] = unpacked
        values[~sub] = rest * (dn * (dn + 1.0)) ** (-lap_p)
        spectral_sub = int(j1)
    elif spectral_truncation is not None:
        # Spectral simple packing: the (0,0) real coefficient rides
        # UNPACKED as an IBM-32 float at octets 12-15 (raw, UNSCALED —
        # wgrib's BDS_unpack emits the harmonic reference into data[0]
        # with no 10^-D factor while ref/scale both carry it, and
        # GRIB2 template 5.50 stores its unpacked value raw the same
        # way; pinned by test_spectral_decimal_scale_leaves_00_
        # coefficient_raw); the remaining 2·pairs − 1 values of the
        # mode-1 sequence simple-pack in the Y·10^D domain after.
        if bds_len < 15:
            raise ValueError("truncated spherical-harmonics BDS")
        n_present = 2 * nj - 1
        re00 = ibm32_decode(bds[11:15])
        if nbits:
            need = (n_present * nbits + unused) // 8
            x = _unpack_bits(bds[15 : 15 + need], n_present, nbits)
            rest = (
                r + x.astype(np.float64) * (2.0 ** binary_scale)
            ) / (10.0 ** decimal_scale)
        else:  # constant spectrum
            rest = np.full(n_present, r / (10.0 ** decimal_scale))
        values = np.concatenate(([re00], rest))
    else:
        n_present = int(bitmap.sum()) if bitmap is not None else total_cells
        if second_order:
            # WMO second-order (complex) grid-point packing: group
            # minima at the octet-11 width plus per-point deviations —
            # without a secondary bitmap each ROW is a group, the
            # standard row-by-row form (works for regular, Gaussian
            # and reduced rows alike).
            row_lengths = row_ni if row_ni is not None else [ni] * nj
            x = _decode_second_order(bds, n_present, nbits, row_lengths)
            present_vals = (
                r + x.astype(np.float64) * (2.0 ** binary_scale)
            ) / (10.0 ** decimal_scale)
        elif nbits:
            need = (n_present * nbits + unused) // 8
            x = _unpack_bits(bds[11 : 11 + need], n_present, nbits)
            present_vals = (
                r + x.astype(np.float64) * (2.0 ** binary_scale)
            ) / (10.0 ** decimal_scale)
        else:  # constant field
            present_vals = np.full(n_present, r / (10.0 ** decimal_scale))

        if bitmap is not None:
            values = np.full(total_cells, np.nan)
            values[bitmap] = present_vals
        else:
            values = present_vals
        if row_ni is not None:
            # ragged rows can't reshape: values stay FLAT in storage
            # order (scan 0x00 enforced by the Gaussian branch above)
            pass
        else:
            values = values.reshape(nj, ni)
            if scan == 0x40:  # south-first storage → normalize north-first
                values = values[::-1]
                lat_first = lat_first + (nj - 1) * dlat  # La1 was south edge
    return Grib1Record(
        parameter=parameter,
        level_type=level_type,
        level=level,
        reftime=reftime,
        ni=ni,
        nj=nj,
        lat_first_mdeg=lat_first,
        lon_first_mdeg=lon_first,
        dlat_mdeg=dlat,
        dlon_mdeg=dlon,
        decimal_scale=decimal_scale,
        binary_scale=binary_scale,
        reference_value=r,
        nbits=nbits,
        values=values,
        time_range_indicator=time_range_indicator,
        forecast_hours=forecast_hours,
        statistical_process=stat_process,
        interval_end=interval_end,
        level2=level2,
        gaussian_n=gaussian_n,
        latitudes_deg=latitudes,
        rotated_pole=rotated_pole,
        spectral_truncation=spectral_truncation,
        spectral_sub_truncation=spectral_sub,
        row_ni=row_ni,
    )
