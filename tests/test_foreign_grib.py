"""FOREIGN-BYTES interop witness: decode GRIB messages the engine's own
encoder NEVER touched.

Every other codec test round-trips through ``encode_grib*_message``, so a
convention bug shared by encoder and decoder (sign-magnitude placement,
IBM-float interpretation, scan-order normalization, D-scale side) would
round-trip invisibly.  The messages here are hand-assembled octet by
octet from the PUBLISHED WMO FM 92 layouts (GRIB1: WMO Manual on Codes
edition-1 sections 0-5; GRIB2: templates 3.0 / 4.0 / 5.0), with the
expected field values computed BY HAND from the packing formula

    Y = (R + X * 2**E) / 10**D

— the construction deliberately exercises the conventions a
self-round-trip cannot probe:

* sign-magnitude negatives in La1/La2 (24-bit, GRIB1), La1/La2 (32-bit,
  GRIB2), the binary scale E (16-bit, both editions) and the decimal
  scale D;
* the IBM System/360 32-bit float reference value in GRIB1 (0x42640000
  = +100.0: exponent nibble 0x42 → 16**(66-64), mantissa 0x640000 /
  2**24) vs IEEE 754 in GRIB2 (0x40500000 = +3.25);
* scanning mode 0x40 (+j, south row stored FIRST — the regional-product
  layout) in GRIB1, which the decoder must normalize to the engine's
  north-first view;
* a non-byte-aligned 10-bit packing width in GRIB2 (60 data bits, 4
  trailing pad bits);
* BDS padding to even length with declared unused bits (GRIB1).

Parity target: the reference service consumes real CDS-produced GRIB
(reference src/file-conversions.js:114-156) — these fixtures stand in
for a foreign producer in an offline environment.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest


def _foreign_grib1() -> bytes:
    """GRIB1: TMP (11) at 850 hPa, reftime 2024-02-29 12:00, +6 h
    forecast, 3x2 lat/lon grid stored SOUTH ROW FIRST (scan 0x40),
    D=1, E=-1, R=+100.0 (IBM float), 8-bit packing.

    Stored X (south row, then north row): [100, 200, 255, 0, 10, 25]
    Y = (100 + X/2) / 10:
        south row: 15.0, 20.0, 22.75
        north row: 10.0, 10.5, 11.25
    """
    # -- PDS (28 octets) -------------------------------------------
    pds = bytes(
        [
            0x00, 0x00, 0x1C,  # 1-3   section length 28
            2,                 # 4     parameter table version
            7,                 # 5     originating centre (NCEP)
            96,                # 6     generating process
            255,               # 7     grid identification
            0x80,              # 8     flags: GDS present, no BMS
            11,                # 9     parameter: TMP
            100,               # 10    level type: isobaric (hPa)
        ]
    ) + struct.pack(">H", 850) + bytes(  # 11-12 level value
        [
            24,                # 13    year of century (2024)
            2, 29, 12, 0,      # 14-17 month/day/hour/minute (leap day)
            1,                 # 18    time unit: hour
            6,                 # 19    P1 = 6
            0,                 # 20    P2
            0,                 # 21    time range indicator: forecast at +P1
            0, 0,              # 22-23 number in average
            0,                 # 24    number missing
            21,                # 25    century (year = 20*100 + 24)
            0,                 # 26    sub-centre
            0x00, 0x01,        # 27-28 decimal scale D = +1 (sign-magnitude)
        ]
    )
    assert len(pds) == 28
    # -- GDS (32 octets, lat/lon type 0) ---------------------------
    gds = bytes(
        [
            0x00, 0x00, 0x20,  # 1-3   section length 32
            0,                 # 4     NV
            255,               # 5     PV/PL: none
            0,                 # 6     data representation: lat/lon
            0x00, 0x03,        # 7-8   Ni = 3
            0x00, 0x02,        # 9-10  Nj = 2
            # 11-13 La1 = -11.000 deg (sign-magnitude 24-bit, mdeg):
            # 11000 = 0x002AF8, sign bit set
            0x80, 0x2A, 0xF8,
            # 14-16 Lo1 = +30.000 deg = 30000 mdeg
            0x00, 0x75, 0x30,
            0x80,              # 17    resolution: increments given
            # 18-20 La2 = -10.500 deg -> 10500 = 0x002904, sign set
            0x80, 0x29, 0x04,
            # 21-23 Lo2 = +32.000 deg
            0x00, 0x7D, 0x00,
            0x03, 0xE8,        # 24-25 Di = 1000 mdeg
            0x01, 0xF4,        # 26-27 Dj =  500 mdeg
            0x40,              # 28    scanning mode: +i, +j (south first)
            0, 0, 0, 0,        # 29-32 reserved
        ]
    )
    assert len(gds) == 32
    # -- BDS (18 octets: 11 header + 6 data + 1 pad) ---------------
    # X packed at 8 bits in STORAGE order (south row first).
    data = bytes([100, 200, 255, 0, 10, 25])
    bds = (
        bytes(
            [
                0x00, 0x00, 0x12,  # 1-3  section length 18 (even)
                0x08,              # 4    flags 0000 + 8 unused trailing bits
                0x80, 0x01,        # 5-6  binary scale E = -1 (sign-magnitude)
                # 7-10 reference value, IBM 32-bit float: +100.0
                0x42, 0x64, 0x00, 0x00,
                8,                 # 11   bits per value
            ]
        )
        + data
        + b"\x00"  # pad to even length (the 8 unused bits)
    )
    assert len(bds) == 18
    total = 8 + len(pds) + len(gds) + len(bds) + 4
    sec0 = b"GRIB" + total.to_bytes(3, "big") + bytes([1])
    return sec0 + pds + gds + bds + b"7777"


def _pack_bits_10(xs: list[int]) -> bytes:
    """Big-endian 10-bit bitstream, zero-padded to a whole byte."""
    bits = "".join(f"{x:010b}" for x in xs)
    bits += "0" * (-len(bits) % 8)
    return bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))


def _foreign_grib2() -> bytes:
    """GRIB2: temperature (0,0) at 2 m, reftime 2023-07-15 00:00,
    +12 h forecast, 3x2 lat/lon grid scanned north-first with NEGATIVE
    latitudes, D=1, E=-1, R=+3.25 (IEEE), 10-bit packing.

    X (north row, then south row): [0, 1, 512, 1000, 3, 1023]
    Y = (3.25 + X/2) / 10:
        north row: 0.325, 0.375, 25.925
        south row: 50.325, 0.475, 51.475
    """
    # -- Section 1: identification (21 octets) ---------------------
    sec1 = (
        struct.pack(">IB", 21, 1)
        + struct.pack(">HH", 98, 0)  # centre (ECMWF), sub-centre
        + bytes([2, 0, 1])           # master tables, local tables, sig=start
        + struct.pack(">H", 2023)
        + bytes([7, 15, 0, 0, 0])    # month day hour minute second
        + bytes([0, 1])              # production status, type of data
    )
    assert len(sec1) == 21
    # -- Section 3: grid definition, template 3.0 (72 octets) ------
    sec3 = (
        struct.pack(">IB", 72, 3)
        + bytes([0])                    # source of grid definition
        + struct.pack(">I", 6)          # number of data points
        + bytes([0, 0])                 # no optional list
        + struct.pack(">H", 0)          # template 3.0
        + bytes([6, 0])                 # shape of earth, radius scale
        + struct.pack(">I", 0)          # scaled radius
        + bytes([0]) + struct.pack(">I", 0)  # major axis
        + bytes([0]) + struct.pack(">I", 0)  # minor axis
        + struct.pack(">II", 3, 2)      # Ni, Nj
        + struct.pack(">II", 0, 0)      # basic angle, subdivisions
        # La1 = -10.5 deg = sign-magnitude 10_500_000 udeg
        + struct.pack(">I", 0x80000000 | 10_500_000)
        + struct.pack(">I", 30_000_000)  # Lo1 = +30 deg
        + bytes([0x30])                  # resolution: i and j increments given
        # La2 = -11.0 deg
        + struct.pack(">I", 0x80000000 | 11_000_000)
        + struct.pack(">I", 32_000_000)  # Lo2 = +32 deg
        + struct.pack(">II", 1_000_000, 500_000)  # Di, Dj (udeg)
        + bytes([0x00])                  # scanning mode: +i, -j (north first)
    )
    assert len(sec3) == 72
    # -- Section 4: product definition, template 4.0 (34 octets) ---
    sec4 = (
        struct.pack(">IB", 34, 4)
        + struct.pack(">H", 0)        # NV coordinate values
        + struct.pack(">H", 0)        # template 4.0
        + bytes([0, 0])               # category 0, number 0 (temperature)
        + bytes([2, 0, 0])            # gen process type, background, process
        + struct.pack(">H", 0)        # hours after cutoff
        + bytes([0])                  # minutes after cutoff
        + bytes([1])                  # time unit: hour
        + struct.pack(">I", 12)       # forecast time = +12
        + bytes([103, 0]) + struct.pack(">I", 2)  # level: 2 m above ground
        + bytes([255, 255]) + b"\xff\xff\xff\xff"  # second surface: missing
    )
    assert len(sec4) == 34
    # -- Section 5: data representation, template 5.0 (21 octets) --
    sec5 = (
        struct.pack(">IB", 21, 5)
        + struct.pack(">I", 6)        # number of packed points
        + struct.pack(">H", 0)        # template 5.0 (simple packing)
        + bytes([0x40, 0x50, 0x00, 0x00])  # R = +3.25 IEEE 754
        + bytes([0x80, 0x01])         # E = -1 (sign-magnitude)
        + bytes([0x00, 0x01])         # D = +1 (sign-magnitude)
        + bytes([10])                 # bits per value
        + bytes([0])                  # original field type: float
    )
    assert len(sec5) == 21
    # -- Section 6: bitmap (none) ----------------------------------
    sec6 = struct.pack(">IB", 6, 6) + bytes([255])
    # -- Section 7: data -------------------------------------------
    payload = _pack_bits_10([0, 1, 512, 1000, 3, 1023])
    assert len(payload) == 8  # 60 bits + 4 pad
    sec7 = struct.pack(">IB", 5 + len(payload), 7) + payload
    total = 16 + len(sec1) + len(sec3) + len(sec4) + len(sec5) + len(sec6) + len(sec7) + 4
    sec0 = b"GRIB" + bytes([0, 0, 0, 2]) + struct.pack(">Q", total)
    return sec0 + sec1 + sec3 + sec4 + sec5 + sec6 + sec7 + b"7777"


def test_foreign_grib1_decodes_to_pinned_values():
    from monitoring_data_ingestion_spark.grid.grib1 import (
        decode_grib1,
        inspect_grib1,
    )

    msg = _foreign_grib1()
    rec = decode_grib1(msg)
    assert rec.parameter == 11
    assert rec.level_type == 100 and rec.level == 850
    assert rec.reftime == (2024, 2, 29, 12, 0)
    assert rec.forecast_hours == 6
    assert rec.decimal_scale == 1 and rec.binary_scale == -1
    assert rec.reference_value == 100.0  # IBM 0x42640000 read exactly
    assert rec.nbits == 8
    assert (rec.ni, rec.nj) == (3, 2)
    # scan 0x40 normalizes to the engine's north-first view
    assert rec.lat_first_mdeg == -10500
    assert rec.lon_first_mdeg == 30000
    assert rec.dlat_mdeg == 500 and rec.dlon_mdeg == 1000
    expected = np.array(
        [[10.0, 10.5, 11.25], [15.0, 20.0, 22.75]]
    )
    np.testing.assert_allclose(rec.values, expected, rtol=0, atol=1e-12)
    # the header-only inventory agrees with the full decode
    h = inspect_grib1(msg)
    assert h["parameter"] == 11
    assert h["level_type"] == 100 and h["level"] == 850


def test_foreign_grib2_decodes_to_pinned_values():
    from monitoring_data_ingestion_spark.grid.grib2 import decode_grib2

    rec = decode_grib2(_foreign_grib2())
    assert rec.discipline == 0
    assert (rec.category, rec.number) == (0, 0)
    assert rec.reftime == (2023, 7, 15, 0, 0)
    assert rec.forecast_hours == 12
    assert rec.level_type == 103
    assert (rec.level_scale, rec.level_value) == (0, 2)
    assert rec.level2_type is None  # coded missing
    assert rec.decimal_scale == 1 and rec.binary_scale == -1
    assert rec.reference_value == 3.25
    assert rec.nbits == 10
    assert (rec.ni, rec.nj) == (3, 2)
    assert rec.lat_first_udeg == -10_500_000
    assert rec.lon_first_udeg == 30_000_000
    assert rec.dlat_udeg == 500_000 and rec.dlon_udeg == 1_000_000
    expected = np.array(
        [[0.325, 0.375, 25.925], [50.325, 0.475, 51.475]]
    )
    np.testing.assert_allclose(rec.values, expected, rtol=0, atol=1e-12)


def test_foreign_messages_land_through_the_scan(spark, tmp_path):
    """The same foreign bytes travel the full Spark landing path: one
    file, both editions, mixed — every row lands with the hand-pinned
    geography and values, no quarantine, no reorder surprises."""
    import os

    from monitoring_data_ingestion_spark.sources.grib_source import (
        grib1_records,
    )

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    with open(os.path.join(landing, "foreign.grib"), "wb") as f:
        f.write(_foreign_grib1() + _foreign_grib2())
    rows = (
        grib1_records(spark, landing)
        .orderBy("record_number")
        .collect()
    )
    assert [r["edition"] for r in rows] == [1, 2]
    g1, g2 = rows
    assert g1["parameter"] == 11 and g1["level"] == 850
    assert g1["forecast_hours"] == 6
    assert g1["lat_first_mdeg"] == -10500 and g1["dlat_mdeg"] == 500
    np.testing.assert_allclose(
        np.array(g1["values"]).reshape(2, 3),
        [[10.0, 10.5, 11.25], [15.0, 20.0, 22.75]],
        rtol=0, atol=1e-12,
    )
    assert (g2["category"], g2["number"]) == (0, 0)
    assert g2["forecast_hours"] == 12 and g2["level"] == 2
    # GRIB2 udeg georef normalizes onto the shared mdeg columns
    assert g2["lat_first_mdeg"] == -10_500
    assert g2["dlat_mdeg"] == 500
    np.testing.assert_allclose(
        np.array(g2["values"]).reshape(2, 3),
        [[0.325, 0.375, 25.925], [50.325, 0.475, 51.475]],
        rtol=0, atol=1e-12,
    )


def _foreign_grib2_bitmapped() -> bytes:
    """GRIB2 variant of :func:`_foreign_grib2` with a REAL bitmap
    (section 6 indicator 0): of the 6 cells, positions 2 and 4
    (0-based, row-major) are missing.  Bitmap bits ride MSB-first, one
    bit per cell: present at 0,1,3,5 -> 0b110101 followed by two pad
    bits -> single octet 0xD4.  Only the 4 PRESENT values pack (8-bit
    width here), X = [0, 10, 100, 200]:
        Y = (3.25 + X/2) / 10 -> 0.325, 0.825, 5.325, 10.325
    laid back as [0.325, 0.825, NaN, 5.325, NaN, 10.325]."""
    base = _foreign_grib2()
    # Rebuild sections 5-7 against the bitmap; sections 0-4 unchanged
    # except total length.  Offsets: sec0 16 + sec1 21 + sec3 72 +
    # sec4 34 = 143 bytes of prefix.
    prefix = base[:143]
    sec5 = (
        struct.pack(">IB", 21, 5)
        + struct.pack(">I", 4)        # number of PACKED points (present)
        + struct.pack(">H", 0)
        + bytes([0x40, 0x50, 0x00, 0x00])  # R = +3.25
        + bytes([0x80, 0x01])         # E = -1
        + bytes([0x00, 0x01])         # D = +1
        + bytes([8])                  # bits per value
        + bytes([0])
    )
    sec6 = struct.pack(">IB", 7, 6) + bytes([0]) + bytes([0b11010100])
    sec7 = struct.pack(">IB", 5 + 4, 7) + bytes([0, 10, 100, 200])
    total = len(prefix) + len(sec5) + len(sec6) + len(sec7) + 4
    msg = prefix + sec5 + sec6 + sec7 + b"7777"
    return msg[:8] + struct.pack(">Q", total) + msg[16:]


def _foreign_grib1_bitmapped() -> bytes:
    """GRIB1 variant of :func:`_foreign_grib1` with a BMS: cells 1 and
    5 of the STORED (south-first) order are missing — present bits
    0b101110 MSB-first + 2 pad bits -> 0xB8.  BMS layout: 3-octet
    length, octet 4 = unused-bit count (2) in its low nibble, octets
    5-6 = 0 (bitmap follows, no predefined table), then the bits.
    Present X (storage order) = [100, 255, 0, 10]:
        Y = (100 + X/2) / 10 -> 15.0, 22.75, 10.0, 10.5."""
    base = _foreign_grib1()
    pds = bytearray(base[8 : 8 + 28])
    pds[7] = 0xC0  # flags: GDS present AND BMS present
    gds = base[36:68]
    bms = bytes([0x00, 0x00, 0x08, 2, 0x00, 0x00, 0b10111000])
    assert len(bms) == 7  # odd length is tolerated by real decoders;
    # pad to even per the spec's even-length convention
    bms = bytes([0x00, 0x00, 0x08, 2, 0x00, 0x00, 0b10111000, 0x00])
    data = bytes([100, 255, 0, 10])
    bds = (
        bytes(
            [
                0x00, 0x00, 0x10,  # length 16 (11 header + 4 data + 1 pad)
                0x08,              # 8 unused trailing bits
                0x80, 0x01,        # E = -1
                0x42, 0x64, 0x00, 0x00,  # R = IBM +100.0
                8,
            ]
        )
        + data
        + b"\x00"
    )
    assert len(bds) == 16
    total = 8 + len(pds) + len(gds) + len(bms) + len(bds) + 4
    sec0 = b"GRIB" + total.to_bytes(3, "big") + bytes([1])
    return sec0 + bytes(pds) + gds + bms + bds + b"7777"


def test_foreign_bitmapped_messages_decode_with_correct_masking():
    """Bitmap conventions from foreign bytes: MSB-first bit order, the
    packed stream holding ONLY present cells, NaN landing exactly at
    the masked positions — and for GRIB1, composition with the
    south-first scan normalization (the bitmap masks STORAGE cells, so
    the normalized north-first grid must carry the flipped mask)."""
    from monitoring_data_ingestion_spark.grid.grib1 import decode_grib1
    from monitoring_data_ingestion_spark.grid.grib2 import decode_grib2

    rec = decode_grib2(_foreign_grib2_bitmapped())
    expected = np.array(
        [[0.325, 0.825, np.nan], [5.325, np.nan, 10.325]]
    )
    np.testing.assert_allclose(rec.values, expected, rtol=0, atol=1e-12)

    rec1 = decode_grib1(_foreign_grib1_bitmapped())
    # storage (south-first) rows: [100, MISS, 255], [0, 10, MISS]
    # normalized north-first:     [0, 10, MISS], [100, MISS, 255]
    expected1 = np.array(
        [[10.0, 10.5, np.nan], [15.0, np.nan, 22.75]]
    )
    np.testing.assert_allclose(rec1.values, expected1, rtol=0, atol=1e-12)
    assert rec1.lat_first_mdeg == -10500  # normalization still applies


def _foreign_grib2_multifield() -> bytes:
    """A MULTI-FIELD (submessage) GRIB2 message in the NDFD layout —
    sections ``0 1 3 (4 5 6 7)(4 5 6 7) 8`` with the single section 3
    PERSISTING across both fields.  Both fields are 2x3 grids on the
    same geography as :func:`_foreign_grib2`; they differ in lead time
    (f0 vs f6) and payload.  8-bit packing, R=+3.25, E=-1, D=1:
        field 1 (f0):  X = [0, 2, 4, 6, 8, 10]
                       Y = [0.325, 0.425, 0.525, 0.625, 0.725, 0.825]
        field 2 (f6):  X = [20, 40, 60, 80, 100, 120]
                       Y = [1.325, 2.325, 3.325, 4.325, 5.325, 6.325]
    """
    base = _foreign_grib2()
    sec1 = base[16 : 16 + 21]
    sec3 = base[37 : 37 + 72]

    def field(fc_hours: int, xs: list[int]) -> bytes:
        sec4 = (
            struct.pack(">IB", 34, 4)
            + struct.pack(">H", 0)
            + struct.pack(">H", 0)        # template 4.0
            + bytes([0, 0, 2, 0, 0])
            + struct.pack(">H", 0) + bytes([0])
            + bytes([1])                  # hours
            + struct.pack(">I", fc_hours)
            + bytes([103, 0]) + struct.pack(">I", 2)
            + bytes([255, 255]) + b"\xff\xff\xff\xff"
        )
        sec5 = (
            struct.pack(">IB", 21, 5)
            + struct.pack(">I", 6)
            + struct.pack(">H", 0)
            + bytes([0x40, 0x50, 0x00, 0x00])  # R = +3.25
            + bytes([0x80, 0x01])              # E = -1
            + bytes([0x00, 0x01])              # D = +1
            + bytes([8, 0])
        )
        sec6 = struct.pack(">IB", 6, 6) + bytes([255])
        sec7 = struct.pack(">IB", 5 + 6, 7) + bytes(xs)
        return sec4 + sec5 + sec6 + sec7

    body = (
        sec1
        + sec3
        + field(0, [0, 2, 4, 6, 8, 10])
        + field(6, [20, 40, 60, 80, 100, 120])
    )
    total = 16 + len(body) + 4
    sec0 = b"GRIB" + bytes([0, 0, 0, 2]) + struct.pack(">Q", total)
    return sec0 + body + b"7777"


def test_foreign_multifield_message_lands_per_field(spark, tmp_path):
    """Submessage inheritance from foreign bytes: the landing scan
    numbers, inventories and decodes each FIELD of the hand-assembled
    NDFD-layout message independently, both inheriting the one
    persisting section 3's geography — values and leads pinned by
    hand."""
    import os

    from monitoring_data_ingestion_spark.grid.grib2 import (
        decode_grib2_fields,
        inventory_lines,
    )
    from monitoring_data_ingestion_spark.sources.grib_source import (
        grib1_records,
    )

    msg = _foreign_grib2_multifield()
    recs = decode_grib2_fields(msg)
    assert [r.forecast_hours for r in recs] == [0, 6]
    y1 = np.array([[0.325, 0.425, 0.525], [0.625, 0.725, 0.825]])
    y2 = np.array([[1.325, 2.325, 3.325], [4.325, 5.325, 6.325]])
    np.testing.assert_allclose(recs[0].values, y1, rtol=0, atol=1e-12)
    np.testing.assert_allclose(recs[1].values, y2, rtol=0, atol=1e-12)
    for r in recs:  # the persisting section 3 georeferences BOTH fields
        assert r.lat_first_udeg == -10_500_000
        assert (r.ni, r.nj) == (3, 2)
    assert inventory_lines(msg) == [
        "d0:c0,n0:l103/2:2023071500:f0",
        "d0:c0,n0:l103/2:2023071500:f6",
    ]
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    with open(os.path.join(landing, "multi.grib"), "wb") as f:
        f.write(msg)
    rows = (
        grib1_records(spark, landing).orderBy("record_number").collect()
    )
    assert [(r["record_number"], r["forecast_hours"]) for r in rows] == [
        (1, 0), (2, 6),
    ]
    np.testing.assert_allclose(
        np.array(rows[0]["values"]).reshape(2, 3), y1, rtol=0, atol=1e-12
    )
    np.testing.assert_allclose(
        np.array(rows[1]["values"]).reshape(2, 3), y2, rtol=0, atol=1e-12
    )
    assert rows[0]["lat_first_mdeg"] == -10_500


def test_foreign_grib1_value_formula_cross_check():
    """The pinned expectations themselves re-derive from first
    principles here (not from the codec): IBM float bits -> R by the
    16**(e-64) formula, then Y = (R + X*2**E)/10**D — so a wrong pin
    cannot hide behind a matching wrong decode."""
    raw = 0x42640000
    sign = -1.0 if raw >> 31 else 1.0
    r = sign * (raw & 0xFFFFFF) / 2**24 * 16 ** ((raw >> 24 & 0x7F) - 64)
    assert r == 100.0
    xs = np.array([100, 200, 255, 0, 10, 25], dtype=np.float64)
    ys = (r + xs * 2.0**-1) / 10.0**1
    np.testing.assert_allclose(
        ys, [15.0, 20.0, 22.75, 10.0, 10.5, 11.25], rtol=0, atol=0
    )
    ieee = struct.unpack(">f", bytes([0x40, 0x50, 0x00, 0x00]))[0]
    assert ieee == 3.25
    xs2 = np.array([0, 1, 512, 1000, 3, 1023], dtype=np.float64)
    ys2 = (ieee + xs2 * 2.0**-1) / 10.0**1
    np.testing.assert_allclose(
        ys2, [0.325, 0.375, 25.925, 50.325, 0.475, 51.475], rtol=0, atol=0
    )


def _foreign_grib1_reduced() -> bytes:
    """GRIB1 QUASI-REGULAR (reduced) Gaussian grid, hand-assembled per
    the WMO edition-1 GDS layout ECMWF's archives use: Ni coded missing
    (0xFFFF), GDS octet 5 = 33 pointing at the PL list of per-parallel
    point counts, Di coded missing, resolution flags CLEAR (increments
    not given), octets 26-27 carrying N.

    Grid: N=1 (nj=2 parallels).  The degree-2 Legendre nodes are
    x = ±1/sqrt(3), so the quadrature latitudes are
    ±degrees(asin(1/sqrt(3))) = ±35.26438968...° → La1 = +35264 mdeg,
    La2 = −35264 mdeg (sign-magnitude).  Rows: 2 points on the north
    parallel, 4 on the south (total 6).  Lo1 = 0; Lo2 = easternmost
    point of the widest row = 3·360000/4 = 270000 mdeg.

    Packing: R = IBM 0x41200000 = 16**(65−64) · (0x200000/2**24)
    = 16·0.125 = +2.0, E = 0, D = 0, 8 bits.
    X = [10, 20, 30, 40, 50, 60] → Y = 2 + X = [12, 22, 32, 42, 52, 62].
    """
    pds = bytes(
        [
            0x00, 0x00, 0x1C,  # 1-3   section length 28
            2,                 # 4     parameter table version
            98,                # 5     originating centre (ECMWF)
            145,               # 6     generating process
            255,               # 7     grid identification: defined by GDS
            0x80,              # 8     flags: GDS present, no BMS
            52,                # 9     parameter: RH
            1,                 # 10    level type: surface
            0, 0,              # 11-12 level value
            23,                # 13    year of century (2023)
            7, 1, 0, 0,        # 14-17 month/day/hour/minute
            1,                 # 18    time unit: hour
            0,                 # 19    P1 = 0 (analysis)
            0,                 # 20    P2
            0,                 # 21    time range indicator
            0, 0,              # 22-23 number in average
            0,                 # 24    number missing
            21,                # 25    century (year = 20*100 + 23)
            0,                 # 26    sub-centre
            0x00, 0x00,        # 27-28 decimal scale D = 0
        ]
    )
    assert len(pds) == 28
    gds = bytes(
        [
            0x00, 0x00, 0x24,  # 1-3   section length 36 (32 + 2 rows * 2)
            0,                 # 4     NV = 0
            33,                # 5     PL: row-count list at octet 33
            4,                 # 6     data representation: Gaussian
            0xFF, 0xFF,        # 7-8   Ni coded missing (quasi-regular)
            0x00, 0x02,        # 9-10  Nj = 2 parallels
            # 11-13 La1 = +35.264 deg = 35264 mdeg = 0x0089C0
            0x00, 0x89, 0xC0,
            # 14-16 Lo1 = 0
            0x00, 0x00, 0x00,
            0x00,              # 17    resolution flags: increments NOT given
            # 18-20 La2 = -35.264 deg (sign-magnitude)
            0x80, 0x89, 0xC0,
            # 21-23 Lo2 = 270.000 deg = 270000 mdeg = 0x041EB0
            0x04, 0x1E, 0xB0,
            0xFF, 0xFF,        # 24-25 Di coded missing (varies per row)
            0x00, 0x01,        # 26-27 N = 1 (parallels pole to equator)
            0x00,              # 28    scanning mode: +i, -j
            0, 0, 0, 0,        # 29-32 reserved
            0x00, 0x02,        # 33-34 PL: 2 points on the north parallel
            0x00, 0x04,        # 35-36 PL: 4 points on the south parallel
        ]
    )
    assert len(gds) == 36
    data = bytes([10, 20, 30, 40, 50, 60])
    bds = (
        bytes(
            [
                0x00, 0x00, 0x12,  # 1-3  section length 18 (even)
                0x08,              # 4    flags 0000 + 8 unused (pad byte)
                0x00, 0x00,        # 5-6  binary scale E = 0
                # 7-10 reference value, IBM 32-bit float: +2.0
                0x41, 0x20, 0x00, 0x00,
                8,                 # 11   bits per value
            ]
        )
        + data
        + bytes(1)  # pad to even length, counted in unused bits
    )
    assert len(bds) == 18
    total = 8 + len(pds) + len(gds) + len(bds) + 4
    return (
        b"GRIB"
        + total.to_bytes(3, "big")
        + bytes([1])
        + pds
        + gds
        + bds
        + b"7777"
    )


def test_foreign_reduced_gaussian_grib1_decodes_to_pinned_values():
    """Foreign-bytes witness for the reduced-Gaussian edition-1 decode:
    every expectation below is hand-computed from the WMO layout and
    the packing formula, never from the engine's own encoder."""
    from monitoring_data_ingestion_spark.grid.grib1 import (
        decode_grib1,
        inspect_grib1,
    )

    msg = _foreign_grib1_reduced()
    rec = decode_grib1(msg)
    assert rec.parameter == 52
    assert rec.reftime == (2023, 7, 1, 0, 0)
    assert rec.ni is None and rec.nj == 2
    assert rec.gaussian_n == 1
    assert list(rec.row_ni) == [2, 4]
    assert rec.reference_value == 2.0  # IBM 0x41200000 read exactly
    np.testing.assert_allclose(
        rec.values, [12.0, 22.0, 32.0, 42.0, 52.0, 62.0], rtol=0, atol=0
    )
    # quadrature latitudes: +-asin(1/sqrt(3)) in degrees, north first
    lat = float(np.degrees(np.arcsin(1.0 / np.sqrt(3.0))))
    np.testing.assert_allclose(
        rec.latitudes_deg, [lat, -lat], rtol=0, atol=1e-12
    )
    assert rec.lat_first_mdeg == 35264  # GDS La1, cross-checked in decode
    # flat per-cell coordinates: 2-point then 4-point full parallels
    np.testing.assert_allclose(
        rec.cell_lats_deg, [lat, lat, -lat, -lat, -lat, -lat],
        rtol=0, atol=1e-12,
    )
    np.testing.assert_allclose(
        rec.cell_lons_deg, [0.0, 180.0, 0.0, 90.0, 180.0, 270.0],
        rtol=0, atol=0,
    )
    # header-only inventory lists the record with NULL ni
    h = inspect_grib1(msg)
    assert h["ni"] is None and h["nj"] == 2 and h["grid_type"] == 4


def _foreign_grib1_reduced_bitmapped(predefined: int | None) -> bytes:
    """The :func:`_foreign_grib1_reduced` geometry (N=1, rows [2, 4])
    with a PRIMARY BITMAP masking cells 1 and 4 (0-based storage
    order) — the masked-field-on-a-thinned-grid shape real ERA5-era
    ocean/land archives ship.  Hand-assembled per the WMO BMS layout.

    ``predefined=None`` ships the bits in the BMS: mask
    [1,0,1,1,0,1] MSB-first = 0b10110100 = 0xB4, 2 slack bits + 1
    even-length pad octet → unused octet = 2 + 8 = 10.
    ``predefined=<number>`` ships a CENTRE-PREDEFINED BMS instead:
    octets 5-6 carry the catalog number, NO bits ride (WMO BMS note
    2) — body = unused(0) + number, section length 6.

    Either way the BDS packs ONLY the 4 present cells:
    X = [10, 30, 40, 60] → Y = 2 + X = [12, 32, 42, 62]; 11 + 4 data
    octets = 15, +1 pad = 16, unused nibble 0 + 8 = 8 → flags 0x08.
    """
    pds = bytes(
        [
            0x00, 0x00, 0x1C,  # 1-3   section length 28
            2,                 # 4     parameter table version
            98,                # 5     originating centre (ECMWF)
            145,               # 6     generating process
            255,               # 7     grid identification: defined by GDS
            0xC0,              # 8     flags: GDS present + BMS present
            52,                # 9     parameter: RH
            1,                 # 10    level type: surface
            0, 0,              # 11-12 level value
            23,                # 13    year of century (2023)
            7, 1, 0, 0,        # 14-17 month/day/hour/minute
            1,                 # 18    time unit: hour
            0, 0, 0,           # 19-21 P1/P2/TRI: analysis
            0, 0,              # 22-23 number in average
            0,                 # 24    number missing
            21,                # 25    century
            0,                 # 26    sub-centre
            0x00, 0x00,        # 27-28 decimal scale D = 0
        ]
    )
    gds = bytes(
        [
            0x00, 0x00, 0x24,  # 1-3   section length 36
            0, 33,             # 4-5   NV = 0, PL at octet 33
            4,                 # 6     data representation: Gaussian
            0xFF, 0xFF,        # 7-8   Ni coded missing (quasi-regular)
            0x00, 0x02,        # 9-10  Nj = 2 parallels
            0x00, 0x89, 0xC0,  # 11-13 La1 = +35.264 deg
            0x00, 0x00, 0x00,  # 14-16 Lo1 = 0
            0x00,              # 17    resolution: increments NOT given
            0x80, 0x89, 0xC0,  # 18-20 La2 = -35.264 deg (sign-magnitude)
            0x04, 0x1E, 0xB0,  # 21-23 Lo2 = 270.000 deg
            0xFF, 0xFF,        # 24-25 Di coded missing
            0x00, 0x01,        # 26-27 N = 1
            0x00,              # 28    scanning mode: +i, -j
            0, 0, 0, 0,        # 29-32 reserved
            0x00, 0x02,        # 33-34 PL: 2 points north
            0x00, 0x04,        # 35-36 PL: 4 points south
        ]
    )
    if predefined is None:
        bms = bytes(
            [
                0x00, 0x00, 0x08,  # 1-3 section length 8 (even)
                10,                # 4   unused bits: 2 slack + 8 pad
                0x00, 0x00,        # 5-6 numeric: 0 = bitmap follows
                0xB4,              # 7   bits [1,0,1,1,0,1] MSB-first
                0x00,              # 8   even-length pad octet
            ]
        )
    else:
        bms = bytes(
            [0x00, 0x00, 0x06, 0]
        ) + int(predefined).to_bytes(2, "big")  # 5-6: catalog number
    bds = (
        bytes(
            [
                0x00, 0x00, 0x10,  # 1-3  section length 16 (even)
                0x08,              # 4    flags 0000 + 8 unused (pad)
                0x00, 0x00,        # 5-6  binary scale E = 0
                0x41, 0x20, 0x00, 0x00,  # 7-10 R = IBM +2.0
                8,                 # 11   bits per value
            ]
        )
        + bytes([10, 30, 40, 60])  # 12-15 the 4 PRESENT cells only
        + bytes(1)                 # 16   pad to even length
    )
    total = 8 + len(pds) + len(gds) + len(bms) + len(bds) + 4
    return (
        b"GRIB"
        + total.to_bytes(3, "big")
        + bytes([1])
        + pds
        + gds
        + bms
        + bds
        + b"7777"
    )


def test_foreign_reduced_bitmapped_grib1_decodes_to_pinned_values():
    """Foreign-bytes witness for BITMAP-ON-REDUCED-GRID and
    CENTRE-PREDEFINED-BITMAP decode: expectations hand-computed from
    the WMO BMS/BDS layouts, never from the engine's encoder."""
    import pytest

    from monitoring_data_ingestion_spark.grid.grib1 import decode_grib1

    expected = np.array([12.0, np.nan, 32.0, 42.0, np.nan, 62.0])

    # 1. bits in the BMS, masked thinned grid
    rec = decode_grib1(_foreign_grib1_reduced_bitmapped(None))
    assert rec.ni is None and list(rec.row_ni) == [2, 4]
    np.testing.assert_allclose(rec.values, expected, rtol=0, atol=0)
    # per-cell coordinates still cover ALL cells (mask hits values only)
    assert rec.cell_lons_deg.size == 6

    # 2. centre-predefined BMS number 45 resolved through the catalog
    mask = np.array([1, 0, 1, 1, 0, 1], dtype=bool)
    rec2 = decode_grib1(
        _foreign_grib1_reduced_bitmapped(45),
        predefined_bitmaps={(98, 45): mask},
    )
    np.testing.assert_allclose(rec2.values, expected, rtol=0, atol=0)

    # 3. no catalog entry → loud stop naming centre and number
    with pytest.raises(ValueError, match="predefined bitmap 45 of centre 98"):
        decode_grib1(_foreign_grib1_reduced_bitmapped(45))
    # wrong-size catalog mask is a catalog defect, not a guess
    with pytest.raises(ValueError, match="holds 5 cells"):
        decode_grib1(
            _foreign_grib1_reduced_bitmapped(45),
            predefined_bitmaps={(98, 45): mask[:-1]},
        )


def _foreign_grib1_second_order() -> bytes:
    """GRIB1 SECOND-ORDER (complex) grid-point packing, hand-assembled
    per the WMO extended-BDS layout (octets 12-21 pointers, octet-14
    extended flags): row-by-row grouping (no secondary bitmap),
    constant second-order width.

    Grid: 3x2 lat/lon, north row first.  Increments X (storage order):
    row 1 = [5, 7, 5], row 2 = [0, 3, 1].  First-order values (row
    minima): [5, 0] at 4 bits; second-order deviations [0,2,0] /
    [0,3,1] at the constant width 2.

    BDS layout (1-based octets): 12-13 N1 = 23 (first-order stream),
    14 flags 0x00 (no matrix / no secondary bitmap / constant width),
    15-16 N2 = 24 (second-order stream), 17-18 P1 = 2, 19-20 P2 = 6,
    21 reserved, 22 the single width octet (2), 23 the packed
    first-order values 0x50, 24-25 the deviation bitstream
    0b00_10_00_00_11_01 padded = 0x20 0xD0 (4 slack bits), one
    even-length pad octet — unused nibble = 4 + 8 = 12.

    Packing: R = IBM 0x41200000 = +2.0, E = 0, D = 0 →
    Y = 2 + X: row 1 = [7, 9, 7], row 2 = [2, 5, 3].
    """
    pds = bytes(
        [
            0x00, 0x00, 0x1C,  # 1-3   section length 28
            2,                 # 4     parameter table version
            78,                # 5     originating centre (DWD)
            11,                # 6     generating process
            255,               # 7     grid identification: defined by GDS
            0x80,              # 8     flags: GDS present, no BMS
            11,                # 9     parameter: TMP
            1,                 # 10    level type: surface
            0, 0,              # 11-12 level value
            24,                # 13    year of century (2024)
            5, 2, 6, 0,        # 14-17 month/day/hour/minute
            1,                 # 18    time unit: hour
            0, 0, 0,           # 19-21 P1/P2/TRI: analysis
            0, 0,              # 22-23 number in average
            0,                 # 24    number missing
            21,                # 25    century
            0,                 # 26    sub-centre
            0x00, 0x00,        # 27-28 decimal scale D = 0
        ]
    )
    assert len(pds) == 28
    gds = bytes(
        [
            0x00, 0x00, 0x20,  # 1-3   section length 32
            0, 255,            # 4-5   NV = 0, PV/PL none
            0,                 # 6     data representation: lat/lon
            0x00, 0x03,        # 7-8   Ni = 3
            0x00, 0x02,        # 9-10  Nj = 2
            0x00, 0x27, 0x10,  # 11-13 La1 = +10.000 deg
            0x00, 0x00, 0x00,  # 14-16 Lo1 = 0
            0x80,              # 17    resolution: increments given
            0x00, 0x23, 0x28,  # 18-20 La2 = +9.000 deg
            0x00, 0x07, 0xD0,  # 21-23 Lo2 = +2.000 deg
            0x03, 0xE8,        # 24-25 Di = 1000 mdeg
            0x03, 0xE8,        # 26-27 Dj = 1000 mdeg
            0x00,              # 28    scanning mode: +i, -j (north first)
            0, 0, 0, 0,        # 29-32 reserved
        ]
    )
    assert len(gds) == 32
    bds = bytes(
        [
            0x00, 0x00, 0x1A,  # 1-3   section length 26 (even)
            0x5C,              # 4     flags 0101 (grid, 2nd-order,
                               #       float, extended) + 12 unused
            0x00, 0x00,        # 5-6   binary scale E = 0
            0x41, 0x20, 0x00, 0x00,  # 7-10 reference: IBM +2.0
            4,                 # 11    bits per first-order value
            0x00, 0x17,        # 12-13 N1 = 23
            0x00,              # 14    extended flags: row groups,
                               #       constant width
            0x00, 0x18,        # 15-16 N2 = 24
            0x00, 0x02,        # 17-18 P1 = 2 groups (rows)
            0x00, 0x06,        # 19-20 P2 = 6 points
            0x00,              # 21    reserved
            2,                 # 22    constant second-order width
            0x50,              # 23    first-order values: 5, 0 at 4 bits
            0x20, 0xD0,        # 24-25 deviations 0,2,0,0,3,1 at 2 bits
            0x00,              # 26    even-length pad (in unused count)
        ]
    )
    assert len(bds) == 26
    total = 8 + len(pds) + len(gds) + len(bds) + 4
    return (
        b"GRIB"
        + total.to_bytes(3, "big")
        + bytes([1])
        + pds
        + gds
        + bds
        + b"7777"
    )


def test_foreign_second_order_grib1_decodes_to_pinned_values():
    """Foreign-bytes witness for the second-order decode: the stream
    pointers, the row-by-row grouping, the constant-width deviation
    bitstream and the first-order minima are all hand-laid octets with
    hand-computed expectations — a convention bug shared by the
    engine's own encoder and decoder cannot hide here."""
    from monitoring_data_ingestion_spark.grid.grib1 import decode_grib1

    msg = _foreign_grib1_second_order()
    rec = decode_grib1(msg)
    assert rec.parameter == 11
    assert (rec.ni, rec.nj) == (3, 2)
    assert rec.reference_value == 2.0
    np.testing.assert_allclose(
        rec.values, [[7.0, 9.0, 7.0], [2.0, 5.0, 3.0]], rtol=0, atol=0
    )


def _foreign_grib2_complex(mvm: int) -> bytes:
    """GRIB2 COMPLEX packing (template 5.2), hand-assembled per the WMO
    layout: section 5 carries the group-splitting descriptor (NG,
    width/length references and increments, the true last-group
    length), section 7 the four byte-aligned runs — NG group references
    at the octet-20 width, NG width increments, NG scaled lengths, then
    every group's values packed CONTINUOUSLY at that group's width.

    Two groups over the 3x2 grid of `_foreign_grib2`'s sections 1/3/4:
    refs [4, 20] at 5 bits (0x25 0x00), width increments [1, 2] over
    wref=1 at 2 bits (0x60 → true widths [2, 3]), length increments
    [1, 1] over len_ref=2 at 3 bits (0x24 → [3, 3], last overridden by
    the template's true length 3).

    ``mvm=0``: deviations g0 [0, 2, 1] @2 + g1 [0, 4, 1] @3 → bytes
    0x24 0x42; X = ref + dev = [4, 6, 5, 20, 24, 21] and
    Y = (3.25 + X·2^-1)/10^1 = [0.525, 0.625, 0.575, 1.325, 1.525,
    1.375].

    ``mvm=1``: g0's middle deviation is the all-ones-at-group-width
    marker (3 @2 bits → bytes 0x34 0x42) — missing-value management 1
    reserves it as the primary-missing flag, so point 2 decodes
    MISSING (NaN) while every other point keeps the mvm=0 values.
    """
    base = _foreign_grib2()
    # reuse sections 0-4 (16 + 21 + 72 + 34 octets) verbatim
    head = base[: 16 + 21 + 72 + 34]
    sec5 = (
        struct.pack(">IB", 47, 5)
        + struct.pack(">I", 6)        # packed points
        + struct.pack(">H", 2)        # template 5.2
        + bytes([0x40, 0x50, 0x00, 0x00])  # R = +3.25 IEEE 754
        + bytes([0x80, 0x01])         # E = -1 (sign-magnitude)
        + bytes([0x00, 0x01])         # D = +1
        + bytes([5])                  # bits per group reference
        + bytes([0])                  # original field type: float
        + bytes([1])                  # group splitting: general
        + bytes([mvm])                # missing value management
        + struct.pack(">I", 0)        # primary missing substitute
        + struct.pack(">I", 0)        # secondary missing substitute
        + struct.pack(">I", 2)        # NG = 2 groups
        + bytes([1])                  # reference for group widths
        + bytes([2])                  # bits per width increment
        + struct.pack(">I", 2)        # reference for group lengths
        + bytes([1])                  # length increment
        + struct.pack(">I", 3)        # true length of the last group
        + bytes([3])                  # bits per length increment
    )
    assert len(sec5) == 47
    sec6 = struct.pack(">IB", 6, 6) + bytes([255])
    values = bytes([0x34, 0x42]) if mvm else bytes([0x24, 0x42])
    payload = (
        bytes([0x25, 0x00])  # group references 4, 20 @5 bits
        + bytes([0x60])      # width increments 1, 2 @2 bits
        + bytes([0x24])      # length increments 1, 1 @3 bits
        + values             # continuous per-group deviation stream
    )
    sec7 = struct.pack(">IB", 5 + len(payload), 7) + payload
    total = len(head) + len(sec5) + len(sec6) + len(sec7) + 4
    msg = bytearray(head + sec5 + sec6 + sec7 + b"7777")
    struct.pack_into(">Q", msg, 8, total)
    return bytes(msg)


def test_foreign_complex_packed_grib2_decodes_to_pinned_values():
    """Foreign-bytes witness for the complex-packing (template 5.2)
    decode — the most intricate unpacker: group references, width and
    length increment runs, byte-alignment between runs, the true-last-
    group override, and missing-value management 1's all-ones marker
    are all hand-laid octets with hand-computed expectations the
    engine's own encoder never produced."""
    from monitoring_data_ingestion_spark.grid.grib2 import decode_grib2

    rec = decode_grib2(_foreign_grib2_complex(mvm=0))
    assert rec.nbits == 5  # the group-reference width rides octet 20
    expected = np.array(
        [[0.525, 0.625, 0.575], [1.325, 1.525, 1.375]]
    )
    np.testing.assert_allclose(rec.values, expected, rtol=0, atol=1e-12)
    rec = decode_grib2(_foreign_grib2_complex(mvm=1))
    assert np.isnan(rec.values[0, 1])  # the all-ones marker point
    keep = np.array([[True, False, True], [True, True, True]])
    np.testing.assert_allclose(
        rec.values[keep], expected[keep], rtol=0, atol=1e-12
    )


def _foreign_grib2_spatial_diff(neg_gmin: bool) -> bytes:
    """GRIB2 COMPLEX + SPATIAL DIFFERENCING (template 5.3, order 2),
    hand-assembled: section 7 leads with the (order+1) ww-octet
    sign-magnitude extra descriptors — the first TWO original scaled
    values, then the overall minimum of the second differences — and
    the packed groups carry (second difference − gmin) from position 2
    on (positions 0-1 of the packed stream are ignored on decode).

    ``neg_gmin=False``: X = [10, 12, 15, 19, 24, 30] — second
    differences [1, 1, 1, 1], gmin = +1, so the packed stream is all
    zeros (ONE group, reference 0, width 0: the entire field rides the
    descriptors).  ``neg_gmin=True``: X = [10, 12, 15, 17, 21, 22] —
    second differences [1, -1, 2, -3], gmin = −3 (sign-magnitude
    0x8003), packed deviations [0, 0, 4, 2, 5, 0] at width 3.

    Y = (3.25 + X·2^-1)/10^1 over `_foreign_grib2`'s 3x2 grid.
    """
    base = _foreign_grib2()
    head = base[: 16 + 21 + 72 + 34]
    sec5 = (
        struct.pack(">IB", 49, 5)
        + struct.pack(">I", 6)        # packed points
        + struct.pack(">H", 3)        # template 5.3
        + bytes([0x40, 0x50, 0x00, 0x00])  # R = +3.25 IEEE 754
        + bytes([0x80, 0x01])         # E = -1 (sign-magnitude)
        + bytes([0x00, 0x01])         # D = +1
        + bytes([5])                  # bits per group reference
        + bytes([0])                  # original field type: float
        + bytes([1])                  # group splitting: general
        + bytes([0])                  # missing value management 0
        + struct.pack(">I", 0)        # primary missing substitute
        + struct.pack(">I", 0)        # secondary missing substitute
        + struct.pack(">I", 1)        # NG = 1 group
        + bytes([0])                  # reference for group widths
        + bytes([2])                  # bits per width increment
        + struct.pack(">I", 6)        # reference for group lengths
        + bytes([1])                  # length increment
        + struct.pack(">I", 6)        # true length of the last group
        + bytes([3])                  # bits per length increment
        + bytes([2])                  # spatial differencing order 2
        + bytes([2])                  # ww: extra descriptors are 2 octets
    )
    assert len(sec5) == 49
    sec6 = struct.pack(">IB", 6, 6) + bytes([255])
    if neg_gmin:
        extra = bytes([0x00, 0x0A, 0x00, 0x0C, 0x80, 0x03])  # 10, 12, -3
        runs = (
            bytes([0x00])        # group reference 0 @5 bits
            + bytes([0xC0])      # width increment 3 @2 bits
            + bytes([0x00])      # length increment 0 @3 bits
            + bytes([0x02, 0x2A, 0x00])  # [0,0,4,2,5,0] @3 bits
        )
    else:
        extra = bytes([0x00, 0x0A, 0x00, 0x0C, 0x00, 0x01])  # 10, 12, +1
        runs = (
            bytes([0x00])        # group reference 0 @5 bits
            + bytes([0x00])      # width increment 0 @2 bits
            + bytes([0x00])      # length increment 0 @3 bits
            # width 0: no packed values at all
        )
    payload = extra + runs
    sec7 = struct.pack(">IB", 5 + len(payload), 7) + payload
    total = len(head) + len(sec5) + len(sec6) + len(sec7) + 4
    msg = bytearray(head + sec5 + sec6 + sec7 + b"7777")
    struct.pack_into(">Q", msg, 8, total)
    return bytes(msg)


def test_foreign_spatial_differencing_grib2_decodes_to_pinned_values():
    """Foreign-bytes witness for order-2 spatial differencing: the
    ww-octet sign-magnitude descriptor block (including a NEGATIVE
    overall minimum), the gmin re-addition and the double cumulative
    integration are pinned against hand-computed octets the engine's
    encoder never produced."""
    from monitoring_data_ingestion_spark.grid.grib2 import decode_grib2

    rec = decode_grib2(_foreign_grib2_spatial_diff(neg_gmin=False))
    np.testing.assert_allclose(
        rec.values,
        [[0.825, 0.925, 1.075], [1.275, 1.525, 1.825]],
        rtol=0, atol=1e-12,
    )
    rec = decode_grib2(_foreign_grib2_spatial_diff(neg_gmin=True))
    np.testing.assert_allclose(
        rec.values,
        [[0.825, 0.925, 1.075], [1.175, 1.375, 1.425]],
        rtol=0, atol=1e-12,
    )


def _foreign_grib1_spectral_complex() -> bytes:
    """GRIB1 COMPLEX spherical-harmonic packing (BDS flags 0b1100 —
    the ECMWF gribex compact archive form), hand-assembled per the WMO
    edition-1 layout: octets 12-13 N (1-based packed-stream pointer),
    14-15 IP = P×1000 sign-magnitude, 16-18 J1/K1/M1, the n ≤ TS
    sub-spectrum as IBM-32 floats at 19..N−1, Laplacian-weighted
    simple-packed remainder after.

    T = 2 (6 complex pairs, 12 real values, per-value degrees
    [0,0,1,1,2,2,1,1,2,2,2,2]); TS = 0 → the 2 values of the (0,0)
    pair ride unpacked: re00 = IBM 7.0 = 0x41700000, im00 = 0.
    P = 1 → IP = 0x03E8; remaining 10 values v = [1,0,3,0,5,6,7,8,9,10]
    were multiplied by n(n+1) = [2,2,6,6,2,2,6,6,6,6] → packed X =
    [2,0,18,0,10,12,42,48,54,60] at 8 bits with R = IBM +0.0, E = 0,
    D = 0.  N = 19 + 4·2 = 27; BDS length 36 (even, 0 unused).

    Expected coefficients: (7+0j), (1+0j), (3+0j), (5+6j), (7+8j),
    (9+10j).
    """
    pds = bytes(
        [
            0x00, 0x00, 0x1C,  # 1-3   section length 28
            2,                 # 4     parameter table version
            98,                # 5     originating centre (ECMWF)
            145,               # 6     generating process
            255,               # 7     grid id: defined by GDS
            0x80,              # 8     flags: GDS present, no BMS
            80,                # 9     parameter
            1,                 # 10    level type: surface
            0, 0,              # 11-12 level value
            23,                # 13    year of century (2023)
            7, 1, 0, 0,        # 14-17 month/day/hour/minute
            1,                 # 18    time unit: hour
            0, 0, 0,           # 19-21 P1/P2/TRI: analysis
            0, 0,              # 22-23 number in average
            0,                 # 24    number missing
            21,                # 25    century
            0,                 # 26    sub-centre
            0x00, 0x00,        # 27-28 decimal scale D = 0
        ]
    )
    gds = bytes(
        [
            0x00, 0x00, 0x20,  # 1-3   section length 32
            0, 255,            # 4-5   NV = 0, PV/PL none
            50,                # 6     data representation: spherical harmonics
            0x00, 0x02,        # 7-8   J = 2
            0x00, 0x02,        # 9-10  K = 2
            0x00, 0x02,        # 11-12 M = 2
            1,                 # 13    representation type 1
            1,                 # 14    mode 1
        ]
    ) + bytes(18)              # 15-32 reserved padding
    bds = bytes(
        [
            0x00, 0x00, 0x24,  # 1-3   section length 36 (even)
            0xC0,              # 4     flags 1100 (spectral + complex)
            0x00, 0x00,        # 5-6   binary scale E = 0
            0x00, 0x00, 0x00, 0x00,  # 7-10 R = IBM +0.0
            8,                 # 11    bits per value
            0x00, 0x1B,        # 12-13 N = 27
            0x03, 0xE8,        # 14-15 IP = 1000 (P = +1)
            0, 0, 0,           # 16-18 J1/K1/M1 = 0 (TS = 0)
            0x41, 0x70, 0x00, 0x00,  # 19-22 re00 = IBM +7.0
            0x00, 0x00, 0x00, 0x00,  # 23-26 im00 = IBM +0.0
        ]
    ) + bytes([2, 0, 18, 0, 10, 12, 42, 48, 54, 60])  # 27-36 packed
    assert len(bds) == 36
    total = 8 + len(pds) + len(gds) + len(bds) + 4
    return (
        b"GRIB"
        + total.to_bytes(3, "big")
        + bytes([1])
        + pds
        + gds
        + bds
        + b"7777"
    )


def test_foreign_spectral_complex_grib1_decodes_to_pinned_values():
    """Foreign-bytes witness for edition-1 complex spherical-harmonic
    packing: the N pointer, IP Laplacian power, J1/K1/M1 sub-spectrum
    and the weight division are pinned against hand-computed octets the
    engine's encoder never produced."""
    from monitoring_data_ingestion_spark.grid.grib1 import decode_grib1

    rec = decode_grib1(_foreign_grib1_spectral_complex())
    assert rec.spectral_truncation == 2
    assert rec.spectral_sub_truncation == 0
    np.testing.assert_allclose(
        rec.spectral_coeffs,
        [7 + 0j, 1 + 0j, 3 + 0j, 5 + 6j, 7 + 8j, 9 + 10j],
        rtol=0, atol=0,
    )


def _foreign_grib2_spatial_diff_missing() -> bytes:
    """GRIB2 template 5.3 (order 1) WITH missing-value management 1,
    hand-assembled — the NCEP-precipitation combination: differencing
    runs over the NON-MISSING subsequence only, the missing point
    rides in-data as the all-ones value at group width.

    Target X = [10, 12, MISS, 16, 15, 20] on `_foreign_grib2`'s 3x2
    grid.  Present subsequence [10, 12, 16, 15, 20]: ival1 = 10,
    first differences [2, 4, -1, 5], gmin = -1 (sign-magnitude 0x81 at
    ww = 1), stored deviations (diff - gmin, leading 0 entry = -gmin)
    = [1, 3, 5, 0, 6] scattered to present positions; the missing
    position packs as the all-ones marker 7 at width 3.  ONE group of
    6: reference 0 at 1 bit, width 3 via the s5 width reference
    (0-bit increments), packed stream [1,3,7,5,0,6] @3 bits =
    0x2F 0xD1 0x80.

    Y = (3.25 + X·2^-1)/10^1 → [0.825, 0.925, NaN, 1.125, 1.075,
    1.325].
    """
    base = _foreign_grib2()
    head = base[: 16 + 21 + 72 + 34]
    sec5 = (
        struct.pack(">IB", 49, 5)
        + struct.pack(">I", 6)        # packed points
        + struct.pack(">H", 3)        # template 5.3
        + bytes([0x40, 0x50, 0x00, 0x00])  # R = +3.25 IEEE 754
        + bytes([0x80, 0x01])         # E = -1 (sign-magnitude)
        + bytes([0x00, 0x01])         # D = +1
        + bytes([1])                  # bits per group reference
        + bytes([0])                  # original field type: float
        + bytes([1])                  # group splitting: general
        + bytes([1])                  # missing value management 1
        + struct.pack(">f", 9999.0)   # primary missing substitute
        + b"\xff\xff\xff\xff"         # secondary substitute (none)
        + struct.pack(">I", 1)        # NG = 1 group
        + bytes([3])                  # reference for group widths
        + bytes([0])                  # bits per width increment
        + struct.pack(">I", 6)        # reference for group lengths
        + bytes([1])                  # length increment
        + struct.pack(">I", 6)        # true length of the last group
        + bytes([0])                  # bits per length increment
        + bytes([1])                  # spatial differencing order 1
        + bytes([1])                  # ww: extra descriptors 1 octet
    )
    assert len(sec5) == 49
    sec6 = struct.pack(">IB", 6, 6) + bytes([255])
    payload = (
        bytes([0x0A])        # ival1 = 10 (1 octet, sign-magnitude)
        + bytes([0x81])      # gmin = -1 (sign-magnitude)
        + bytes([0x00])      # group reference 0 @1 bit (byte-aligned)
        + bytes([0x2F, 0xD1, 0x80])  # [1,3,7,5,0,6] @3 bits
    )
    sec7 = struct.pack(">IB", 5 + len(payload), 7) + payload
    total = len(head) + len(sec5) + len(sec6) + len(sec7) + 4
    msg = bytearray(head + sec5 + sec6 + sec7 + b"7777")
    struct.pack_into(">Q", msg, 8, total)
    return bytes(msg)


def test_foreign_spatial_diff_missing_grib2_decodes_to_pinned_values():
    """Foreign-bytes witness for 5.3 × mvm=1: subsequence-only
    differencing, the in-data all-ones missing marker and the
    descriptor block are pinned against hand-computed octets the
    engine's encoder never produced."""
    from monitoring_data_ingestion_spark.grid.grib2 import decode_grib2

    rec = decode_grib2(_foreign_grib2_spatial_diff_missing())
    assert rec.packing_template == 3
    np.testing.assert_allclose(
        rec.values,
        [[0.825, 0.925, np.nan], [1.125, 1.075, 1.325]],
        rtol=0, atol=1e-12,
    )


def _foreign_grib2_complex_mvm2() -> bytes:
    """`_foreign_grib2_complex`'s geometry with MISSING-VALUE
    MANAGEMENT 2 (primary + secondary): the top TWO codes at each
    group width are markers.  Group 0 (width 2) deviations
    [3, 2, 1] → point 0 PRIMARY missing (3 = all-ones), point 1
    SECONDARY (2 = all-ones − 1), point 2 = ref 4 + 1 = 5; group 1
    (width 3) deviations [0, 4, 1] → no marker hit, X = [20, 24, 21].
    Bitstream 11 10 01 | 000 100 001 → 0xE4 0x42.  The secondary
    substitute rides section 5 octets 28-31 as IEEE +7.5 — the decoder
    lands it RAW at the secondary point (it is the producer's declared
    field value), while the primary point lands NaN.

    Y = (3.25 + X·2^-1)/10^1 elsewhere → [NaN, 7.5, 0.575, 1.325,
    1.525, 1.375].
    """
    base = _foreign_grib2()
    head = base[: 16 + 21 + 72 + 34]
    sec5 = (
        struct.pack(">IB", 47, 5)
        + struct.pack(">I", 6)        # packed points
        + struct.pack(">H", 2)        # template 5.2
        + bytes([0x40, 0x50, 0x00, 0x00])  # R = +3.25 IEEE 754
        + bytes([0x80, 0x01])         # E = -1 (sign-magnitude)
        + bytes([0x00, 0x01])         # D = +1
        + bytes([5])                  # bits per group reference
        + bytes([0])                  # original field type: float
        + bytes([1])                  # group splitting: general
        + bytes([2])                  # missing value management 2
        + struct.pack(">I", 0)        # primary missing substitute
        + bytes([0x40, 0xF0, 0x00, 0x00])  # secondary substitute +7.5
        + struct.pack(">I", 2)        # NG = 2 groups
        + bytes([1])                  # reference for group widths
        + bytes([2])                  # bits per width increment
        + struct.pack(">I", 2)        # reference for group lengths
        + bytes([1])                  # length increment
        + struct.pack(">I", 3)        # true length of the last group
        + bytes([3])                  # bits per length increment
    )
    assert len(sec5) == 47
    sec6 = struct.pack(">IB", 6, 6) + bytes([255])
    payload = (
        bytes([0x25, 0x00])  # group references 4, 20 @5 bits
        + bytes([0x60])      # width increments 1, 2 @2 bits
        + bytes([0x24])      # length increments 1, 1 @3 bits
        + bytes([0xE4, 0x42])  # [3,2,1] @2 then [0,4,1] @3
    )
    sec7 = struct.pack(">IB", 5 + len(payload), 7) + payload
    total = len(head) + len(sec5) + len(sec6) + len(sec7) + 4
    msg = bytearray(head + sec5 + sec6 + sec7 + b"7777")
    struct.pack_into(">Q", msg, 8, total)
    return bytes(msg)


def test_foreign_mvm2_grib2_decodes_to_pinned_values():
    """Foreign-bytes witness for missing-value management 2: the two
    marker codes at group width, the raw secondary-substitute landing
    and the NaN primary landing are pinned against hand-laid octets."""
    from monitoring_data_ingestion_spark.grid.grib2 import decode_grib2

    rec = decode_grib2(_foreign_grib2_complex_mvm2())
    v = rec.values
    assert np.isnan(v[0, 0])            # primary marker
    assert v[0, 1] == 7.5               # secondary -> substitute, RAW
    np.testing.assert_allclose(
        v[0, 2:], [0.575], rtol=0, atol=1e-12
    )
    np.testing.assert_allclose(
        v[1], [1.325, 1.525, 1.375], rtol=0, atol=1e-12
    )


def _foreign_grib2_ieee(precision: int) -> bytes:
    """GRIB2 template 5.4 (IEEE floating-point data), hand-assembled:
    section 5 is just the point count, template number 4 and the
    code-table-5.7 precision octet — NO reference value, scales or
    width — and section 7 carries the raw big-endian floats.  Values
    [0.5, -1.25, 3.0, 100.0, -0.0625, 7.5] are exact in binary32, so
    both precisions decode bit-identically."""
    base = _foreign_grib2()
    head = base[: 16 + 21 + 72 + 34]
    sec5 = (
        struct.pack(">IB", 12, 5)
        + struct.pack(">I", 6)   # data points
        + struct.pack(">H", 4)   # data representation template 5.4
        + bytes([precision])     # code table 5.7: 1=binary32 2=binary64
    )
    assert len(sec5) == 12
    sec6 = struct.pack(">IB", 6, 6) + bytes([255])
    vals = np.array([0.5, -1.25, 3.0, 100.0, -0.0625, 7.5])
    payload = vals.astype(">f4" if precision == 1 else ">f8").tobytes()
    sec7 = struct.pack(">IB", 5 + len(payload), 7) + payload
    total = len(head) + len(sec5) + len(sec6) + len(sec7) + 4
    msg = bytearray(head + sec5 + sec6 + sec7 + b"7777")
    struct.pack_into(">Q", msg, 8, total)
    return bytes(msg)


def test_foreign_ieee_float_grib2_decodes_to_pinned_values():
    """Foreign-bytes witness for template 5.4: the short no-R/E/D
    section-5 layout and the raw float section 7, both precisions."""
    import pytest

    from monitoring_data_ingestion_spark.grid.grib2 import decode_grib2

    for precision in (1, 2):
        rec = decode_grib2(_foreign_grib2_ieee(precision))
        assert rec.packing_template == 4
        assert rec.nbits == 32 * precision
        np.testing.assert_allclose(
            rec.values,
            [[0.5, -1.25, 3.0], [100.0, -0.0625, 7.5]],
            rtol=0, atol=0,
        )
    # an unknown precision octet (code table 5.7 has only 1/2/3, and
    # 3=128-bit is not decodable here) stops loudly
    bad = bytearray(_foreign_grib2_ieee(1))
    pos = 16
    while bad[pos + 4] != 5:
        pos += int.from_bytes(bad[pos : pos + 4], "big")
    bad[pos + 11] = 3
    with pytest.raises(ValueError, match="IEEE precision"):
        decode_grib2(bytes(bad))
    # a truncated float payload stops loudly
    short = bytearray(_foreign_grib2_ieee(1))
    # shrink section 7 by 4 octets (drop the last float)
    p7 = 16
    while short[p7 + 4] != 7:
        p7 += int.from_bytes(short[p7 : p7 + 4], "big")
    l7 = int.from_bytes(short[p7 : p7 + 4], "big")
    short2 = short[: p7 + l7 - 4] + short[p7 + l7 :]
    struct.pack_into(">I", short2, p7, l7 - 4)
    struct.pack_into(">Q", short2, 8, len(short2))
    with pytest.raises(ValueError, match="truncated IEEE"):
        decode_grib2(bytes(short2))


def _foreign_grib2_aec() -> bytes:
    """GRIB2 template 5.42 (CCSDS/AEC), hand-assembled: section 5 ends
    with the CCSDS flags (octet 21 = 4, MSB only / no preprocessing),
    block size (22 = 8) and reference sample interval (23-24 = 128);
    section 7 is one hand-laid FS block — basic-mode 3-bit ID '001'
    (n = 4 ≤ 8; the 2-bit widths belong to the RESTRICTED option)
    then FS codes of X = [1,0,2,1,0,3] (+ 2 zero pad samples to
    J = 8): 001 | 01 1 001 01 1 0001 1 1.  Y = (3.25 + X·2^-1)/10^1."""
    base = _foreign_grib2()
    head = base[: 16 + 21 + 72 + 34]
    sec5 = (
        struct.pack(">IB", 24, 5)
        + struct.pack(">I", 6)   # data points
        + struct.pack(">H", 42)  # data representation template 5.42
        + bytes([0x40, 0x50, 0x00, 0x00])  # R = +3.25 IEEE 754
        + bytes([0x80, 0x01])    # E = -1 (sign-magnitude)
        + bytes([0x00, 0x01])    # D = +1
        + bytes([4])             # bits per value
        + bytes([4])             # CCSDS flags: MSB, no preprocessing
        + bytes([8])             # block size J = 8
        + struct.pack(">H", 128)  # reference sample interval
    )
    assert len(sec5) == 24
    sec6 = struct.pack(">IB", 6, 6) + bytes([255])
    bits = "001" + "01 1 001 01 1 0001 1 1"
    bits = bits.replace(" ", "")
    bits += "0" * (-len(bits) % 8)
    payload = bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))
    sec7 = struct.pack(">IB", 5 + len(payload), 7) + payload
    total = len(head) + len(sec5) + len(sec6) + len(sec7) + 4
    msg = bytearray(head + sec5 + sec6 + sec7 + b"7777")
    struct.pack_into(">Q", msg, 8, total)
    return bytes(msg)


def test_foreign_aec_grib2_decodes_to_pinned_values():
    """Foreign-bytes witness for template 5.42: the octet-21-24
    parameter block and a hand-laid CCSDS fundamental-sequence stream
    decode to hand-computed values (X = [1,0,2,1,0,3])."""
    from monitoring_data_ingestion_spark.grid.grib2 import decode_grib2

    rec = decode_grib2(_foreign_grib2_aec())
    assert rec.packing_template == 42
    np.testing.assert_allclose(
        rec.values,
        [[0.375, 0.325, 0.425], [0.375, 0.325, 0.475]],
        rtol=0, atol=1e-12,
    )


def _foreign_grib2_log() -> bytes:
    """GRIB2 template 5.61 (simple packing with LOGARITHM
    pre-processing), hand-assembled: 5.0's R/E/D/width head with the
    pre-processing parameter B = +2.0 (IEEE) at octets 21-24 in place
    of 5.0's field-type octet.  Z = X = [0,1,2,3,1,0] at 4 bits
    (R = 0, E = 0, D = 0) → Y = e^Z − 2."""
    base = _foreign_grib2()
    head = base[: 16 + 21 + 72 + 34]
    sec5 = (
        struct.pack(">IB", 24, 5)
        + struct.pack(">I", 6)   # data points
        + struct.pack(">H", 61)  # data representation template 5.61
        + struct.pack(">f", 0.0)  # R = 0
        + bytes([0x00, 0x00])    # E = 0
        + bytes([0x00, 0x00])    # D = 0
        + bytes([4])             # bits per value
        + bytes([0x40, 0x00, 0x00, 0x00])  # B = +2.0 IEEE 754
    )
    assert len(sec5) == 24
    sec6 = struct.pack(">IB", 6, 6) + bytes([255])
    payload = bytes([0x01, 0x23, 0x10])  # [0,1,2,3,1,0] @4 bits
    sec7 = struct.pack(">IB", 5 + len(payload), 7) + payload
    total = len(head) + len(sec5) + len(sec6) + len(sec7) + 4
    msg = bytearray(head + sec5 + sec6 + sec7 + b"7777")
    struct.pack_into(">Q", msg, 8, total)
    return bytes(msg)


def test_foreign_log_grib2_decodes_to_pinned_values():
    """Foreign-bytes witness for template 5.61: the B-parameter octets
    and the exp inversion — Y = e^Z − B with hand-laid Z."""
    from monitoring_data_ingestion_spark.grid.grib2 import decode_grib2

    rec = decode_grib2(_foreign_grib2_log())
    assert rec.packing_template == 61
    z = np.array([[0.0, 1.0, 2.0], [3.0, 1.0, 0.0]])
    np.testing.assert_allclose(rec.values, np.exp(z) - 2.0, rtol=0, atol=0)


def _foreign_grib2_spectral(truncation: int, sec5: bytes, data: bytes) -> bytes:
    """The base message's sections 1 and 4 around a hand-assembled grid
    template 3.50 (spherical harmonic coefficients): J = K = M = T
    (triangular), representation type 1 (associated Legendre), mode 1
    (m = 0..T, n = m..T), section 3's point count the number of complex
    coefficients; no bitmap."""
    base = _foreign_grib2()
    sec1 = base[16 : 16 + 21]
    sec4 = base[16 + 21 + 72 : 16 + 21 + 72 + 34]
    sec3 = (
        struct.pack(">IB", 28, 3)
        + bytes([0])  # source of grid definition
        + struct.pack(">I", (truncation + 1) * (truncation + 2) // 2)
        + bytes([0, 0])  # no optional list
        + struct.pack(">H", 50)  # template 3.50
        + struct.pack(">III", truncation, truncation, truncation)  # J, K, M
        + bytes([1, 1])  # representation type 1, mode 1
    )
    assert len(sec3) == 28
    sec6 = struct.pack(">IB", 6, 6) + bytes([255])
    sec7 = struct.pack(">IB", 5 + len(data), 7) + data
    body = sec1 + sec3 + sec4 + sec5 + sec6 + sec7
    total = 16 + len(body) + 4
    return b"GRIB" + bytes([0, 0, 0, 2]) + struct.pack(">Q", total) + body + b"7777"


def test_foreign_spectral_simple_grib2_5_50_decodes():
    """Foreign-bytes witness for template 5.50 (spectral simple packing)
    on grid 3.50, T = 1: the real part of C(0,0) rides unpacked as an
    IEEE float in section 5 octets 21-24; the other five reals of the
    mode-1 sequence (im00, re01, im01, re11, im11) simple-pack with
    R = -2.0, E = 0, D = 1 at 8 bits: X = [2, 37, 2, 7, 0] ->
    Y = (X - 2)/10 = [0, 3.5, 0, 0.5, -0.2]."""
    from monitoring_data_ingestion_spark.grid.grib2 import decode_grib2

    sec5 = (
        struct.pack(">IB", 24, 5)
        + struct.pack(">I", 5)  # packed values: all but re00
        + struct.pack(">H", 50)  # data representation template 5.50
        + bytes([0xC0, 0x00, 0x00, 0x00])  # R = -2.0 IEEE 754
        + bytes([0x00, 0x00])  # E = 0
        + bytes([0x00, 0x01])  # D = +1
        + bytes([8])  # bits per value
        + bytes([0x41, 0x48, 0x00, 0x00])  # re00 = +12.5 IEEE 754
    )
    assert len(sec5) == 24
    rec = decode_grib2(_foreign_grib2_spectral(1, sec5, bytes([2, 37, 2, 7, 0])))
    assert rec.packing_template == 50
    assert (rec.spectral_truncation, rec.spectral_sub_truncation) == (1, None)
    assert (rec.nj, rec.ni) == (3, None)
    np.testing.assert_allclose(
        rec.spectral_coeffs, [12.5, 3.5, 0.5 - 0.2j], rtol=0, atol=1e-12
    )


def test_foreign_spectral_complex_grib2_5_51_decodes():
    """Foreign-bytes witness for template 5.51 (spectral complex
    packing) on grid 3.50, T = 2, JS = KS = MS = 1: the six reals of the
    n <= 1 coefficients (0,0), (0,1), (1,1) ride unpacked as IEEE floats
    at the head of section 7; the six reals of the n = 2 coefficients
    (0,2), (1,2), (2,2) simple-pack (R = 0, E = 0, D = 0, 6 bits) after
    the Laplacian weight (n(n+1))^P with P = 1 (octets 21-24 hold
    P x 10^6): X = [6, 0, 12, 3, 30, 60] -> X / 6."""
    from monitoring_data_ingestion_spark.grid.grib2 import decode_grib2

    sec5 = (
        struct.pack(">IB", 31, 5)
        + struct.pack(">I", 6)  # packed values: the n = 2 reals
        + struct.pack(">H", 51)  # data representation template 5.51
        + struct.pack(">f", 0.0)  # R = 0
        + bytes([0x00, 0x00])  # E = 0
        + bytes([0x00, 0x00])  # D = 0
        + bytes([6])  # bits per value
        + struct.pack(">I", 1_000_000)  # P = 1.0 (x 10^6, sign-magnitude)
        + struct.pack(">HHH", 1, 1, 1)  # JS, KS, MS
        + bytes([1])  # unpacked subset precision: IEEE 32-bit
    )
    assert len(sec5) == 31
    unpacked = bytes.fromhex(
        "41200000" "00000000"  # C(0,0) = 10
        "c0900000" "00000000"  # C(0,1) = -4.5
        "40100000" "bfc00000"  # C(1,1) = 2.25 - 1.5i
    )
    bits = "".join(f"{x:06b}" for x in [6, 0, 12, 3, 30, 60]) + "0000"
    packed = bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))
    assert len(packed) == 5
    rec = decode_grib2(_foreign_grib2_spectral(2, sec5, unpacked + packed))
    assert rec.packing_template == 51
    assert (rec.spectral_truncation, rec.spectral_sub_truncation) == (2, 1)
    np.testing.assert_allclose(
        rec.spectral_coeffs,
        [10.0, -4.5, 1.0, 2.25 - 1.5j, 2.0 + 0.5j, 5.0 + 10.0j],
        rtol=0, atol=1e-12,
    )


def _foreign_with_sec4(sec4: bytes) -> bytes:
    """Rewrap the base foreign GRIB2 message around a hand-assembled
    replacement section 4 (sections 5-7 and the 10-bit payload are
    reused; only the total length is re-stamped)."""
    base = _foreign_grib2()
    head = base[: 16 + 21 + 72]
    tail = base[16 + 21 + 72 + 34 : -4]  # sections 5+6+7
    total = len(head) + len(sec4) + len(tail) + 4
    msg = bytearray(head + sec4 + tail + b"7777")
    struct.pack_into(">Q", msg, 8, total)
    return bytes(msg)


def test_foreign_chemistry_ensemble_statistical_decodes():
    """FOREIGN-BYTES witness for template 4.43 (chemistry + ensemble +
    statistical — the deepest compose of the CAMS family): the 2-octet
    code-table-4.230 constituent rides between the parameter number
    and the generating-process octet, shifting EVERY later field by
    two; the ensemble octets sit at 37-39 (1-based) and the 4.8-style
    statistical block from octet 40."""
    from monitoring_data_ingestion_spark.grid.grib2 import decode_grib2

    sec4 = (
        struct.pack(">IB", 63, 4)
        + struct.pack(">H", 0)        # NV
        + struct.pack(">H", 43)       # template 4.43
        + bytes([0, 0])               # category, number
        + struct.pack(">H", 8)        # constituent: 8 = NO2 (4.230)
        + bytes([2, 0, 0])            # gen process type, ids
        + struct.pack(">H", 0) + bytes([0])  # cutoff
        + bytes([1]) + struct.pack(">I", 12)  # +12 h
        + bytes([103, 0]) + struct.pack(">I", 2)   # 2 m above ground
        + bytes([255, 255]) + b"\xff\xff\xff\xff"  # surface 2 missing
        + bytes([3, 7, 51])           # ensemble: type 3, member 7 / 51
        # statistical block: interval end 2023-07-16 00:00:00,
        # 1 time-range spec, 0 missing, process 0 (average) over 24 h
        + struct.pack(">H", 2023) + bytes([7, 16, 0, 0, 0])
        + bytes([1]) + struct.pack(">I", 0)
        + bytes([0, 2, 1]) + struct.pack(">I", 24)
        + bytes([1]) + struct.pack(">I", 0)
    )
    assert len(sec4) == 63
    rec = decode_grib2(_foreign_with_sec4(sec4))
    assert rec.product_template == 43
    assert rec.constituent_type == 8
    assert rec.ensemble_type == 3
    assert rec.ensemble_member == 7 and rec.ensemble_size == 51
    assert rec.statistical_process == 0
    assert rec.interval_end == (2023, 7, 16, 0, 0)
    assert rec.level_type == 103 and rec.level_value == 2
    assert rec.forecast_hours == 12
    # the data sections decode unchanged through the spliced layout
    np.testing.assert_allclose(
        rec.values,
        [[0.325, 0.375, 25.925], [50.325, 0.475, 51.475]],
        rtol=0, atol=1e-12,
    )
    # aerosol columns stay None on a chemistry record
    assert rec.aerosol_type is None and rec.aerosol_first_size_m is None


def test_foreign_aerosol_wavelength_decodes():
    """FOREIGN-BYTES witness for template 4.48 (aerosol + size AND
    optical-wavelength intervals — 24 inserted octets): both
    (scale, value) pairs decode signed-magnitude, either side of an
    interval lands None when coded missing."""
    from monitoring_data_ingestion_spark.grid.grib2 import decode_grib2

    sec4 = (
        struct.pack(">IB", 58, 4)
        + struct.pack(">H", 0)        # NV
        + struct.pack(">H", 48)       # template 4.48
        + bytes([20, 0])              # category 20 (atmos chemistry)
        + struct.pack(">H", 62001)    # aerosol type: dust (4.233)
        + bytes([2])                  # size interval: between (4.91)
        + bytes([8]) + struct.pack(">I", 25)    # first size 2.5e-7 m
        + bytes([0xFF]) + b"\xff\xff\xff\xff"   # second size missing
        + bytes([11])                 # wavelength interval type
        + bytes([9]) + struct.pack(">I", 550)   # 550 nm
        + bytes([9]) + struct.pack(">I", 865)   # 865 nm
        + bytes([2, 0, 0])            # gen process type, ids
        + struct.pack(">H", 0) + bytes([0])  # cutoff
        + bytes([1]) + struct.pack(">I", 0)  # analysis
        + bytes([1, 0]) + struct.pack(">I", 0)     # ground surface
        + bytes([255, 255]) + b"\xff\xff\xff\xff"  # surface 2 missing
    )
    assert len(sec4) == 58
    rec = decode_grib2(_foreign_with_sec4(sec4))
    assert rec.product_template == 48
    assert rec.aerosol_type == 62001
    assert rec.aerosol_size_interval == 2
    assert rec.aerosol_first_size_m == 2.5e-07
    assert rec.aerosol_second_size_m is None
    assert rec.aerosol_wavelength_interval == 11
    assert rec.aerosol_first_wavelength_m == 5.5e-07
    assert rec.aerosol_second_wavelength_m == 8.65e-07
    assert rec.level_type == 1 and rec.forecast_hours == 0
    assert rec.constituent_type is None
    np.testing.assert_allclose(
        rec.values,
        [[0.325, 0.375, 25.925], [50.325, 0.475, 51.475]],
        rtol=0, atol=1e-12,
    )


def _foreign_grib2_reduced_bitmapped() -> bytes:
    """GRIB2 REDUCED Gaussian grid (template 3.40, Ni coded missing +
    the section-3 points-per-row list) WITH a primary bitmap,
    hand-assembled: section 6 carries sum(row_ni) bits in flat storage
    order and section 7 packs only the present cells.

    Grid: N = 1 (nj = 2 parallels at ±degrees(asin(1/sqrt(3))) =
    ±35.26438968...° → ±35264390 µdeg), rows [3, 4] (7 points).
    Bitmap (flat): 1,0,1,0,1,0,1 → 4 present cells.
    Packing 5.0: R = 0, E = 0, D = 0, 8 bits; X = [11, 22, 33, 44]."""
    base = _foreign_grib2()
    head = base[: 16 + 21]  # indicator + section 1
    sec4 = base[16 + 21 + 72 : 16 + 21 + 72 + 34]  # reuse template 4.0
    earth = (
        bytes([6, 0]) + struct.pack(">I", 0)
        + bytes([0]) + struct.pack(">I", 0)
        + bytes([0]) + struct.pack(">I", 0)
    )
    sec3 = (
        struct.pack(">IB", 76, 3)
        + bytes([0])                    # source of grid definition
        + struct.pack(">I", 7)          # number of data points
        + bytes([2, 1])                 # list width 2, full parallels
        + struct.pack(">H", 40)         # template 3.40
        + earth
        + b"\xff\xff\xff\xff"           # Ni coded missing
        + struct.pack(">I", 2)          # Nj
        + struct.pack(">I", 0)          # basic angle
        + b"\xff\xff\xff\xff"           # subdivisions missing
        + struct.pack(">I", 35_264_390)  # La1 = +35.26439°
        + struct.pack(">I", 0)          # Lo1
        + bytes([0x00])                 # resolution: no common Di
        + struct.pack(">I", 0x80000000 | 35_264_390)  # La2 (negative)
        + struct.pack(">I", 270_000_000)  # Lo2 = 3·360/4
        + b"\xff\xff\xff\xff"           # Di coded missing
        + struct.pack(">I", 1)          # N
        + bytes([0x00])                 # scanning mode: north first
        + struct.pack(">HH", 3, 4)      # points per row
    )
    assert len(sec3) == 76
    sec5 = (
        struct.pack(">IB", 21, 5)
        + struct.pack(">I", 4)          # packed (present) points
        + struct.pack(">H", 0)          # template 5.0
        + struct.pack(">f", 0.0)        # R = 0
        + bytes([0, 0, 0, 0])           # E = 0, D = 0
        + bytes([8, 0])                 # 8 bits, float field
    )
    assert len(sec5) == 21
    sec6 = struct.pack(">IB", 7, 6) + bytes([0]) + bytes([0b10101010])
    sec7 = struct.pack(">IB", 9, 7) + bytes([11, 22, 33, 44])
    body = head + sec3 + sec4 + sec5 + sec6 + sec7 + b"7777"
    msg = bytearray(body)
    struct.pack_into(">Q", msg, 8, len(body))
    return bytes(msg)


def test_foreign_reduced_bitmapped_grib2_decodes_to_pinned_values():
    """Foreign-bytes witness for bitmap × reduced Gaussian in EDITION 2
    (the r15 verdict's cross-edition asymmetry): masked cells land NaN
    in the FLAT ragged layout while the per-cell geometry still covers
    every cell."""
    from monitoring_data_ingestion_spark.grid.grib2 import decode_grib2

    rec = decode_grib2(_foreign_grib2_reduced_bitmapped())
    assert rec.row_ni.tolist() == [3, 4]
    assert rec.ni is None and rec.nj == 2
    assert rec.gaussian_n == 1
    expected = [11.0, np.nan, 22.0, np.nan, 33.0, np.nan, 44.0]
    np.testing.assert_array_equal(
        np.isnan(rec.values), np.isnan(expected)
    )
    m = ~np.isnan(expected)
    np.testing.assert_allclose(rec.values[m], np.asarray(expected)[m])
    np.testing.assert_allclose(
        rec.latitudes_deg, [35.26438968, -35.26438968], atol=5e-7
    )
    lats = rec.cell_lats_deg
    lons = rec.cell_lons_deg
    np.testing.assert_allclose(
        lats, [35.26438968] * 3 + [-35.26438968] * 4, atol=5e-7
    )
    np.testing.assert_allclose(
        lons, [0.0, 120.0, 240.0, 0.0, 90.0, 180.0, 270.0], atol=1e-9
    )


def _foreign_grib2_runlength(two_bit: bool) -> bytes:
    """GRIB2 template 5.200 (JMA run-length level packing),
    hand-assembled on the base 3×2 grid.

    ``two_bit=False`` — nbits = 4, MV = 6, MVL = 6, D = 1, table
    [5, 10, 20, 40, 80, 160]; LNGU = 16 − 1 − 6 = 9.  Stream
    [2, 9, 0, 8, 1]: level 2, digit 9 (adds 9−7 = 2 → run 3), level 0,
    digit 8 (adds 1 → run 2), level 1 → levels [2,2,2,0,0,1] →
    Y = [1.0, 1.0, 1.0, NaN, NaN, 0.5].

    ``two_bit=True`` — nbits = 2, MV = 1, MVL = 1, D = 1, table [5];
    LNGU = 4 − 1 − 1 = 2.  Stream [1, 2, 2, 3, 0]: level 1 then
    base-2 digits (0, 0, 1) LEAST-significant-first = 4 → run 5, then
    level 0 → Y = [0.5]*5 + [NaN].  The asymmetric digit chain pins
    the LSB-first order: an MSB-first misread gives run 2 and the
    stream then overruns/underruns the grid."""
    base = _foreign_grib2()
    head = base[: 16 + 21 + 72 + 34]
    if two_bit:
        nbits, mv, tbl = 2, 1, [5]
        payload = bytes([0b01101011, 0x00])  # codes 1,2,2,3,0 @2 bits
    else:
        nbits, mv, tbl = 4, 6, [5, 10, 20, 40, 80, 160]
        payload = bytes([0x29, 0x08, 0x10])  # codes 2,9,0,8,1 @4 bits
    sec5 = (
        struct.pack(">IB", 17 + 2 * len(tbl), 5)
        + struct.pack(">I", 6)     # data points
        + struct.pack(">H", 200)   # template 5.200
        + bytes([nbits])
        + struct.pack(">H", mv)
        + struct.pack(">H", len(tbl))
        + bytes([1])               # decimal scale D = +1
        + b"".join(struct.pack(">H", t) for t in tbl)
    )
    sec6 = struct.pack(">IB", 6, 6) + bytes([255])
    sec7 = struct.pack(">IB", 5 + len(payload), 7) + payload
    total = len(head) + len(sec5) + len(sec6) + len(sec7) + 4
    msg = bytearray(head + sec5 + sec6 + sec7 + b"7777")
    struct.pack_into(">Q", msg, 8, total)
    return bytes(msg)


def test_foreign_runlength_grib2_decodes_to_pinned_values():
    """Foreign-bytes witness for template 5.200: the section-5 octet
    layout (code width / MV / MVL / decimal scale / level table) and
    the LSB-first base-LNGU run-digit convention, both pinned against
    hand-laid octets with hand-computed expectations."""
    from monitoring_data_ingestion_spark.grid.grib2 import decode_grib2

    rec = decode_grib2(_foreign_grib2_runlength(False))
    assert rec.packing_template == 200
    expected = np.array([[1.0, 1.0, 1.0], [np.nan, np.nan, 0.5]])
    np.testing.assert_array_equal(np.isnan(rec.values), np.isnan(expected))
    m = ~np.isnan(expected)
    np.testing.assert_allclose(rec.values[m], expected[m], rtol=0, atol=0)
    rec = decode_grib2(_foreign_grib2_runlength(True))
    expected = np.array([[0.5, 0.5, 0.5], [0.5, 0.5, np.nan]])
    np.testing.assert_array_equal(np.isnan(rec.values), np.isnan(expected))
    np.testing.assert_allclose(rec.values[:, :2], 0.5, rtol=0, atol=0)


def test_foreign_reforecast_grib2_decodes():
    """FOREIGN-BYTES witness for template 4.61 (ensemble reforecast +
    statistical interval): the model-version date rides at octets
    38-44, pushing the statistical block seven octets past 4.11's —
    a decoder using 4.11's offset would read the version date as the
    interval head."""
    from monitoring_data_ingestion_spark.grid.grib2 import decode_grib2

    sec4 = (
        struct.pack(">IB", 68, 4)
        + struct.pack(">H", 0)        # NV
        + struct.pack(">H", 61)       # template 4.61
        + bytes([0, 0])               # category, number
        + bytes([2, 0, 0])            # gen process type, ids
        + struct.pack(">H", 0) + bytes([0])  # cutoff
        + bytes([1]) + struct.pack(">I", 24)  # +24 h
        + bytes([103, 0]) + struct.pack(">I", 2)   # 2 m above ground
        + bytes([255, 255]) + b"\xff\xff\xff\xff"  # surface 2 missing
        + bytes([3, 4, 11])           # ensemble: type 3, member 4 / 11
        + struct.pack(">H", 2017) + bytes([3, 15, 6, 30, 0])  # model ver
        # statistical block: end 2023-07-16 12:00, 1 spec, process 0
        + struct.pack(">H", 2023) + bytes([7, 16, 12, 0, 0])
        + bytes([1]) + struct.pack(">I", 0)
        + bytes([0, 2, 1]) + struct.pack(">I", 24)
        + bytes([1]) + struct.pack(">I", 0)
    )
    assert len(sec4) == 68
    rec = decode_grib2(_foreign_with_sec4(sec4))
    assert rec.product_template == 61
    assert rec.ensemble_type == 3
    assert rec.ensemble_member == 4 and rec.ensemble_size == 11
    assert rec.model_version == (2017, 3, 15, 6, 30)
    assert rec.statistical_process == 0
    assert rec.interval_end == (2023, 7, 16, 12, 0)
    assert rec.level_type == 103 and rec.level_value == 2
    assert rec.forecast_hours == 24
    np.testing.assert_allclose(
        rec.values,
        [[0.325, 0.375, 25.925], [50.325, 0.475, 51.475]],
        rtol=0, atol=1e-12,
    )


def _stat_block(end: tuple, specs: list) -> bytes:
    """WMO 4.8-style statistical block: end of the overall interval
    (year, month, day, hour, minute, second), n, total missing values,
    then per time-range specification the process, increment type 2
    (successive fields), range unit 1 (hour), range length, increment
    unit 1 and increment 0."""
    out = struct.pack(">H", end[0]) + bytes(end[1:])
    out += bytes([len(specs)]) + struct.pack(">I", 0)
    for process, hours in specs:
        out += bytes([process, 2, 1]) + struct.pack(">I", hours)
        out += bytes([1]) + struct.pack(">I", 0)
    return out


def test_foreign_cluster_statistical_4_13_decodes():
    """FOREIGN-BYTES witness for template 4.13 (cluster over a
    rectangular domain + statistical interval): the statistical block
    follows the NC-long member list, so its octets move with NC — here
    three members put it at octet 72."""
    from monitoring_data_ingestion_spark.grid.grib2 import decode_grib2, inventory_line

    sec4 = (
        struct.pack(">IB", 107, 4)
        + struct.pack(">H", 0)        # NV
        + struct.pack(">H", 13)       # template 4.13
        + bytes([1, 8])               # category 1, number 8 (total precip)
        + bytes([4, 0, 0])            # gen process type 4 (ensemble), ids
        + struct.pack(">H", 0) + bytes([0])  # cutoff
        + bytes([1]) + struct.pack(">I", 24)  # +24 h
        + bytes([1, 0]) + struct.pack(">I", 0)     # ground surface
        + bytes([255, 255]) + b"\xff\xff\xff\xff"  # surface 2 missing
        + bytes([0, 51])              # derived: unweighted mean of 51
        + bytes([2, 255, 255, 6, 1])  # cluster 2 of 6, method 1
        # domain N/S latitude, E/W longitude (W -10 deg sign-magnitude)
        + struct.pack(">I", 70_000_000) + struct.pack(">I", 30_000_000)
        + struct.pack(">I", 40_000_000)
        + struct.pack(">I", 0x80000000 | 10_000_000)
        + bytes([3])                  # NC = 3 forecasts in the cluster
        + bytes([1]) + struct.pack(">I", 25)      # std dev 2.5
        + bytes([0xFF]) + b"\xff\xff\xff\xff"     # distance: missing
        + bytes([4, 17, 33])          # the member numbers
        # average of daily maxima: n = 2, outermost process 0
        + _stat_block((2023, 7, 16, 0, 0, 0), [(0, 24), (2, 1)])
    )
    assert len(sec4) == 107
    msg = _foreign_with_sec4(sec4)
    rec = decode_grib2(msg)
    assert rec.product_template == 13
    assert (rec.derived_forecast, rec.ensemble_size) == (0, 51)
    assert (rec.cluster_identifier, rec.cluster_total, rec.cluster_method) == (2, 6, 1)
    assert rec.cluster_size == 3 and rec.cluster_members == (4, 17, 33)
    assert rec.cluster_stddev == 2.5 and rec.cluster_mean_distance is None
    assert rec.interval_end == (2023, 7, 16, 0, 0)
    assert rec.time_range_count == 2 and rec.statistical_process == 0
    assert rec.forecast_hours == 24 and rec.level_type == 1
    assert inventory_line(msg) == "d0:c1,n8:l1/0:2023071500:f24"
    np.testing.assert_allclose(
        rec.values,
        [[0.325, 0.375, 25.925], [50.325, 0.475, 51.475]],
        rtol=0, atol=1e-12,
    )


def test_foreign_ensemble_satellite_statistical_4_34_decodes():
    """FOREIGN-BYTES witness for template 4.34 (simulated satellite,
    individual ensemble member, statistical interval): no fixed
    surfaces; the NB bands stand at octet 23, the three ensemble octets
    follow the band list and the statistical block follows those."""
    from monitoring_data_ingestion_spark.grid.grib2 import decode_grib2, inventory_line

    sec4 = (
        struct.pack(">IB", 72, 4)
        + struct.pack(">H", 0)        # NV
        + struct.pack(">H", 34)       # template 4.34
        + bytes([4, 7])               # category 4, number 7
        + bytes([2, 0, 0])            # gen process type, ids
        + struct.pack(">H", 0) + bytes([0])  # cutoff
        + bytes([1]) + struct.pack(">I", 6)  # +6 h
        + bytes([2])                  # NB = 2 contributing bands
        # series, number, instrument (2 octets), wave number scale/value
        + struct.pack(">HHH", 333, 16, 615) + bytes([0x81]) + struct.pack(">I", 912)
        + struct.pack(">HHH", 333, 16, 616) + bytes([1]) + struct.pack(">I", 77)
        + bytes([3, 12, 30])          # ensemble: type 3, member 12 / 30
        + _stat_block((2023, 7, 15, 6, 0, 0), [(1, 6)])
    )
    assert len(sec4) == 72
    msg = _foreign_with_sec4(sec4)
    rec = decode_grib2(msg)
    assert rec.product_template == 34
    assert rec.satellite_bands == 2
    assert rec.satellite_series == (333, 333)
    assert rec.satellite_instruments == (615, 616)
    assert rec.central_wavenumbers == (9120.0, 7.7)
    assert (rec.ensemble_type, rec.ensemble_member, rec.ensemble_size) == (3, 12, 30)
    assert rec.interval_end == (2023, 7, 15, 6, 0)
    assert rec.statistical_process == 1 and rec.time_range_count == 1
    assert rec.forecast_hours == 6
    assert rec.level_type is None and rec.level2_type is None
    assert inventory_line(msg) == "d0:c4,n7:l-/-:2023071500:f6"


def test_foreign_radar_4_20_decodes():
    """FOREIGN-BYTES witness for template 4.20 (radar product): the
    site block from octet 13, a sign-magnitude NEGATIVE site longitude,
    the CCITT IA5 site id, and no lead or surface octets at all."""
    from monitoring_data_ingestion_spark.grid.grib2 import decode_grib2, inventory_line

    sec4 = (
        struct.pack(">IB", 43, 4)
        + struct.pack(">H", 0)        # NV
        + struct.pack(">H", 20)       # template 4.20
        + bytes([15, 1])              # category 15 (radar), number 1
        + bytes([8])                  # gen process type: observation
        + bytes([1, 1])               # one radar site; time unit: hour
        + struct.pack(">I", 35_333_000)                # latitude 35.333
        + struct.pack(">I", 0x80000000 | 97_278_000)   # longitude -97.278
        + struct.pack(">H", 370)      # elevation (m)
        + b"KTLX"                     # site id
        + struct.pack(">H", 1234)     # numeric site id
        + bytes([1, 0, 1, 1, 5])      # mode, calibration, QC, clutter, elev
        + struct.pack(">H", 60)       # accumulation interval (min)
        + bytes([18])                 # echo-top reference
        + (250).to_bytes(3, "big")    # range bin spacing (m)
        + struct.pack(">H", 100)      # radial angular spacing
    )
    assert len(sec4) == 43
    msg = _foreign_with_sec4(sec4)
    rec = decode_grib2(msg)
    assert rec.product_template == 20
    assert rec.radar_sites == 1 and rec.radar_site_id == "KTLX"
    assert rec.radar_site_lat == 35.333 and rec.radar_site_lon == -97.278
    assert rec.radar_elevation_m == 370 and rec.radar_site_number == 1234
    assert rec.radar_operating_mode == 1
    assert rec.forecast_hours is None and rec.level_type is None
    assert inventory_line(msg) == "d0:c15,n1:l-/-:2023071500:f-"


def test_foreign_deprecated_satellite_4_30_decodes():
    """FOREIGN-BYTES witness for template 4.30 (the deprecated satellite
    form): a 10-octet band whose instrument type is ONE octet — read
    with 4.31's 11-octet band, the second band would start one octet
    late."""
    from monitoring_data_ingestion_spark.grid.grib2 import decode_grib2, inventory_line

    sec4 = (
        struct.pack(">IB", 34, 4)
        + struct.pack(">H", 0)        # NV
        + struct.pack(">H", 30)       # template 4.30
        + bytes([5, 4])               # category 5, number 4
        + bytes([8, 0])               # observation, generating process 0
        + bytes([2])                  # NB = 2 bands
        # series, number, instrument (1 octet), wave number scale/value
        + struct.pack(">HH", 54, 1) + bytes([7]) + bytes([1]) + struct.pack(">I", 25)
        + struct.pack(">HH", 54, 2) + bytes([9]) + bytes([0x82]) + struct.pack(">I", 3)
    )
    assert len(sec4) == 34
    msg = _foreign_with_sec4(sec4)
    rec = decode_grib2(msg)
    assert rec.product_template == 30
    assert rec.satellite_bands == 2
    assert rec.satellite_series == (54, 54) and rec.satellite_numbers == (1, 2)
    assert rec.satellite_instruments == (7, 9)
    assert rec.central_wavenumbers == (2.5, 300.0)
    assert rec.forecast_hours is None and rec.level_type is None
    assert inventory_line(msg) == "d0:c5,n4:l-/-:2023071500:f-"
