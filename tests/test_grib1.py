"""GRIB1 codec (grid/grib1.py): encode→decode round-trips, IBM-float
exactness, bitmap masking, multi-record scan/select (wgrib -d parity),
and malformed-input rejection. Property tests pin the quantization error
bound of simple packing: |decoded − original| ≤ 2^(E−1)/10^D."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from monitoring_data_ingestion_spark.grid.grib1 import (
    decode_grib1,
    encode_grib1_message,
    ibm32_decode,
    ibm32_encode,
    iter_messages,
    select_record,
)


def test_integer_grid_roundtrips_bit_exactly():
    rng = np.random.default_rng(11)
    v = rng.integers(0, 4000, size=(9, 13)).astype(np.float64)
    rec = decode_grib1(encode_grib1_message(v, nbits=12))
    assert np.array_equal(rec.values, v)


def test_non_byte_aligned_nbits_roundtrips():
    """nbits=11 leaves unused trailing bits in the BDS — the unused-bit
    count must round-trip or the last cells decode garbage."""
    rng = np.random.default_rng(3)
    for cells in range(1, 20):  # sweep every unused-bit phase
        v = rng.integers(0, 2000, size=(1, cells)).astype(np.float64)
        rec = decode_grib1(encode_grib1_message(v, nbits=11))
        assert np.array_equal(rec.values, v), cells


@settings(max_examples=40, deadline=None)
@given(
    nj=st.integers(2, 8),
    ni=st.integers(2, 10),
    d_scale=st.integers(-1, 2),
    e_scale=st.integers(0, 4),
    seed=st.integers(0, 2**31),
)
def test_simple_packing_error_bound(nj, ni, d_scale, e_scale, seed):
    """Decoded = original within half a quantization step: the X
    increment rounds to nbits precision, so the worst-case error is
    2^(E−1) / 10^D (plus IBM-float reference rounding, ≤ 2^-20·|R|)."""
    rng = np.random.default_rng(seed)
    v = rng.uniform(-5000, 5000, size=(nj, ni))
    msg = encode_grib1_message(
        v, decimal_scale=d_scale, binary_scale=e_scale, nbits=20
    )
    rec = decode_grib1(msg)
    bound = (2.0 ** (e_scale - 1)) / (10.0 ** d_scale) + 2**-18 * np.abs(v).max()
    assert np.abs(rec.values - v).max() <= bound
    assert rec.binary_scale == e_scale and rec.decimal_scale == d_scale


@settings(max_examples=100, deadline=None)
@given(st.floats(min_value=1e-10, max_value=1e10))
def test_ibm32_relative_error_within_mantissa(x):
    for s in (x, -x):
        y = ibm32_decode(ibm32_encode(s))
        assert abs(y - s) <= abs(s) * 2**-20


def test_ibm32_small_integers_exact():
    for i in range(0, 5000, 13):
        assert ibm32_decode(ibm32_encode(float(i))) == float(i)
        assert ibm32_decode(ibm32_encode(float(-i))) == float(-i)


def test_bitmap_masks_exactly_the_declared_cells():
    rng = np.random.default_rng(5)
    v = rng.integers(0, 250, size=(6, 9)).astype(np.float64)
    bm = (np.add.outer(np.arange(6), np.arange(9)) % 4) != 0
    rec = decode_grib1(encode_grib1_message(v, bitmap=bm, nbits=8))
    assert np.isnan(rec.values[~bm]).all()
    assert np.array_equal(rec.values[bm], v[bm])


def test_constant_field_zero_bits():
    rec = decode_grib1(
        encode_grib1_message(np.full((4, 5), 17.0), nbits=0, reference_value=17.0)
    )
    assert np.array_equal(rec.values, np.full((4, 5), 17.0))
    assert rec.nbits == 0


def test_multi_record_scan_and_select_parity():
    """select_record(buf, n) must return the nth message's EXACT bytes —
    the wgrib -d n -grib contract the reference relies on
    (/root/reference/src/file-conversions.js:120-127)."""
    msgs = [
        encode_grib1_message(
            np.full((2, 3), float(10 * k)), parameter=k, reference_value=0.0
        )
        for k in range(1, 5)
    ]
    buf = b"".join(msgs)
    assert [m for m in iter_messages(buf)] == msgs
    for k in range(1, 5):
        assert select_record(buf, k) == msgs[k - 1]
        assert decode_grib1(select_record(buf, k)).parameter == k
    # a data-level defect raises ValueError like every codec-boundary
    # reject (raw IndexError reads as an engine bug and would crash a
    # quarantine-mode caller instead of landing a manifest row)
    with pytest.raises(ValueError, match="not in file"):
        select_record(buf, 5)
    with pytest.raises(ValueError):
        select_record(buf, 0)


def test_header_metadata_roundtrip():
    rec = decode_grib1(
        encode_grib1_message(
            np.zeros((3, 4)),
            parameter=61,
            level_type=105,
            level=2,
            reftime=(2000, 2, 29, 12, 30),
            lat_first_mdeg=-35_500,
            lon_first_mdeg=140_250,
            dlat_mdeg=250,
            dlon_mdeg=500,
            reference_value=0.0,
        )
    )
    assert (rec.parameter, rec.level_type, rec.level) == (61, 105, 2)
    assert rec.reftime == (2000, 2, 29, 12, 30)  # century-boundary year
    assert (rec.lat_first_mdeg, rec.lon_first_mdeg) == (-35_500, 140_250)
    assert (rec.dlat_mdeg, rec.dlon_mdeg) == (250, 500)
    assert (rec.ni, rec.nj) == (4, 3)


def test_malformed_inputs_raise():
    good = encode_grib1_message(np.ones((2, 2)), reference_value=0.0)
    with pytest.raises(ValueError):
        list(iter_messages(good[:-2]))  # truncated: no 7777 at end
    bad_edition = good[:7] + bytes([2]) + good[8:]
    with pytest.raises(ValueError):
        list(iter_messages(bad_edition))
    with pytest.raises(ValueError):
        decode_grib1(b"NOPE" + good[4:])
    with pytest.raises(ValueError):  # R above a data value → negative X
        encode_grib1_message(np.ones((2, 2)), reference_value=100.0)
    with pytest.raises(ValueError):  # increments overflow nbits
        encode_grib1_message(
            np.array([[0.0, 300.0]]), nbits=8, reference_value=0.0
        )


def test_messages_align_even_lengths():
    """BDS/BMS lengths must be even per the spec — concatenated files
    from this encoder stay parseable at every record boundary."""
    rng = np.random.default_rng(9)
    for cells in range(1, 9):
        v = rng.integers(0, 100, size=(1, cells)).astype(np.float64)
        bm = np.ones((1, cells), dtype=bool)
        bm[0, 0] = cells % 2 == 0
        msg = encode_grib1_message(v, bitmap=bm, nbits=8)
        assert decode_grib1(msg).ni == cells
        two = msg + msg
        assert len(list(iter_messages(two))) == 2


def test_inspect_matches_decode_without_unpacking():
    """Header-only inspection must agree with the full decode on every
    metadata field, for both bitmap and plain records."""
    from monitoring_data_ingestion_spark.grid.grib1 import inspect_grib1

    rng = np.random.default_rng(21)
    v = rng.integers(0, 200, size=(5, 6)).astype(np.float64)
    bm = (np.add.outer(np.arange(5), np.arange(6)) % 3) != 0
    for bitmap in (None, bm):
        msg = encode_grib1_message(
            v,
            parameter=33,
            level_type=105,
            level=10,
            reftime=(2021, 7, 15, 6, 0),
            decimal_scale=1,
            binary_scale=2,
            nbits=10,
            bitmap=bitmap,
        )
        h = inspect_grib1(msg)
        rec = decode_grib1(msg)
        assert h["parameter"] == rec.parameter == 33
        assert (h["year"], h["month"]) == (2021, 7)
        assert (h["ni"], h["nj"]) == (rec.ni, rec.nj) == (6, 5)
        assert h["decimal_scale"] == rec.decimal_scale == 1
        assert h["binary_scale"] == rec.binary_scale == 2
        assert h["nbits"] == rec.nbits == 10
        assert h["has_bitmap"] == (bitmap is not None)
        assert h["total_bytes"] == len(msg)


def test_min_reference_floor_rounding_no_spurious_failure():
    """r7 review: round-to-nearest IBM storage of the data minimum could
    round UP past it, making the smallest increment negative and the
    encoder raise on legitimate data. The reference must floor."""
    from monitoring_data_ingestion_spark.grid.grib1 import ibm32_encode_floor

    v = np.array([[33554441.0, 33554500.0]])
    rec = decode_grib1(encode_grib1_message(v, nbits=16))  # was: ValueError
    assert np.all(rec.values >= 0) and rec.values.shape == (1, 2)
    # Quantization bound still holds around the floored reference.
    assert np.abs(rec.values - v).max() <= 0.5 + 2**-18 * v.max()
    # Floor property directly, both signs and across hex boundaries.
    for x in (33554441.0, 16.000001, 1.0000001, -33554441.0, -16.000001, 0.5):
        got = ibm32_decode(ibm32_encode_floor(x))
        assert got <= x, (x, got)
        assert abs(got - x) <= abs(x) * 2**-19


def test_nan_without_bitmap_is_rejected():
    """r7 review: NaN through the uint64 cast is platform-dependent
    garbage — the natural bitmap-decode → re-encode misuse must raise,
    not corrupt."""
    v = np.array([[1.0, np.nan], [3.0, 4.0]])
    with pytest.raises(ValueError, match="bitmap"):
        encode_grib1_message(v)
    # Masked NaN is fine — that's exactly what the bitmap is for.
    bm = ~np.isnan(v)
    rec = decode_grib1(encode_grib1_message(v, bitmap=bm, nbits=8, reference_value=0.0))
    assert np.isnan(rec.values[0, 1]) and rec.values[1, 1] == 4.0
    # Present (unmasked) NaN still rejected.
    with pytest.raises(ValueError, match="bitmap"):
        encode_grib1_message(v, bitmap=np.ones_like(bm))


def test_unsupported_scanning_mode_rejected_not_misdecoded():
    """r7 review: an unsupported scanning mode reorders cells — decoding
    it row-major is silent geography corruption. Must raise. (0x40 is
    supported since r8 — see the south-first round-trip tests.)"""
    good = encode_grib1_message(np.ones((2, 3)), reference_value=0.0)
    # GDS scanning-mode octet: 8 (IS) + pds_len + 3 (GDS len) + 24.
    pds_len = (good[8] << 16) | (good[9] << 8) | good[10]
    scan_off = 8 + pds_len + 27
    for mode in (0x80, 0x20, 0xC0, 0x10):  # −i / column-major / combos
        bad = good[:scan_off] + bytes([mode]) + good[scan_off + 1 :]
        with pytest.raises(ValueError, match="scanning mode"):
            decode_grib1(bad)


def test_south_first_scanning_mode_0x40_roundtrips_normalized():
    """Scanning mode 0x40 (+j, south row first — regional products) is a
    pure row reorder: encode stores rows bottom-up with La1 = the south
    edge, decode normalizes back to the engine's north-first view with
    lat_first = the NORTHERN edge — byte layout differs, semantics
    identical."""
    rng = np.random.default_rng(17)
    v = rng.integers(0, 900, size=(5, 7)).astype(np.float64)
    north = encode_grib1_message(v, reference_value=0.0, nbits=10)
    south = encode_grib1_message(
        v, reference_value=0.0, nbits=10, scanning_mode=0x40
    )
    assert north != south  # genuinely different byte layout
    rn, rs = decode_grib1(north), decode_grib1(south)
    assert np.array_equal(rn.values, rs.values)
    assert rn.lat_first_mdeg == rs.lat_first_mdeg == 90_000
    # The stored La1 really is the southern edge in the 0x40 message.
    pds_len = (south[8] << 16) | (south[9] << 8) | south[10]
    gds = south[8 + pds_len :]
    la1 = ((gds[10] & 0x7F) << 16) | (gds[11] << 8) | gds[12]
    assert la1 == 90_000 - 4 * 1_000
    assert gds[27] == 0x40


def test_south_first_with_bitmap_reorders_mask_consistently():
    v = np.arange(12, dtype=np.float64).reshape(3, 4)
    bm = np.ones((3, 4), dtype=bool)
    bm[0, 1] = bm[2, 3] = False
    rec = decode_grib1(
        encode_grib1_message(v, reference_value=0.0, bitmap=bm, scanning_mode=0x40)
    )
    assert np.isnan(rec.values[0, 1]) and np.isnan(rec.values[2, 3])
    assert np.array_equal(rec.values[bm], v[bm])


def test_bms_pad_byte_counted_in_unused_bits():
    """r8 advice: the BMS even-length pad byte's 8 bits must be folded
    into the unused-bits octet (mirroring the BDS accounting), or a
    spec-conformant reader deriving the bitmap bit count from
    (len − 6)·8 − unused sees 8 spurious trailing bits."""
    for ni in range(1, 18):
        bm = np.ones((1, ni), dtype=bool)
        msg = encode_grib1_message(
            np.ones((1, ni)), reference_value=0.0, bitmap=bm
        )
        pds_len = (msg[8] << 16) | (msg[9] << 8) | msg[10]
        gds_off = 8 + pds_len
        gds_len = (msg[gds_off] << 16) | (msg[gds_off + 1] << 8) | msg[gds_off + 2]
        bms_off = gds_off + gds_len
        bms_len = (msg[bms_off] << 16) | (msg[bms_off + 1] << 8) | msg[bms_off + 2]
        unused = msg[bms_off + 3]
        assert bms_len % 2 == 0, ni
        assert (bms_len - 6) * 8 - unused == ni, ni


def test_bds_pad_byte_counted_in_unused_bits():
    """r7 review: the even-length BDS pad must be reflected in the
    unused-bits nibble so a spec-conformant reader deriving the value
    count from (len−11)·8 − unused gets exactly ni·nj values."""
    for cells in range(1, 10):
        v = np.arange(cells, dtype=np.float64).reshape(1, cells)
        msg = encode_grib1_message(v, nbits=8, reference_value=0.0)
        pds_len = (msg[8] << 16) | (msg[9] << 8) | msg[10]
        gds_off = 8 + pds_len
        gds_len = (msg[gds_off] << 16) | (msg[gds_off + 1] << 8) | msg[gds_off + 2]
        bds_off = gds_off + gds_len
        bds_len = (msg[bds_off] << 16) | (msg[bds_off + 1] << 8) | msg[bds_off + 2]
        unused = msg[bds_off + 3] & 0x0F
        assert bds_len % 2 == 0
        assert (bds_len - 11) * 8 - unused == cells * 8, cells
        assert np.array_equal(decode_grib1(msg).values, v)


def test_pds_time_octets_decode_contract():
    """Octets 18-21 (unit / P1 / P2 / time range indicator) normalize to
    the cross-edition surface: whole-hour lead, statistical process in
    GRIB2-4.10 numbering, calendar interval end. Analysis default,
    hour/3-hour/day units, the 16-bit TRI-10 layout, and TRI 3/4
    period products all round-trip; sub-hour remainders, calendar
    units and reinterpreting indicators stop loudly."""
    v = np.arange(12, dtype=np.float64).reshape(3, 4)
    r = decode_grib1(encode_grib1_message(v))
    assert (r.time_range_indicator, r.forecast_hours) == (0, 0)
    assert r.statistical_process is None and r.interval_end is None
    cases = [
        (dict(unit=1, value=18), 0, 18),
        (dict(unit=2, value=4), 0, 96),
        (dict(unit=10, value=3), 0, 9),
        (dict(unit=11, value=2), 0, 12),
        (dict(unit=12, value=5), 0, 60),
        (dict(unit=0, value=120), 0, 2),
        (dict(unit=254, value=7200), 10, 2),  # 7200 > 255 → 16-bit P1
        (dict(unit=1, value=384), 10, 384),  # > 255 → 16-bit P1
        (dict(unit=10, value=300), 10, 900),
    ]
    for fc, tri, hours in cases:
        r = decode_grib1(encode_grib1_message(v, forecast=fc))
        assert (r.time_range_indicator, r.forecast_hours) == (tri, hours)
        assert r.statistical_process is None and r.interval_end is None
    with pytest.raises(ValueError, match="time unit 3"):
        encode_grib1_message(v, forecast=dict(unit=3, value=1))
    with pytest.raises(ValueError, match="not a whole number of hours"):
        encode_grib1_message(v, forecast=dict(unit=0, value=90))
    with pytest.raises(ValueError, match="exceeds 16 bits"):
        encode_grib1_message(v, forecast=dict(unit=1, value=70000))


def test_pds_statistical_period_products():
    v = np.ones((2, 3))
    # accumulation over ref+0 .. ref+6h (TRI 4 → process 1)
    r = decode_grib1(
        encode_grib1_message(
            v,
            reftime=(2020, 1, 31, 18, 0),
            statistical=dict(process=1, start=0, end=6),
        )
    )
    assert (r.time_range_indicator, r.statistical_process) == (4, 1)
    assert r.forecast_hours == 0
    assert r.interval_end == (2020, 2, 1, 0, 0)  # rolls over the month
    # average over ref+2d .. ref+5d in day units (TRI 3 → process 0)
    r = decode_grib1(
        encode_grib1_message(
            v,
            reftime=(2020, 12, 30, 0, 0),
            statistical=dict(process=0, start=2, end=5, unit=2),
        )
    )
    assert (r.time_range_indicator, r.statistical_process) == (3, 0)
    assert r.forecast_hours == 48
    assert r.interval_end == (2021, 1, 4, 0, 0)  # rolls over the year
    with pytest.raises(ValueError, match="mutually exclusive"):
        encode_grib1_message(
            v,
            forecast=dict(unit=1, value=6),
            statistical=dict(process=1, start=0, end=6),
        )
    with pytest.raises(ValueError, match="start <= end"):
        encode_grib1_message(v, statistical=dict(process=1, start=7, end=6))
    # BOTH interval bounds must be whole-hour convertible: a sub-hour
    # START (not just end) would encode a message decode itself rejects
    with pytest.raises(ValueError, match="not a whole number of hours"):
        encode_grib1_message(
            v, statistical=dict(process=1, start=90, end=120, unit=0)
        )
    with pytest.raises(ValueError, match="process must be 0"):
        encode_grib1_message(v, statistical=dict(process=9, start=0, end=6))
    # an unsupported reinterpreting indicator (TRI 2: valid-between)
    # stops loudly instead of guessing at P1/P2 semantics
    msg = bytearray(encode_grib1_message(v, forecast=dict(unit=1, value=6)))
    msg[8 + 20] = 2  # PDS octet 21 (TRI) — PDS starts at byte 8
    with pytest.raises(ValueError, match="time range indicator 2"):
        decode_grib1(bytes(msg))


def test_layer_level_types_split_octets():
    """LAYER level types (code table 3) carry (top, bottom) in octets
    11-12; point types keep the 16-bit level. A reader folding a layer
    into one 16-bit number fabricates a level (0-10 cm would read as
    10 — also a valid point depth)."""
    v = np.ones((2, 3))
    # 0-10 cm soil layer (type 112)
    r = decode_grib1(encode_grib1_message(v, level_type=112, level=0, level2=10))
    assert (r.level_type, r.level, r.level2) == (112, 0, 10)
    # point isobaric level keeps 16 bits and level2 None
    r = decode_grib1(encode_grib1_message(v, level_type=100, level=850))
    assert (r.level_type, r.level, r.level2) == (100, 850, None)
    # header-only inventory agrees with the full decode
    from monitoring_data_ingestion_spark.grid.grib1 import inspect_grib1

    h = inspect_grib1(encode_grib1_message(v, level_type=112, level=5, level2=20))
    assert (h["level_type"], h["level"], h["level2"]) == (112, 5, 20)
    h = inspect_grib1(encode_grib1_message(v, level_type=100, level=850))
    assert (h["level"], h["level2"]) == (850, None)
    with pytest.raises(ValueError, match="LAYER type"):
        encode_grib1_message(v, level_type=112, level=10)  # missing level2
    with pytest.raises(ValueError, match="fit one octet"):
        encode_grib1_message(v, level_type=112, level=0, level2=300)
    with pytest.raises(ValueError, match="point level"):
        encode_grib1_message(v, level_type=100, level=850, level2=10)


def test_gaussian_grid_roundtrip_and_quadrature_latitudes():
    """Data representation type 4 (ECMWF F-grid): values round-trip
    bit-exactly, octets 26-27 carry N (not Dj), the decoded latitudes
    are the engine's Legendre quadrature nodes (cross-checked against
    numpy's independent leggauss), and the GDS La1 mismatch / odd-row /
    non-global cases stop loudly."""
    rng = np.random.default_rng(17)
    n = 5  # F5: 10 parallels
    v = rng.integers(0, 200, size=(2 * n, 7)).astype(np.float64)
    msg = encode_grib1_message(v, gaussian=True, nbits=8, reference_value=0.0)
    rec = decode_grib1(msg)
    assert np.array_equal(rec.values, v)
    assert rec.gaussian_n == n and rec.dlat_mdeg == 0
    x, _ = np.polynomial.legendre.leggauss(2 * n)
    ref = np.degrees(np.arcsin(x))[::-1]  # north first
    assert np.allclose(rec.latitudes_deg, ref, atol=1e-9)
    assert rec.lat_first_mdeg == round(float(ref[0]) * 1000)
    # header-only inspection sees the Gaussian grid type
    from monitoring_data_ingestion_spark.grid.grib1 import inspect_grib1

    assert inspect_grib1(msg)["grid_type"] == 4
    with pytest.raises(ValueError, match="even row count"):
        encode_grib1_message(np.ones((5, 4)), gaussian=True)
    with pytest.raises(ValueError, match="scanning mode 0x00"):
        encode_grib1_message(
            np.ones((4, 4)), gaussian=True, scanning_mode=0x40
        )
    # a non-global N (nj != 2N) must stop, not misplace every row
    bad = bytearray(msg)
    pds_len = int.from_bytes(bad[8:11], "big")
    gds_off = 8 + pds_len
    bad[gds_off + 25 : gds_off + 27] = (n + 1).to_bytes(2, "big")
    with pytest.raises(ValueError, match="non-global Gaussian"):
        decode_grib1(bytes(bad))
    # a La1 that contradicts the quadrature must stop (wrong geography)
    bad = bytearray(msg)
    bad[gds_off + 10 : gds_off + 13] = (10_000).to_bytes(3, "big")
    with pytest.raises(ValueError, match="does not match"):
        decode_grib1(bytes(bad))


def test_reduced_gaussian_roundtrip_cells_and_guards():
    """QUASI-REGULAR (reduced) Gaussian grid — ECMWF's native edition-1
    archive layout (wgrib reads these; the reference's CDS ERA5 feed is
    exactly this shape): Ni codes missing, the GDS PL list carries the
    per-parallel point counts, values stay FLAT in storage order, and
    the per-cell coordinates repeat each quadrature latitude row_ni[j]
    times with longitudes i*360/row_ni[j] from Lo1 — the same landing
    contract as GRIB2's reduced template 3.40."""
    rng = np.random.default_rng(23)
    rows = [6, 10, 12, 12, 10, 6]  # N=3, nj=6, octahedral-ish taper
    total = sum(rows)
    v = rng.integers(0, 250, size=total).astype(np.float64)
    msg = encode_grib1_message(
        v, reduced_ni=rows, nbits=8, reference_value=0.0,
        lon_first_mdeg=0,
    )
    rec = decode_grib1(msg)
    assert rec.ni is None and rec.nj == 6
    assert np.array_equal(rec.row_ni, np.array(rows))
    assert np.array_equal(rec.values, v)
    assert rec.gaussian_n == 3 and rec.dlat_mdeg == 0
    x, _ = np.polynomial.legendre.leggauss(6)
    ref = np.degrees(np.arcsin(x))[::-1]  # north first
    assert np.allclose(rec.latitudes_deg, ref, atol=1e-9)
    # per-cell coordinates: ragged rows, full parallels from Lo1
    assert np.allclose(rec.cell_lats_deg, np.repeat(ref, rows))
    expect_lons = np.concatenate(
        [np.arange(n) * 360.0 / n for n in rows]
    )
    assert np.allclose(rec.cell_lons_deg, expect_lons)
    # header-only inspection lists the record with NULL ni
    from monitoring_data_ingestion_spark.grid.grib1 import inspect_grib1

    h = inspect_grib1(msg)
    assert h["ni"] is None and h["nj"] == 6 and h["grid_type"] == 4
    # encoder guards
    with pytest.raises(ValueError, match="flat with sum"):
        encode_grib1_message(v[:-1], reduced_ni=rows)
    with pytest.raises(ValueError, match="even positive"):
        encode_grib1_message(v[: total - 6], reduced_ni=rows[:-1])
    with pytest.raises(ValueError, match="scanning mode 0x00"):
        encode_grib1_message(v, reduced_ni=rows, scanning_mode=0x40)
    with pytest.raises(ValueError, match="one grid family"):
        encode_grib1_message(v, reduced_ni=rows, gaussian=True)
    # decoder guards: a missing PL pointer and a truncated row list
    # must stop loudly — guessing row counts mis-slices every value
    pds_len = int.from_bytes(msg[8:11], "big")
    gds_off = 8 + pds_len
    bad = bytearray(msg)
    bad[gds_off + 4] = 0xFF  # PL location coded missing
    with pytest.raises(ValueError, match="points-per-row"):
        decode_grib1(bytes(bad))
    bad = bytearray(msg)
    bad[gds_off + 8 : gds_off + 10] = (200).to_bytes(2, "big")  # Nj >> list
    with pytest.raises(ValueError, match="truncated points-per-row"):
        decode_grib1(bytes(bad))
    # a La1 contradicting the quadrature still stops (shared Gaussian gate)
    bad = bytearray(msg)
    bad[gds_off + 10 : gds_off + 13] = (10_000).to_bytes(3, "big")
    with pytest.raises(ValueError, match="does not match"):
        decode_grib1(bytes(bad))
    # a PL pointer into the fixed GDS body would read header octets as
    # row counts — named stop, never garbage counts
    bad = bytearray(msg)
    bad[gds_off + 4] = 9
    with pytest.raises(ValueError, match="inside the fixed GDS body"):
        decode_grib1(bytes(bad))
    # a sector/regional thinned grid (Lo2 contradicting the
    # full-parallel longitude model) stops instead of fabricating
    # global longitudes
    bad = bytearray(msg)
    bad[gds_off + 20 : gds_off + 23] = (90_000).to_bytes(3, "big")
    with pytest.raises(ValueError, match="not full-parallel"):
        decode_grib1(bytes(bad))
    # a thinned ROTATED grid stays a loud documented boundary (the
    # reduced forms are decoded for Gaussian and plain lat/lon only)
    plain = encode_grib1_message(
        np.ones((2, 3)), nbits=8, reference_value=0.0,
        rotated=dict(south_pole_lat=-30.0, south_pole_lon=10.0),
    )
    pds_len = int.from_bytes(plain[8:11], "big")
    bad = bytearray(plain)
    bad[8 + pds_len + 6 : 8 + pds_len + 8] = b"\xff\xff"
    with pytest.raises(ValueError, match="quasi-regular"):
        decode_grib1(bytes(bad))


def test_spectral_complex_packing_roundtrip_and_guards():
    """Edition-1 COMPLEX spherical-harmonic packing (BDS flags 0b1100 —
    the ECMWF gribex compact archive form): the n <= TS sub-spectrum
    rides UNPACKED as IBM-32 floats behind the octet-12 N pointer and
    every remaining value is Laplacian-weighted (n(n+1))^P before
    simple packing — the SAME split as GRIB2 template 5.51, so with
    p = 1 integer weights the round trip is bit-exact."""
    t = 5
    npairs = (t + 1) * (t + 2) // 2
    k = np.arange(npairs)
    re = ((7 * k + 13) % 101) - 50
    im = np.where(k <= t, 0, ((5 * k + 11) % 101) - 50)
    c = (re + 1j * im).astype(complex)

    for sub in (0, 1, 3):
        msg = encode_grib1_message(
            c,
            spectral=dict(truncation=t, sub_truncation=sub, laplacian=1.0),
            nbits=16,
        )
        rec = decode_grib1(msg)
        assert rec.spectral_truncation == t
        assert rec.spectral_sub_truncation == sub
        assert np.array_equal(rec.spectral_coeffs, c)
    # simple form keeps sub_truncation None
    simple = decode_grib1(
        encode_grib1_message(c, spectral=dict(truncation=t), nbits=8)
    )
    assert simple.spectral_sub_truncation is None
    assert np.array_equal(simple.spectral_coeffs, c)

    # encode guards: TS must leave n = 0 unpacked and stay below T
    with pytest.raises(ValueError, match="0 <= TS < T"):
        encode_grib1_message(c, spectral=dict(truncation=t, sub_truncation=t))
    with pytest.raises(ValueError, match="0 <= TS < T"):
        encode_grib1_message(
            c, spectral=dict(truncation=t, sub_truncation=-1)
        )
    with pytest.raises(ValueError, match="16-bit IP"):
        encode_grib1_message(
            c,
            spectral=dict(truncation=t, sub_truncation=1, laplacian=40.0),
        )

    # decode guards on patched bytes
    good = encode_grib1_message(
        c, spectral=dict(truncation=t, sub_truncation=1, laplacian=1.0),
        nbits=16,
    )
    pds_len = int.from_bytes(good[8:11], "big")
    gds_len = int.from_bytes(good[8 + pds_len : 8 + pds_len + 3], "big")
    bds_off = 8 + pds_len + gds_len
    # a pointer N disagreeing with the J1 sub-spectrum is corrupt
    bad = bytearray(good)
    bad[bds_off + 11 : bds_off + 13] = (25).to_bytes(2, "big")
    with pytest.raises(ValueError, match="disagrees with the TS=1"):
        decode_grib1(bytes(bad))
    # a pentagonal (non-triangular) sub-truncation stops loudly
    bad = bytearray(good)
    bad[bds_off + 16] = 2  # K1 != J1
    with pytest.raises(ValueError, match="triangular sub-truncation"):
        decode_grib1(bytes(bad))
    # a sub-truncation >= T stops loudly
    bad = bytearray(good)
    for o in (15, 16, 17):
        bad[bds_off + o] = t
    with pytest.raises(ValueError, match="below T"):
        decode_grib1(bytes(bad))
    # complex flag + octet-14 extended flags is a grid-point layout
    # leaking into a spectral BDS — malformed, never guessed
    bad = bytearray(good)
    bad[bds_off + 3] |= 0x10
    with pytest.raises(ValueError, match="extended flags is malformed"):
        decode_grib1(bytes(bad))


def test_reduced_grid_bitmap_and_predefined_bitmap_roundtrip():
    """BITMAP composes with reduced grids (the masked-ocean-field-on-a
    -thinned-grid shape real ERA5-era archives ship), and
    CENTRE-PREDEFINED bitmaps resolve through the caller's (centre,
    number) catalog on both regular and reduced geometry — the two
    halves of the r14 verdict's top remaining codec boundary."""
    rng = np.random.default_rng(41)
    rows = [6, 10, 12, 12, 10, 6]
    total = sum(rows)
    v = rng.integers(0, 250, size=total).astype(np.float64)
    bm = rng.integers(0, 4, size=total) != 0  # ~3/4 present

    # 1. bits-in-BMS on a reduced Gaussian grid
    rec = decode_grib1(
        encode_grib1_message(
            v, reduced_ni=rows, bitmap=bm, nbits=8, reference_value=0.0
        )
    )
    assert rec.ni is None and np.array_equal(rec.row_ni, np.array(rows))
    assert np.array_equal(np.isnan(rec.values), ~bm)
    assert np.array_equal(rec.values[bm], v[bm])
    assert rec.cell_lats_deg.size == total  # geometry covers ALL cells

    # 2. bits-in-BMS on a reduced (thinned) lat/lon grid
    rec2 = decode_grib1(
        encode_grib1_message(
            v, reduced_ni=rows, reduced_latlon=True, dlat_mdeg=500,
            bitmap=bm, nbits=8, reference_value=0.0,
        )
    )
    assert np.array_equal(rec2.values[bm], v[bm])
    assert np.isnan(rec2.values[~bm]).all()

    # 3. centre-predefined bitmap: number rides in BMS octets 5-6, no
    #    bits; decode resolves through the catalog (encode centre = 74)
    msg = encode_grib1_message(
        v, reduced_ni=rows,
        predefined_bitmap=dict(number=129, mask=bm),
        nbits=8, reference_value=0.0,
    )
    rec3 = decode_grib1(msg, predefined_bitmaps={(74, 129): bm})
    assert np.array_equal(rec3.values[bm], v[bm])
    with pytest.raises(ValueError, match="predefined bitmap 129 of centre 74"):
        decode_grib1(msg)  # no catalog → loud stop naming the key
    with pytest.raises(ValueError, match=f"grid has {total}"):
        decode_grib1(msg, predefined_bitmaps={(74, 129): bm[:-1]})

    # 4. predefined on a regular grid too, and the encode guards
    v2 = rng.integers(0, 99, size=(4, 5)).astype(np.float64)
    m2 = (v2 % 3) != 0
    msg2 = encode_grib1_message(
        v2, predefined_bitmap=dict(number=1, mask=m2),
        nbits=8, reference_value=0.0,
    )
    rec4 = decode_grib1(msg2, predefined_bitmaps={(74, 1): m2.reshape(-1)})
    assert np.array_equal(rec4.values[m2], v2[m2])
    with pytest.raises(ValueError, match="mutually exclusive"):
        encode_grib1_message(
            v2, bitmap=m2, predefined_bitmap=dict(number=1, mask=m2)
        )
    with pytest.raises(ValueError, match="out of range 1-65534"):
        encode_grib1_message(
            v2, predefined_bitmap=dict(number=0, mask=m2)
        )
    # inventory still reports has_bitmap from the PDS flag
    from monitoring_data_ingestion_spark.grid.grib1 import inspect_grib1

    assert inspect_grib1(msg)["has_bitmap"] is True


def test_second_order_randomized_sweep_roundtrips_bit_exactly():
    """Deterministic randomized sweep over the second-order layout
    space: random group cuts (secondary bitmap), random row shapes,
    constant/varying widths, single-point groups, all-equal groups and
    FO widths at both margins — every configuration must round-trip
    bit-exactly (the group reassembly has many off-by-one edges a few
    fixed cases cannot cover)."""
    rng = np.random.default_rng(97)
    for trial in range(60):
        nj = int(rng.integers(2, 7))
        ni = int(rng.integers(2, 11))
        span = int(rng.integers(1, 5000))
        v = rng.integers(0, span, size=(nj, ni)).astype(np.float64)
        fo_width = max(1, int(span - 1).bit_length())
        varying = bool(rng.integers(0, 2))
        if rng.integers(0, 2):
            so = dict(groups="rows", varying=varying)
        else:
            total = nj * ni
            k = int(rng.integers(1, min(total, 12) + 1))
            cuts = (
                np.sort(
                    rng.choice(np.arange(1, total), size=k - 1, replace=False)
                )
                if k > 1
                else np.array([], dtype=int)
            )
            sizes = np.diff(np.concatenate([[0], cuts, [total]])).tolist()
            so = dict(groups=sizes, varying=varying)
        msg = encode_grib1_message(
            v, second_order=so, nbits=fo_width, reference_value=0.0
        )
        rec = decode_grib1(msg)
        assert np.array_equal(rec.values, v), (trial, so)


def test_reduced_latlon_roundtrip_and_guards():
    """REDUCED (thinned) LAT/LON — the DWD-era edition-1 sibling of the
    reduced Gaussian form: same GDS PL machinery on grid type 0 with an
    AFFINE latitude axis (La1 → La2; Di/Dj coded missing, the step
    re-derived exactly from the span).  Per-row latitudes ride the same
    ``latitudes_deg`` surface as the Gaussian form, so the landing and
    cell explode serve both identically; composes with second-order
    packing; a non-dividing span and an La2 contradicting a given Dj
    stop loudly."""
    rng = np.random.default_rng(31)
    rows = [3, 6, 7, 6, 3]  # odd parallel count is legal on lat/lon
    v = rng.integers(0, 900, size=sum(rows)).astype(np.float64)
    msg = encode_grib1_message(
        v, reduced_ni=rows, reduced_latlon=True,
        lat_first_mdeg=60_000, dlat_mdeg=5_000,
        nbits=10, reference_value=0.0,
    )
    rec = decode_grib1(msg)
    assert rec.ni is None and list(rec.row_ni) == rows
    assert rec.gaussian_n is None
    assert np.array_equal(rec.values, v)
    assert np.allclose(rec.latitudes_deg, [60, 55, 50, 45, 40])
    assert np.allclose(rec.cell_lats_deg, np.repeat(rec.latitudes_deg, rows))
    assert np.allclose(
        rec.cell_lons_deg,
        np.concatenate([np.arange(n) * 360.0 / n for n in rows]),
    )
    from monitoring_data_ingestion_spark.grid.grib1 import inspect_grib1

    h = inspect_grib1(msg)
    assert h["ni"] is None and h["nj"] == 5 and h["grid_type"] == 0
    # composes with second-order packing (rows are the groups)
    msg2 = encode_grib1_message(
        v, reduced_ni=rows, reduced_latlon=True,
        second_order=dict(groups="rows", varying=True),
        lat_first_mdeg=60_000, dlat_mdeg=5_000,
        nbits=10, reference_value=0.0,
    )
    assert np.array_equal(decode_grib1(msg2).values, v)
    # a latitude span that does not divide evenly is a corrupt GDS
    pds_len = int.from_bytes(msg[8:11], "big")
    gds_off = 8 + pds_len
    bad = bytearray(msg)
    bad[gds_off + 17 : gds_off + 20] = (39_999).to_bytes(3, "big")
    with pytest.raises(ValueError, match="does not divide evenly"):
        decode_grib1(bytes(bad))
    # an explicitly-given Dj must agree with La1/La2
    bad = bytearray(msg)
    bad[gds_off + 16] |= 0x80  # increments-given flag
    bad[gds_off + 25 : gds_off + 27] = (4_000).to_bytes(2, "big")
    with pytest.raises(ValueError, match="does not match La1"):
        decode_grib1(bytes(bad))
    # a ZERO Dj with the flag set (and La2 patched to match) would
    # collapse every parallel onto one latitude — loud, not silent
    bad = bytearray(msg)
    bad[gds_off + 16] |= 0x80
    bad[gds_off + 25 : gds_off + 27] = (0).to_bytes(2, "big")
    bad[gds_off + 17 : gds_off + 20] = bad[gds_off + 10 : gds_off + 13]
    with pytest.raises(ValueError, match="zero/missing despite"):
        decode_grib1(bytes(bad))
    # the full-parallel Lo2 gate holds on the lat/lon form too
    bad = bytearray(msg)
    bad[gds_off + 20 : gds_off + 23] = (90_000).to_bytes(3, "big")
    with pytest.raises(ValueError, match="not full-parallel"):
        decode_grib1(bytes(bad))


def test_second_order_packing_roundtrip_and_guards():
    """WMO SECOND-ORDER (complex) grid-point packing — BDS flag bits
    2+4 with the octet-14 extended flags: group minima ("first-order
    values") at the octet-11 width plus per-point deviations at
    per-group widths, the form DWD/ECMWF-era edition-1 archives ship.
    Row-by-row grouping (no secondary bitmap), explicit groups via the
    secondary bitmap, constant and varying widths, zero-width constant
    groups, and composition with Gaussian and reduced grids all
    round-trip bit-exactly; the gribex general-extended bits, the
    matrix form, primary bitmaps and malformed pointers stop loudly."""
    rng = np.random.default_rng(41)
    v = rng.integers(0, 3000, size=(6, 9)).astype(np.float64)
    for kwargs in (
        dict(groups="rows"),
        dict(groups="rows", varying=True),
        dict(groups=[10, 7, 20, 1, 16], varying=True),
        dict(groups=[30, 24]),
    ):
        msg = encode_grib1_message(v, second_order=kwargs, nbits=12)
        rec = decode_grib1(msg)
        assert np.array_equal(rec.values, v), kwargs
    # D/E scaling composes like simple packing
    vf = (rng.integers(0, 500, size=(3, 4)) / 2.0 + 1.5).astype(np.float64)
    msg = encode_grib1_message(
        vf, second_order=dict(groups="rows"), nbits=10,
        decimal_scale=1, binary_scale=-1, reference_value=15.0,
    )
    assert np.array_equal(decode_grib1(msg).values, vf)
    # constant (all-equal) groups pack zero-width deviations
    vc = np.full((3, 5), 7.0)
    msg = encode_grib1_message(vc, second_order=dict(groups="rows"), nbits=4)
    assert np.array_equal(decode_grib1(msg).values, vc)
    # composes with the Gaussian and reduced-Gaussian grid families
    vg = rng.integers(0, 800, size=(4, 7)).astype(np.float64)
    msg = encode_grib1_message(
        vg, gaussian=True, second_order=dict(groups="rows"), nbits=10
    )
    assert np.array_equal(decode_grib1(msg).values, vg)
    rows = [4, 8, 8, 4]
    vr = rng.integers(0, 900, size=sum(rows)).astype(np.float64)
    msg = encode_grib1_message(
        vr, reduced_ni=rows, second_order=dict(groups="rows"), nbits=10
    )
    rec = decode_grib1(msg)
    assert np.array_equal(rec.values, vr)
    assert list(rec.row_ni) == rows
    # encoder guards
    with pytest.raises(ValueError, match="primary bitmap"):
        encode_grib1_message(
            v, second_order=dict(groups="rows"),
            bitmap=np.ones_like(v, dtype=bool),
        )
    with pytest.raises(ValueError, match="cannot hold first-order"):
        encode_grib1_message(v, second_order=dict(groups="rows"), nbits=2)
    with pytest.raises(ValueError, match="cover every present point"):
        encode_grib1_message(v, second_order=dict(groups=[10, 10]))
    with pytest.raises(ValueError, match="non-empty"):
        encode_grib1_message(v, second_order=dict(groups=[54, 0]))
    # decoder guards on a good rows-grouped message
    good = encode_grib1_message(v, second_order=dict(groups="rows"), nbits=12)
    pds_len = int.from_bytes(good[8:11], "big")
    gds_len = int.from_bytes(good[8 + pds_len : 8 + pds_len + 3], "big")
    bds_off = 8 + pds_len + gds_len
    # gribex general-extended bits (octet-14 bits 4-8) stop loudly
    bad = bytearray(good)
    bad[bds_off + 13] |= 0x08
    with pytest.raises(ValueError, match="gribex"):
        decode_grib1(bytes(bad))
    # matrix-of-values bit stops loudly
    bad = bytearray(good)
    bad[bds_off + 13] |= 0x80
    with pytest.raises(ValueError, match="matrix"):
        decode_grib1(bytes(bad))
    # P2 disagreeing with the grid is a corrupt section
    bad = bytearray(good)
    bad[bds_off + 18 : bds_off + 20] = (7).to_bytes(2, "big")
    with pytest.raises(ValueError, match="P2=7 disagrees"):
        decode_grib1(bytes(bad))
    # P1 disagreeing with the row count (row-grouped form)
    bad = bytearray(good)
    bad[bds_off + 16 : bds_off + 18] = (5).to_bytes(2, "big")
    with pytest.raises(ValueError, match="P1 declares 5"):
        decode_grib1(bytes(bad))
    # N2 pointing INTO the first-order stream (not past its end) is a
    # corrupt section — those bytes would otherwise decode as
    # deviations with plausible statistics
    bad = bytearray(good)
    n1 = int.from_bytes(good[bds_off + 11 : bds_off + 13], "big")
    bad[bds_off + 14 : bds_off + 16] = n1.to_bytes(2, "big")
    with pytest.raises(ValueError, match="pointers out of range"):
        decode_grib1(bytes(bad))
    # second-order flag without the extended-flags bit is malformed
    bad = bytearray(good)
    bad[bds_off + 3] &= ~0x10 & 0xFF
    with pytest.raises(ValueError, match="malformed"):
        decode_grib1(bytes(bad))
    # a secondary bitmap not starting at point 1 is a corrupt section
    sec = encode_grib1_message(
        v, second_order=dict(groups=[30, 24]), nbits=12
    )
    bad = bytearray(sec)
    # secondary bitmap begins at BDS octet 23 (fixed head + 1 width octet)
    bad[bds_off + 22] &= 0x7F
    with pytest.raises(ValueError, match="start a group"):
        decode_grib1(bytes(bad))


def test_rotated_latlon_type10_roundtrip():
    """GDS type 10 (rotated lat/lon — the COSMO/HIRLAM edition-1 form):
    values round-trip bit-exactly, the pole octets (mdeg) + IBM-float
    angle round-trip, per-cell TRUE coordinates agree with the shared
    cross-edition unrotation, south-first storage normalizes in
    ROTATED latitude, and degenerate/truncated poles stop loudly."""
    from monitoring_data_ingestion_spark.grid.grib2 import rotated_unrotate

    v = np.arange(20, dtype=np.float64).reshape(4, 5)
    enc = dict(
        reference_value=0.0, nbits=8,
        lat_first_mdeg=10_000, lon_first_mdeg=-5_000,
        dlat_mdeg=500, dlon_mdeg=500,
        rotated=dict(south_pole_lat=-32.5, south_pole_lon=10.0, angle=2.0),
    )
    rec = decode_grib1(encode_grib1_message(v, **enc))
    assert np.array_equal(rec.values, v)
    assert rec.rotated_pole == (-32.5, 10.0, 2.0)  # 2.0 is IBM-exact
    ref_lat, ref_lon = rotated_unrotate(
        np.array([[10.0], [9.5], [9.0], [8.5]]),
        np.array([[-5.0, -4.5, -4.0, -3.5, -3.0]]),
        -32.5, 10.0, 2.0,
    )
    assert np.allclose(rec.cell_lats_deg, ref_lat, atol=1e-12)
    assert np.allclose(rec.cell_lons_deg, ref_lon, atol=1e-12)
    # south-first bytes normalize to the same grid and cells
    rec2 = decode_grib1(encode_grib1_message(v, scanning_mode=0x40, **enc))
    assert np.array_equal(rec2.values, v)
    assert np.allclose(rec2.cell_lats_deg, rec.cell_lats_deg, atol=1e-12)
    # point-level grids keep cell arrays None (no fabricated geometry)
    assert decode_grib1(encode_grib1_message(v)).cell_lats_deg is None
    with pytest.raises(ValueError, match="southern pole latitude"):
        encode_grib1_message(
            v, rotated=dict(south_pole_lat=95.0, south_pole_lon=0.0)
        )
    with pytest.raises(ValueError, match="exactly one grid family"):
        encode_grib1_message(
            np.ones((4, 5)), gaussian=True,
            rotated=dict(south_pole_lat=-30.0, south_pole_lon=0.0),
        )
    # truncated GDS (pole octets cut) stops loudly
    msg = bytearray(encode_grib1_message(v, **enc))
    pds_len = int.from_bytes(msg[8:11], "big")
    gds_off = 8 + pds_len
    gds_len = int.from_bytes(msg[gds_off : gds_off + 3], "big")
    cut = bytearray(
        msg[: gds_off + gds_len - 10] + msg[gds_off + gds_len :]
    )
    cut[gds_off : gds_off + 3] = (gds_len - 10).to_bytes(3, "big")
    cut[4:7] = (len(cut) - 0).to_bytes(3, "big")
    with pytest.raises(ValueError, match="truncated rotated"):
        decode_grib1(bytes(cut))


def test_spectral_type50_roundtrip_and_guards():
    """GDS type 50 (spherical harmonic coefficients — the edition-1
    sibling of GRIB2's 3.50/5.50): integer coefficients round-trip
    bit-exactly (the (0,0) real part unpacked as an IBM-32 float at BDS
    octets 12-15, the rest simple-packed under the raised
    spherical-harmonics flag), the record carries the truncation with
    NO fabricated georef, PDS metadata composes, and mismatched
    flag/GDS pairings or foreign truncations stop loudly."""
    from monitoring_data_ingestion_spark.grid.grib1 import inspect_grib1
    from monitoring_data_ingestion_spark.grid.grib2 import (
        spectral_legendre,
        spectral_synthesis,
    )

    t = 5
    npairs = (t + 1) * (t + 2) // 2
    rng = np.random.default_rng(11)
    c = (
        rng.integers(-50, 50, npairs).astype(np.float64)
        + 1j * rng.integers(-50, 50, npairs).astype(np.float64)
    )
    c[: t + 1] = c[: t + 1].real
    msg = encode_grib1_message(
        c, spectral=dict(truncation=t), nbits=16,
        forecast=dict(unit=1, value=6), level_type=100, level=500,
    )
    rec = decode_grib1(msg)
    assert rec.spectral_truncation == t
    assert rec.nj == npairs and rec.ni is None
    assert rec.cell_lats_deg is None
    assert (rec.dlat_mdeg, rec.dlon_mdeg) == (0, 0)
    assert np.array_equal(rec.spectral_coeffs, c)
    assert (rec.forecast_hours, rec.level_type, rec.level) == (6, 100, 500)
    # header-only inventory lists it with NULL dims and agrees on lead
    h = inspect_grib1(msg)
    assert (h["grid_type"], h["ni"], h["nj"]) == (50, None, None)
    assert h["forecast_hours"] == 6
    # the SAME cross-edition synthesis consumes the coefficients: a
    # single-harmonic spectrum reproduces its closed form
    c1 = np.zeros(npairs, dtype=complex)
    c1[t + 2] = 2.0 - 1.0j  # (n=2, m=1)
    m1 = decode_grib1(
        encode_grib1_message(c1, spectral=dict(truncation=t), nbits=8)
    )
    vals, lats = spectral_synthesis(m1.spectral_coeffs, t, 8, 12)
    mu = np.sin(np.radians(lats))
    pb = spectral_legendre(t, mu)[1, 2]
    lon = np.radians(np.arange(12) * 30.0)
    ref = 2.0 * (np.outer(2.0 * pb, np.cos(lon)) - np.outer(-1.0 * pb, np.sin(lon)))
    assert np.allclose(vals, ref, atol=1e-12)
    # guards: complex m=0, grid kwargs, bitmap, scanning
    import pytest

    with pytest.raises(ValueError, match="zero imaginary part"):
        bad = c.copy()
        bad[0] = 1 + 2j
        encode_grib1_message(bad, spectral=dict(truncation=t), nbits=8)
    with pytest.raises(ValueError, match="exactly one grid family"):
        encode_grib1_message(c, spectral=dict(truncation=t), gaussian=True)
    with pytest.raises(ValueError, match="no bitmap"):
        encode_grib1_message(
            c, spectral=dict(truncation=t),
            bitmap=np.ones(npairs, dtype=bool),
        )
    with pytest.raises(ValueError, match="1-D complex"):
        encode_grib1_message(np.ones(10), spectral=dict(truncation=t))
    # flag/GDS pairing: clearing the BDS spherical flag on a spectral
    # message (or raising it on a gridpoint one) must stop — either
    # misread decodes a plausible-looking garbage field
    bad = bytearray(msg)
    pds_len = int.from_bytes(bad[8:11], "big")
    gds_off = 8 + pds_len
    bds_off = gds_off + int.from_bytes(bad[gds_off : gds_off + 3], "big")
    bad[bds_off + 3] &= 0x0F  # clear the flags nibble
    with pytest.raises(ValueError, match="disagrees with the GDS"):
        decode_grib1(bytes(bad))
    grid = bytearray(
        encode_grib1_message(
            np.ones((2, 3)), reference_value=0.0, nbits=8
        )
    )
    pds_len = int.from_bytes(grid[8:11], "big")
    gds_off = 8 + pds_len
    bds_off = gds_off + int.from_bytes(grid[gds_off : gds_off + 3], "big")
    grid[bds_off + 3] |= 0x80
    with pytest.raises(ValueError, match="disagrees with the GDS"):
        decode_grib1(bytes(grid))
    # non-triangular truncation (J != K) and foreign representation mode
    bad = bytearray(msg)
    bad[gds_off + 8 : gds_off + 10] = (t + 1).to_bytes(2, "big")  # K octets 9-10
    with pytest.raises(ValueError, match="triangular"):
        decode_grib1(bytes(bad))
    bad = bytearray(msg)
    bad[gds_off + 13] = 2  # representation mode octet 14
    with pytest.raises(ValueError, match="mode 2"):
        decode_grib1(bytes(bad))


def test_spectral_decimal_scale_leaves_00_coefficient_raw():
    """D-scaling contract of GRIB1 spectral simple packing, pinned to
    wgrib's public BDS handling: the PACKED stream lives in the
    Y·10^D = R + X·2^E domain (reference and increments divide by
    10^-D on decode), but the UNPACKED (0,0) coefficient at BDS octets
    12-15 is the TRUE value — wgrib's BDS_unpack emits the harmonic
    reference (ibm2flt of octets 12-15) directly into data[0] with no
    10^-D factor, while applying 10^-D to ref and scale for the rest.
    A D != 0 spectral message must round-trip AND expose the raw
    (0,0) bytes, so a producer file and this codec agree to the
    power of ten."""
    from monitoring_data_ingestion_spark.grid.grib1 import (
        ibm32_decode,
        ibm32_encode,
    )

    t = 4
    npairs = (t + 1) * (t + 2) // 2
    rng = np.random.default_rng(7)
    c = (
        rng.integers(-500, 500, npairs).astype(np.float64)
        + 1j * rng.integers(-500, 500, npairs).astype(np.float64)
    ) / 100.0  # exact hundredths: D = 2 scales them to whole integers
    c[: t + 1] = c[: t + 1].real
    c[0] = 7.25  # exactly representable in IBM-32
    msg = encode_grib1_message(
        c, spectral=dict(truncation=t), nbits=16, decimal_scale=2
    )
    rec = decode_grib1(msg)
    assert rec.decimal_scale == 2
    assert rec.spectral_coeffs[0] == 7.25
    assert np.allclose(rec.spectral_coeffs, c, atol=1e-9)
    # byte-level pin: BDS octets 12-15 hold the RAW IBM-32 (0,0) value
    # (what wgrib's BDS_Harmonic_RefValue reads), NOT value·10^D
    p_len = int.from_bytes(msg[8:11], "big")
    g_len = int.from_bytes(msg[8 + p_len : 8 + p_len + 3], "big")
    bds = msg[8 + p_len + g_len :]
    assert bds[11:15] == ibm32_encode(7.25)
    assert ibm32_decode(bds[11:15]) == 7.25


def test_every_truncation_point_raises_valueerror_grib1():
    """TORN-FILE CONTRACT for edition 1 (same as the GRIB2 sweep):
    decode and header-only inspect fail a truncated message at EVERY
    byte offset with a clean ValueError — never a raw IndexError and
    never a silent success (before the envelope check, chopping the
    7777 terminator decoded "successfully")."""
    from monitoring_data_ingestion_spark.grid.grib1 import inspect_grib1

    v = np.arange(12, dtype=np.float64).reshape(3, 4)
    msg = encode_grib1_message(v, reference_value=0.0, nbits=8)
    for k in range(len(msg)):
        with pytest.raises(ValueError):
            decode_grib1(msg[:k])
        with pytest.raises(ValueError):
            inspect_grib1(msg[:k])
    np.testing.assert_array_equal(decode_grib1(msg).values, v)
    # an indicator lying about the total length is rejected
    lied = bytearray(msg)
    lied[4:7] = bytes([0, 0, 90])
    with pytest.raises(ValueError, match="length mismatch"):
        decode_grib1(bytes(lied))


def test_grib1_simple_spectral_with_forged_complex_flag_stops_loudly():
    """Raising the complex-packing flag bit on a SIMPLE spectral BDS
    (whose octets 12-15 hold the unpacked (0,0) IBM float, not the
    N/IP/J1K1M1 head) must stop on the head validation — the forged
    layout would otherwise decode the float bytes as stream pointers.
    (Until r15 this flag combination was a wholesale documented
    boundary; the complex form now decodes —
    test_spectral_complex_packing_roundtrip_and_guards.)"""
    import pytest

    t = 3
    npairs = (t + 1) * (t + 2) // 2
    c = (np.arange(npairs) + 0j).astype(complex)
    msg = bytearray(
        encode_grib1_message(c, spectral=dict(truncation=t), nbits=8)
    )
    pds_len = int.from_bytes(msg[8:11], "big")
    gds_off = 8 + pds_len
    bds_off = gds_off + int.from_bytes(msg[gds_off : gds_off + 3], "big")
    msg[bds_off + 3] |= 0x40  # forge the complex-packing flag bit
    with pytest.raises(
        ValueError,
        match="sub-truncation|disagrees|truncated",
    ):
        decode_grib1(bytes(msg))


def test_corrupt_scan_guards_fail_loudly_not_silently():
    """Defects the codec must stop on LOUDLY, never hang or decode
    garbage: (a) a zeroed indicator length (without the guard the scan
    makes no progress and yields empty messages forever — the previous
    record's own 7777 satisfies the terminator check); (b) a packing
    width past 64 bits (a uint64 weight shift of >= 64 wraps to zero,
    silently dropping the high-order bits of every value); (c) the
    extended-flags bit WITHOUT the second-order bit (matrix forms),
    whose packed stream starts past octet 12; (d) a quasi-regular Ni
    sentinel on a grid with NO points-per-row list (octet 5 missing) —
    guessing row counts would mis-slice every value."""
    v = np.full((2, 3), 5.0)
    good = encode_grib1_message(v, reference_value=0.0, nbits=8)
    # (a) valid message + zero-length indicator stub
    junk = b"GRIB" + b"\x00\x00\x00" + bytes([1]) + b"\x00" * 30
    with pytest.raises(ValueError, match="impossible length"):
        list(iter_messages(good + junk))
    # (b) nbits > 64
    from monitoring_data_ingestion_spark.grid.grib1 import _unpack_bits

    with pytest.raises(ValueError, match="64-bit"):
        _unpack_bits(b"\x00" * 100, 5, 65)
    # byte-aligned fast path agrees with the generic bit path exactly
    rng = np.random.default_rng(7)
    for nbits in (8, 16, 24, 32):
        xs = rng.integers(0, 2**nbits, size=37, dtype=np.uint64)
        from monitoring_data_ingestion_spark.grid.grib1 import _pack_bits

        packed = _pack_bits(xs, nbits)
        np.testing.assert_array_equal(_unpack_bits(packed, 37, nbits), xs)
    # (c) extended BDS layout flag
    bad = bytearray(good)
    # BDS starts after IS(8) + PDS(28) + GDS(32); octet 4 holds the
    # flag nibble high, unused-bit count low
    bds_off = 8 + 28 + 32
    bad[bds_off + 3] |= 0x10
    with pytest.raises(ValueError, match="extended BDS layout"):
        decode_grib1(bytes(bad))
    # (d) quasi-regular Ni sentinel without a PL list (octet 5 = 255)
    bad2 = bytearray(good)
    gds_off = 8 + 28
    bad2[gds_off + 6 : gds_off + 8] = b"\xff\xff"
    with pytest.raises(ValueError, match="points-per-row list"):
        decode_grib1(bytes(bad2))


@pytest.mark.parametrize(
    "kwargs, label",
    [
        (dict(binary_scale=40000), "binary scale factor 40000"),
        (dict(binary_scale=-40000), "binary scale factor -40000"),
        (dict(decimal_scale=400), "decimal scale factor 400"),
        (dict(decimal_scale=-40000), "decimal scale factor -40000"),
        (dict(binary_scale=-2000), "binary scale factor -2000"),
        (dict(decimal_scale=-400), "decimal scale factor -400"),
    ],
)
def test_out_of_range_scale_factors_name_the_field(kwargs, label):
    """A binary or decimal scale factor past its 2-octet sign-magnitude
    width, or whose power leaves the normal float range, stops with the
    ValueError that names it — never a raw OverflowError, nor an nbits
    complaint about the NaN increments a zero 2^E leaves, nor a message
    a zero 10^D decodes to NaN."""
    import re

    with pytest.raises(ValueError, match=f"^{re.escape(label)} out of range"):
        encode_grib1_message(np.ones((2, 3)), **kwargs)
