"""GRIB2 codec (grid/grib2.py): encode→decode round-trips, IEEE
reference values, bitmap masking, signed-magnitude microdegree
coordinates, inventory rendering, and wgrib2 -match/-limit parity."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from monitoring_data_ingestion_spark.grid.grib2 import (
    decode_grib2,
    encode_grib2_message,
    inventory_line,
    iter_messages2,
    match_records,
)


def test_integer_grid_roundtrips_bit_exactly():
    rng = np.random.default_rng(13)
    v = rng.integers(0, 4000, size=(7, 11)).astype(np.float64)
    rec = decode_grib2(encode_grib2_message(v, nbits=12))
    assert np.array_equal(rec.values, v)


@settings(max_examples=40, deadline=None)
@given(
    nj=st.integers(2, 8),
    ni=st.integers(2, 10),
    d_scale=st.integers(-1, 2),
    e_scale=st.integers(0, 4),
    seed=st.integers(0, 2**31),
)
def test_simple_packing_error_bound(nj, ni, d_scale, e_scale, seed):
    """Same quantization bound as GRIB1 simple packing, but the IEEE
    binary32 reference only adds ≤ 2^-24 relative error (vs IBM 2^-20)."""
    rng = np.random.default_rng(seed)
    v = rng.uniform(-5000, 5000, size=(nj, ni))
    rec = decode_grib2(
        encode_grib2_message(v, decimal_scale=d_scale, binary_scale=e_scale, nbits=20)
    )
    bound = (2.0 ** (e_scale - 1)) / (10.0 ** d_scale) + 2**-20 * np.abs(v).max()
    assert np.abs(rec.values - v).max() <= bound
    assert rec.binary_scale == e_scale and rec.decimal_scale == d_scale


def test_bitmap_masks_exactly_the_declared_cells():
    rng = np.random.default_rng(5)
    v = rng.integers(0, 250, size=(6, 9)).astype(np.float64)
    bm = (np.add.outer(np.arange(6), np.arange(9)) % 4) != 0
    rec = decode_grib2(encode_grib2_message(v, bitmap=bm, nbits=8))
    assert np.isnan(rec.values[~bm]).all()
    assert np.array_equal(rec.values[bm], v[bm])


def test_header_metadata_roundtrip_incl_negative_coords():
    rec = decode_grib2(
        encode_grib2_message(
            np.zeros((3, 4)),
            discipline=2,
            category=7,
            number=192,
            reftime=(2023, 11, 30, 18, 45),
            lat_first_udeg=-35_500_000,
            lon_first_udeg=140_250_000,
            dlat_udeg=250_000,
            dlon_udeg=500_000,
            reference_value=0.0,
        )
    )
    assert (rec.discipline, rec.category, rec.number) == (2, 7, 192)
    assert rec.reftime == (2023, 11, 30, 18, 45)  # full 16-bit year field
    assert (rec.lat_first_udeg, rec.lon_first_udeg) == (-35_500_000, 140_250_000)
    assert (rec.dlat_udeg, rec.dlon_udeg) == (250_000, 500_000)
    assert (rec.ni, rec.nj) == (4, 3)


def test_ieee_reference_is_exact_for_representable_values():
    """GRIB2's float32 reference: values exactly representable in
    binary32 (0.5, small ints) round-trip bit-exactly with nbits=0."""
    for r in (0.5, 17.0, -3.25, 0.0):
        rec = decode_grib2(
            encode_grib2_message(np.full((2, 2), r), reference_value=r, nbits=0)
        )
        assert np.array_equal(rec.values, np.full((2, 2), r)), r


def _archive():
    return [
        encode_grib2_message(
            np.full((2, 3), float(10 * k)),
            category=k % 2,
            number=k,
            reference_value=0.0,
            nbits=8,
        )
        for k in range(6)
    ]


def test_inventory_line_fields():
    msgs = _archive()
    assert inventory_line(msgs[3]) == "d0:c1,n3:l1/0:2020010100:f0"
    # the lead renders in CONVERTED whole hours (wgrib2's :anl:/:N hour
    # fcst: selector), so a -match on :f6$ sees 3-hour-unit leads too
    assert inventory_line(
        encode_grib2_message(
            np.ones((2, 3)), forecast=dict(unit=10, value=2)
        )
    ).endswith(":f6")
    # the LEVEL field renders like the landing line (wgrib2's level
    # string is part of its match surface — "0-10 cm down" needs a
    # target at the codec level too): layers as l{type}/{top}-{bottom}
    assert inventory_line(
        encode_grib2_message(
            np.ones((2, 3)),
            level_type=106, level_value=0, level2=dict(type=106, value=2),
        )
    ) == "d0:c0,n0:l106/0-2:2020010100:f0"
    # a calendar-unit lead LISTS (wgrib2 lists every record) as f-,
    # unselectable by an :f6$-style match; the full decode stays loud
    m = bytearray(encode_grib2_message(np.ones((2, 3))))
    pos = 16
    while m[pos + 4] != 4:
        pos += int.from_bytes(m[pos : pos + 4], "big")
    m[pos + 17] = 3  # section-4 octet 18: time unit → month
    assert inventory_line(bytes(m)).endswith(":f-")
    with pytest.raises(ValueError, match="unsupported forecast time unit"):
        decode_grib2(bytes(m))


def test_match_records_regex_and_limit_parity():
    """-match selects by regex over the inventory line in file order;
    -limit caps the count — the reference's exact extraction contract
    (/root/reference/src/file-conversions.js:75-99)."""
    msgs = _archive()
    buf = b"".join(msgs)
    assert len(list(iter_messages2(buf))) == 6
    got = match_records(buf, r"c1,")
    assert [decode_grib2(m).number for m in got] == [1, 3, 5]
    assert match_records(buf, r"c1,", limit=2) == [msgs[1], msgs[3]]
    assert match_records(buf, r"n4:") == [msgs[4]]
    assert match_records(buf, r"^d0:") == msgs  # anchored match, all records
    assert match_records(buf, r"c9") == []


def test_selected_record_is_standalone_decodable():
    msgs = _archive()
    buf = b"".join(msgs)
    (m,) = match_records(buf, r"n2:")
    rec = decode_grib2(m)
    assert np.array_equal(rec.values, np.full((2, 3), 20.0))


def test_malformed_inputs_raise():
    good = encode_grib2_message(np.ones((2, 2)), reference_value=0.0)
    with pytest.raises(ValueError):
        list(iter_messages2(good[:-2]))  # truncated terminator
    with pytest.raises(ValueError):
        decode_grib2(b"NOPE" + good[4:])
    bad_edition = good[:7] + bytes([1]) + good[8:]
    with pytest.raises(ValueError):
        list(iter_messages2(bad_edition))
    with pytest.raises(ValueError):  # R above a data value → negative X
        encode_grib2_message(np.ones((2, 2)), reference_value=100.0)
    with pytest.raises(ValueError):  # increments overflow nbits
        encode_grib2_message(np.array([[0.0, 300.0]]), nbits=8, reference_value=0.0)


def test_grib1_grib2_same_field_same_values():
    """The two codecs implement the same packing formula: a field
    encoded through each edition decodes to identical values (GRIB1's
    IBM reference is exact for the integer R used here)."""
    from monitoring_data_ingestion_spark.grid.grib1 import (
        decode_grib1,
        encode_grib1_message,
    )

    rng = np.random.default_rng(31)
    v = (100 + 2 * rng.integers(0, 100, size=(5, 8))).astype(np.float64)
    r1 = decode_grib1(
        encode_grib1_message(v, reference_value=100.0, binary_scale=1, nbits=8)
    )
    r2 = decode_grib2(
        encode_grib2_message(v, reference_value=100.0, binary_scale=1, nbits=8)
    )
    assert np.array_equal(r1.values, r2.values)
    assert np.array_equal(r1.values, v)


def test_min_reference_floor_rounding_no_spurious_failure():
    """r7 review: float32 round-to-nearest of the data minimum could
    round up past it; the stored reference must floor (nextafter)."""
    v = np.array([[16777219.0, 16777300.0]])
    rec = decode_grib2(encode_grib2_message(v, nbits=16))  # was: ValueError
    assert rec.values.shape == (1, 2)
    assert np.abs(rec.values - v).max() <= 0.5 + 2**-20 * v.max()


def test_nan_without_bitmap_is_rejected():
    v = np.array([[1.0, np.nan]])
    with pytest.raises(ValueError, match="bitmap"):
        encode_grib2_message(v)
    rec = decode_grib2(
        encode_grib2_message(v, bitmap=~np.isnan(v), nbits=8, reference_value=0.0)
    )
    assert rec.values[0, 0] == 1.0 and np.isnan(rec.values[0, 1])


def test_repeated_sections_rejected_not_collapsed():
    """r7 review: GRIB2 legally repeats sections 4-7 for multi-field
    messages; collapsing to the last field would silently mis-inventory
    and mis-decode. Unsupported → loud."""
    m = encode_grib2_message(np.ones((2, 2)), reference_value=0.0)
    # Graft a second copy of sections 4..7 before the terminator.
    import struct as _s

    pos, secs = 16, {}
    while pos < len(m) - 4:
        ln, num = _s.unpack_from(">IB", m, pos)
        secs[num] = (pos, ln)
        pos += ln
    start = secs[4][0]
    end = secs[7][0] + secs[7][1]
    doubled = m[:end] + m[start:end] + m[end:]
    # Patch section-0 total length (64-bit at offset 8).
    doubled = doubled[:8] + _s.pack(">Q", len(doubled)) + doubled[16:]
    with pytest.raises(ValueError, match="repeated section"):
        decode_grib2(doubled)
    # the inventory path treats the doubled run as what it legally IS —
    # a two-field message — and the single-line API stays strict
    with pytest.raises(ValueError, match="inventory_lines"):
        inventory_line(doubled)


def test_zero_length_section_raises_not_hangs():
    m = encode_grib2_message(np.ones((2, 2)), reference_value=0.0)
    bad = m[:16] + b"\x00\x00\x00\x00\x01" + m[21:]
    with pytest.raises(ValueError, match="malformed section"):
        decode_grib2(bad)


def _section3_offset(m: bytes) -> int:
    import struct as _s

    pos = 16
    while True:
        ln, num = _s.unpack_from(">IB", m, pos)
        if num == 3:
            return pos
        pos += ln


def test_unsupported_scanning_mode_rejected():
    m = encode_grib2_message(np.ones((2, 3)), reference_value=0.0)
    scan_off = _section3_offset(m) + 14 + 57  # template octet 57
    for mode in (0x80, 0x20, 0xC0, 0x10):
        bad = m[:scan_off] + bytes([mode]) + m[scan_off + 1 :]
        with pytest.raises(ValueError, match="scanning mode"):
            decode_grib2(bad)


def test_south_first_scanning_mode_0x40_roundtrips_normalized():
    rng = np.random.default_rng(23)
    v = rng.integers(0, 700, size=(4, 6)).astype(np.float64)
    north = encode_grib2_message(v, reference_value=0.0, nbits=10)
    south = encode_grib2_message(
        v, reference_value=0.0, nbits=10, scanning_mode=0x40
    )
    assert north != south
    rn, rs = decode_grib2(north), decode_grib2(south)
    assert np.array_equal(rn.values, rs.values)
    assert rn.lat_first_udeg == rs.lat_first_udeg == 90_000_000


def test_single_resolution_flag_rejected_not_misdecoded():
    """r8 advice (medium): with only ONE of the i/j increment-given
    flags (0x20/0x10) set, the other increment field holds the all-ones
    missing sentinel and coordinates silently decode as ~4.29e9 µdeg.
    The guard must require BOTH flags."""
    m = encode_grib2_message(np.ones((2, 3)), reference_value=0.0)
    res_off = _section3_offset(m) + 14 + 40  # resolution/component octet
    assert m[res_off] == 0x30
    for flags in (0x20, 0x10, 0x00):
        bad = m[:res_off] + bytes([flags]) + m[res_off + 1 :]
        with pytest.raises(ValueError, match="increments"):
            decode_grib2(bad)


# --- complex packing (templates 5.2 / 5.3) --------------------------------


def test_complex_packing_roundtrips_bit_exactly():
    rng = np.random.default_rng(31)
    v = rng.integers(0, 3000, size=(9, 13)).astype(np.float64)
    m = encode_grib2_message(v, packing="complex", group_len=17)
    rec = decode_grib2(m)
    assert rec.packing_template == 2
    assert np.array_equal(rec.values, v)
    # Complex packing of clustered data is smaller than 12-bit simple.
    simple = encode_grib2_message(v, nbits=12)
    assert len(m) < len(simple) + 64  # at least comparable (header overhead)


def test_level_metadata_roundtrips_and_missing_is_null():
    v = np.ones((2, 3))
    rec = decode_grib2(
        encode_grib2_message(
            v, reference_value=0.0, level_type=100, level_scale=0, level_value=85000
        )
    )
    assert (rec.level_type, rec.level_scale, rec.level_value) == (100, 0, 85000)
    rec = decode_grib2(encode_grib2_message(v, reference_value=0.0, level_type=0xFF))
    assert rec.level_type is None and rec.level_value is None


@settings(max_examples=60, deadline=None)
@given(
    nj=st.integers(1, 9),
    ni=st.integers(1, 14),
    group_len=st.integers(1, 40),
    spread=st.integers(1, 5000),
    seed=st.integers(0, 2**31),
)
def test_complex_group_splitting_roundtrip_property(nj, ni, group_len, spread, seed):
    """Template 5.2 general group splitting: any grid / group length
    round-trips bit-exactly for integer grids (E=0, D=0)."""
    rng = np.random.default_rng(seed)
    v = rng.integers(0, spread, size=(nj, ni)).astype(np.float64)
    rec = decode_grib2(
        encode_grib2_message(v, packing="complex", group_len=group_len)
    )
    assert rec.packing_template == 2
    assert np.array_equal(rec.values, v)


@settings(max_examples=60, deadline=None)
@given(
    nj=st.integers(1, 8),
    ni=st.integers(2, 12),
    group_len=st.integers(1, 30),
    order=st.integers(1, 2),
    seed=st.integers(0, 2**31),
)
def test_spatial_differencing_roundtrip_property(nj, ni, group_len, order, seed):
    """Template 5.3 (order 1 and 2): the smooth + noise field whose
    differences are small round-trips bit-exactly, including the
    signed-magnitude initial values / difference minimum."""
    rng = np.random.default_rng(seed)
    walk = np.cumsum(rng.integers(-6, 9, size=nj * ni)).astype(np.float64)
    v = (walk - walk.min()).reshape(nj, ni)
    rec = decode_grib2(
        encode_grib2_message(
            v, packing="complex_diff", spatial_diff_order=order, group_len=group_len
        )
    )
    assert rec.packing_template == 3
    assert np.array_equal(rec.values, v)


def test_spatial_differencing_compresses_smooth_fields():
    """The point of template 5.3: a smooth ramp packs into far fewer
    bits than simple packing at full range."""
    v = (np.arange(4000, dtype=np.float64) * 3).reshape(40, 100)
    simple = encode_grib2_message(v, nbits=16)
    diff = encode_grib2_message(v, packing="complex_diff", group_len=25)
    rec = decode_grib2(diff)
    assert np.array_equal(rec.values, v)
    assert len(diff) < len(simple) / 4  # constant differences → ~zero-width groups


@settings(max_examples=50, deadline=None)
@given(
    nj=st.integers(2, 8),
    ni=st.integers(2, 12),
    group_len=st.integers(1, 25),
    frac=st.floats(0.05, 0.95),
    seed=st.integers(0, 2**31),
)
def test_missing_value_management_roundtrip_property(nj, ni, group_len, frac, seed):
    """Template 5.2 + missing-value management 1: missing points ride
    IN the packed data (all-ones substitution), no section-6 bitmap —
    present cells bit-exact, missing cells NaN, for any missing density
    (incl. whole groups missing)."""
    rng = np.random.default_rng(seed)
    v = rng.integers(0, 800, size=(nj, ni)).astype(np.float64)
    mm = rng.random((nj, ni)) < frac
    rec = decode_grib2(
        encode_grib2_message(v, packing="complex", group_len=group_len, missing_mask=mm)
    )
    # Section 6 must say "no bitmap" — mvm is the in-data alternative.
    assert np.isnan(rec.values[mm]).all()
    assert np.array_equal(rec.values[~mm], v[~mm])


def test_missing_value_management_all_missing_group_marker():
    """A fully-missing group is coded as width 0 with the all-ones group
    reference — decode must mask the whole run, not emit garbage."""
    v = np.arange(30, dtype=np.float64).reshape(3, 10)
    mm = np.zeros((3, 10), dtype=bool)
    mm[1, :] = True  # one whole group at group_len=10
    rec = decode_grib2(
        encode_grib2_message(v, packing="complex", group_len=10, missing_mask=mm)
    )
    assert np.isnan(rec.values[1]).all()
    assert np.array_equal(rec.values[[0, 2]], v[[0, 2]])


@settings(max_examples=50, deadline=None)
@given(
    nj=st.integers(2, 7),
    ni=st.integers(3, 10),
    group_len=st.integers(1, 25),
    order=st.integers(1, 2),
    frac=st.floats(0.05, 0.8),
    seed=st.integers(0, 2**31),
)
def test_spatial_diff_with_missing_value_management_property(
    nj, ni, group_len, order, frac, seed
):
    """Template 5.3 × missing-value management 1 — the combination
    NCEP precipitation products ship: differencing runs over the
    NON-MISSING subsequence only (g2clib's comunpack convention),
    missing points ride in-data as all-ones group markers.  Present
    cells bit-exact, missing cells NaN, for any missing density that
    leaves ≥ order+1 present points."""
    rng = np.random.default_rng(seed)
    walk = np.cumsum(rng.integers(-6, 9, size=nj * ni)).astype(np.float64)
    v = (walk - walk.min()).reshape(nj, ni)
    mm = rng.random((nj, ni)) < frac
    if (~mm).sum() < order + 1:
        mm[:] = False
    rec = decode_grib2(
        encode_grib2_message(
            v, packing="complex_diff", spatial_diff_order=order,
            group_len=group_len, missing_mask=mm,
        )
    )
    assert rec.packing_template == 3
    assert np.isnan(rec.values[mm]).all()
    assert np.array_equal(rec.values[~mm], v[~mm])


def test_spatial_diff_mvm_edges():
    """Deterministic edges of the 5.3 × mvm combination: a whole
    missing group, exactly order+1 present points, and the too-few-
    present encode guard."""
    v = np.arange(24, dtype=np.float64).reshape(4, 6)
    mm = np.zeros((4, 6), dtype=bool)
    mm[1, :] = True  # one whole group missing at group_len=6
    rec = decode_grib2(
        encode_grib2_message(
            v, packing="complex_diff", spatial_diff_order=2,
            group_len=6, missing_mask=mm, reference_value=0.0,
        )
    )
    assert np.isnan(rec.values[1]).all()
    assert np.array_equal(rec.values[~mm], v[~mm])
    # exactly order+1 present points still reconstructs
    mm3 = np.ones((4, 6), dtype=bool)
    mm3.reshape(-1)[[3, 11, 17]] = False
    rec3 = decode_grib2(
        encode_grib2_message(
            v, packing="complex_diff", spatial_diff_order=2,
            missing_mask=mm3, reference_value=0.0,
        )
    )
    assert np.array_equal(rec3.values[~mm3], v[~mm3])
    assert np.isnan(rec3.values[mm3]).all()
    # fewer present points than the order cannot difference
    mm4 = np.ones((4, 6), dtype=bool)
    mm4.reshape(-1)[5] = False
    with pytest.raises(ValueError, match="not enough present points"):
        encode_grib2_message(
            v, packing="complex_diff", spatial_diff_order=2,
            missing_mask=mm4,
        )


@settings(max_examples=50, deadline=None)
@given(
    nj=st.integers(2, 7),
    ni=st.integers(3, 10),
    group_len=st.integers(1, 25),
    order=st.integers(0, 2),
    seed=st.integers(0, 2**31),
)
def test_secondary_missing_roundtrip_property(nj, ni, group_len, order, seed):
    """Missing-value management 2 (primary + secondary — the
    NEXRAD-style distinction between "missing" and "below detection
    threshold"): the top TWO codes at every group width are markers,
    an all-secondary group codes as the all-ones-minus-1 reference,
    and the section-5 secondary substitute lands RAW at secondary
    points.  Composes with both 5.2 and 5.3 (either order)."""
    rng = np.random.default_rng(seed)
    walk = np.cumsum(rng.integers(-6, 9, size=nj * ni)).astype(np.float64)
    v = (walk - walk.min()).reshape(nj, ni)
    kinds = rng.integers(0, 6, size=(nj, ni))
    mm, sm = kinds == 0, kinds == 1
    if (~(mm | sm)).sum() < max(order, 1) + 1:
        mm[:] = False
        sm[:] = False
        sm[0, 0] = True
    kw = dict(
        packing="complex" if order == 0 else "complex_diff",
        missing_mask=mm, secondary_mask=sm, secondary_substitute=9999.0,
        group_len=group_len,
    )
    if order:
        kw["spatial_diff_order"] = order
    rec = decode_grib2(encode_grib2_message(v, **kw))
    assert np.array_equal(np.isnan(rec.values), mm)
    assert np.array_equal(rec.values == 9999.0, sm)
    pres = ~(mm | sm)
    assert np.array_equal(rec.values[pres], v[pres])


def test_secondary_missing_edges_and_guards():
    """Deterministic mvm=2 edges: an all-secondary group (the
    all-ones-minus-1 constant reference), a MIXED all-missing group
    (must take the width path — no constant reference codes two
    kinds), an uncoded substitute falling back to NaN, and the
    overlap / substitute-without-mask encode guards."""
    v = np.arange(30, dtype=np.float64).reshape(3, 10)
    # all-secondary group at group_len=10
    sm = np.zeros((3, 10), dtype=bool)
    sm[1, :] = True
    rec = decode_grib2(
        encode_grib2_message(
            v, packing="complex", group_len=10, secondary_mask=sm,
            secondary_substitute=77.0, reference_value=0.0,
        )
    )
    assert (rec.values[1] == 77.0).all()
    assert np.array_equal(rec.values[[0, 2]], v[[0, 2]])
    # mixed all-missing group: half primary, half secondary
    mm = np.zeros((3, 10), dtype=bool)
    sm = np.zeros((3, 10), dtype=bool)
    mm[1, :5] = True
    sm[1, 5:] = True
    rec = decode_grib2(
        encode_grib2_message(
            v, packing="complex", group_len=10,
            missing_mask=mm, secondary_mask=sm,
            secondary_substitute=55.5, reference_value=0.0,
        )
    )
    assert np.isnan(rec.values[1, :5]).all()
    assert (rec.values[1, 5:] == 55.5).all()
    assert np.array_equal(rec.values[[0, 2]], v[[0, 2]])
    # uncoded substitute -> secondary lands NaN like primary
    rec = decode_grib2(
        encode_grib2_message(
            v, packing="complex", group_len=10,
            secondary_mask=sm, reference_value=0.0,
        )
    )
    assert np.isnan(rec.values[1, 5:]).all()
    # guards
    with pytest.raises(ValueError, match="both primary- and secondary"):
        encode_grib2_message(
            v, packing="complex", missing_mask=sm, secondary_mask=sm
        )
    with pytest.raises(ValueError, match="requires secondary_mask"):
        encode_grib2_message(
            v, packing="complex", secondary_substitute=1.0
        )
    with pytest.raises(ValueError, match="missing-value management"):
        encode_grib2_message(v, secondary_mask=sm)


def test_ieee_float_packing_roundtrips_and_guards():
    """Template 5.4 (IEEE floating-point data): raw floats, no
    reference/scales/width — binary64 round-trips arbitrary doubles
    bit-exactly, binary32 at float32 resolution, composes with a
    bitmap, rejects NaN present cells and spectral pairing."""
    rng = np.random.default_rng(17)
    v = rng.uniform(-5000, 5000, size=(5, 8))
    r64 = decode_grib2(encode_grib2_message(v, packing="ieee64"))
    assert r64.packing_template == 4 and r64.nbits == 64
    assert np.array_equal(r64.values, v)
    r32 = decode_grib2(encode_grib2_message(v, packing="ieee32"))
    assert r32.nbits == 32
    assert np.array_equal(
        r32.values, v.astype(np.float32).astype(np.float64)
    )
    bm = rng.integers(0, 3, size=(5, 8)) != 0
    rb = decode_grib2(encode_grib2_message(v, packing="ieee64", bitmap=bm))
    assert np.isnan(rb.values[~bm]).all()
    assert np.array_equal(rb.values[bm], v[bm])
    # south-first storage normalizes like every other packing
    rs = decode_grib2(
        encode_grib2_message(v, packing="ieee64", scanning_mode=0x40)
    )
    assert np.array_equal(rs.values, v)
    with pytest.raises(ValueError, match="NaN cells need a bitmap"):
        encode_grib2_message(
            np.array([[1.0, np.nan]]), packing="ieee32"
        )
    with pytest.raises(ValueError, match="5.50/5.51"):
        encode_grib2_message(
            (np.arange(6) + 0j).astype(complex),
            spectral=dict(truncation=2), packing="ieee32",
        )


def test_log_packing_roundtrips_and_guards():
    """Template 5.61 (simple packing with LOGARITHM pre-processing —
    ECMWF precipitation-style products whose dynamic range spans
    decades): Z = ln(Y + B) quantizes; decode inverts Y = e^Z − B.
    Fields built as Y = e^k − B with integer k round-trip through the
    EXACT integer Z domain; generic positive fields land within the
    log-domain quantization bound; Y + B ≤ 0 and misplaced kwargs
    stop loudly."""
    k = np.array([[0, 3, 7, 2], [8, 1, 5, 4], [6, 2, 0, 8]], dtype=float)
    b = 10.0
    rec = decode_grib2(
        encode_grib2_message(
            np.exp(k) - b, packing="log", log_offset=b, nbits=8,
            reference_value=0.0,
        )
    )
    assert rec.packing_template == 61
    assert np.array_equal(rec.values, np.exp(k) - b)
    rng = np.random.default_rng(9)
    y = rng.uniform(0.001, 5000.0, size=(6, 9))
    r2 = decode_grib2(
        encode_grib2_message(
            y, packing="log", log_offset=1.0, decimal_scale=5, nbits=22
        )
    )
    assert (np.abs(r2.values - y) / (y + 1.0)).max() < 1e-4
    bm = rng.integers(0, 3, size=(6, 9)) != 0
    r3 = decode_grib2(
        encode_grib2_message(
            y, packing="log", log_offset=1.0, decimal_scale=5, nbits=22,
            bitmap=bm,
        )
    )
    assert np.isnan(r3.values[~bm]).all()
    with pytest.raises(ValueError, match="Y \\+ B > 0"):
        encode_grib2_message(
            np.array([[-1.0, 2.0]]), packing="log", log_offset=0.5
        )
    with pytest.raises(ValueError, match="requires packing='log'"):
        encode_grib2_message(y, log_offset=1.0)


def test_new_packings_compose_with_grid_families():
    """The r15 packings (5.42 AEC, 5.4 IEEE, 5.61 log) are data-
    representation choices orthogonal to the grid family: reduced
    Gaussian (ragged flat values) and regular Gaussian grids
    round-trip under each — a packing branch accidentally coupled to
    the grid-template branch would break exactly here."""
    rng = np.random.default_rng(77)
    rows = [6, 10, 12, 12, 10, 6]
    total = sum(rows)
    v = rng.integers(0, 250, size=total).astype(np.float64)
    rec = decode_grib2(
        encode_grib2_message(
            v, reduced_ni=rows, packing="aec", nbits=8,
            reference_value=0.0,
        )
    )
    assert rec.packing_template == 42 and rec.ni is None
    assert np.array_equal(rec.values, v)
    rec = decode_grib2(
        encode_grib2_message(v, reduced_ni=rows, packing="ieee64")
    )
    assert rec.packing_template == 4
    assert np.array_equal(rec.values, v)
    k = rng.integers(0, 9, size=total).astype(np.float64)
    rec = decode_grib2(
        encode_grib2_message(
            np.exp(k) - 10.0, reduced_ni=rows, packing="log",
            log_offset=10.0, nbits=8, reference_value=0.0,
        )
    )
    assert rec.packing_template == 61
    assert np.array_equal(rec.values, np.exp(k) - 10.0)
    vg = rng.integers(0, 99, size=(6, 8)).astype(np.float64)
    for packing, kw in (("aec", dict(nbits=8, reference_value=0.0)),
                        ("ieee32", {})):
        rec = decode_grib2(
            encode_grib2_message(vg, gaussian=True, packing=packing, **kw)
        )
        assert rec.gaussian_n == 3
        assert np.array_equal(rec.values, vg)


def test_all_points_missing_roundtrips():
    mm = np.ones((3, 4), dtype=bool)
    rec = decode_grib2(
        encode_grib2_message(
            np.zeros((3, 4)), reference_value=0.0, packing="complex", missing_mask=mm
        )
    )
    assert np.isnan(rec.values).all()


def test_complex_with_bitmap_composes():
    """Section-6 bitmap + complex packing (mvm=0): present values only
    are grouped; the bitmap expands on decode."""
    rng = np.random.default_rng(7)
    v = rng.integers(0, 400, size=(5, 8)).astype(np.float64)
    bm = (np.add.outer(np.arange(5), np.arange(8)) % 3) != 0
    rec = decode_grib2(
        encode_grib2_message(v, packing="complex", group_len=6, bitmap=bm)
    )
    assert np.isnan(rec.values[~bm]).all()
    assert np.array_equal(rec.values[bm], v[bm])


def test_complex_scaled_arithmetic_matches_declared_formula():
    """E=1/D=0 with even-step values: Y = (R + X·2)/1 must be bit-exact
    through the grouped path, same contract as the simple-packing
    queries' closed-form oracles."""
    v = (100 + 2 * (np.arange(48, dtype=np.float64) % 25)).reshape(6, 8)
    rec = decode_grib2(
        encode_grib2_message(
            v, reference_value=100.0, binary_scale=1, packing="complex", group_len=7
        )
    )
    assert np.array_equal(rec.values, v)
    assert rec.reference_value == 100.0 and rec.binary_scale == 1


def test_spatial_diff_with_missing_roundtrips():
    # the 5.3 x mvm combination DECODES since r15 (subsequence-only
    # differencing — see test_spatial_diff_with_missing_value_
    # management_property); this pins the minimal former-reject shape
    v = np.arange(12, dtype=np.float64).reshape(2, 6)
    mm = np.zeros((2, 6), dtype=bool)
    mm[0, 0] = True
    rec = decode_grib2(
        encode_grib2_message(
            v, reference_value=0.0, packing="complex_diff", missing_mask=mm
        )
    )
    assert np.isnan(rec.values[0, 0])
    assert np.array_equal(rec.values[~mm], v[~mm])


def test_corrupt_group_lengths_rejected():
    import struct as _s

    m = encode_grib2_message(
        np.arange(24, dtype=np.float64).reshape(4, 6), packing="complex", group_len=5
    )
    # Patch the true-length-of-last-group field (template 5.2 octets
    # 43-46) so lengths no longer sum to the point count.
    pos = 16
    while True:
        ln, num = _s.unpack_from(">IB", m, pos)
        if num == 5:
            break
        pos += ln
    bad = m[: pos + 42] + _s.pack(">I", 999) + m[pos + 46 :]
    with pytest.raises(ValueError, match="group lengths"):
        decode_grib2(bad)


# --- PNG packing (template 5.41) ------------------------------------------


@settings(max_examples=40, deadline=None)
@given(
    nj=st.integers(1, 9),
    ni=st.integers(1, 12),
    spread=st.sampled_from([200, 60000, 1 << 20, 1 << 28]),
    seed=st.integers(0, 2**31),
)
def test_png_packing_roundtrip_property(nj, ni, spread, seed):
    """Template 5.41: the scaled field rides as one PNG image
    (grayscale 8/16, RGB 24, RGBA 32 — the g2clib/wgrib2 convention);
    integer grids round-trip bit-exactly at every sample width."""
    rng = np.random.default_rng(seed)
    v = rng.integers(0, spread, size=(nj, ni)).astype(np.float64)
    rec = decode_grib2(encode_grib2_message(v, packing="png"))
    assert rec.packing_template == 41
    assert np.array_equal(rec.values, v)


def test_png_packing_with_bitmap_packs_present_scanline():
    """With a section-6 bitmap, present values pack as one ndpts×1
    scanline (g2clib pngpack layout); the bitmap expands on decode."""
    rng = np.random.default_rng(9)
    v = rng.integers(0, 500, size=(5, 7)).astype(np.float64)
    bm = (np.add.outer(np.arange(5), np.arange(7)) % 3) != 0
    rec = decode_grib2(encode_grib2_message(v, packing="png", bitmap=bm))
    assert np.isnan(rec.values[~bm]).all()
    assert np.array_equal(rec.values[bm], v[bm])


def test_png_foreign_filters_decode():
    """A foreign encoder may emit Sub/Up/Average/Paeth scanline filters;
    the decoder must reverse all five (our encoder emits None only)."""
    import struct as _s
    import zlib

    from monitoring_data_ingestion_spark.grid.png import (
        _SIGNATURE,
        _chunk,
        png_decode,
    )

    rng = np.random.default_rng(11)
    w, h, bpp = 6, 5, 2
    raw = rng.integers(0, 65535, size=(h, w)).astype(np.uint64)
    rawb = np.zeros((h, w, bpp), np.uint8)
    for k in range(bpp):
        rawb[:, :, bpp - 1 - k] = (raw >> np.uint64(8 * k)) & np.uint64(0xFF)
    lines, prev = [], np.zeros(w * bpp, np.int32)
    for y, ft in zip(range(h), (0, 1, 2, 3, 4)):
        cur = rawb[y].reshape(-1).astype(np.int32)
        filt = np.zeros(w * bpp, np.int32)
        for x in range(w * bpp):
            a = cur[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            filt[x] = (cur[x] - pred) & 0xFF
        lines.append(bytes([ft]) + bytes(filt.astype(np.uint8)))
        prev = cur
    ihdr = _s.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0)
    png = (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + _chunk(b"IEND", b"")
    )
    dec, bits = png_decode(png)
    assert bits == 16 and np.array_equal(dec, raw)


def test_png_corrupt_crc_rejected():
    from monitoring_data_ingestion_spark.grid.png import png_decode, png_encode

    png = png_encode(np.arange(12, dtype=np.uint64).reshape(3, 4), 8)
    bad = png[:20] + bytes([png[20] ^ 0xFF]) + png[21:]
    with pytest.raises(ValueError, match="CRC|IHDR|PNG"):
        png_decode(bad)


def test_png_sample_count_must_match_grid():
    import struct as _s

    m = encode_grib2_message(
        np.arange(12, dtype=np.float64).reshape(3, 4), packing="png"
    )
    # Patch section 3's Ni so the grid no longer matches the raster.
    pos = _section3_offset(m)
    bad = m[: pos + 14 + 16] + _s.pack(">I", 7) + m[pos + 14 + 20 :]
    with pytest.raises(ValueError, match="samples|reshape"):
        decode_grib2(bad)


# --- r8 review regressions -------------------------------------------------


def test_mvm_marker_reserved_without_all_missing_group():
    """r8 review: with missing-value management on, the all-ones group
    REFERENCE is the all-missing marker in EVERY message — a width-0
    all-present group whose reference landed on the marker used to
    decode as entirely missing (the 5,5 cells silently destroyed)."""
    v = np.array([[5.0, 5.0], [7.0, 4.0]])
    mm = np.array([[False, False], [True, False]])
    rec = decode_grib2(
        encode_grib2_message(
            v, packing="complex", group_len=2, missing_mask=mm, reference_value=4.0
        )
    )
    assert rec.values[0, 0] == 5.0 and rec.values[0, 1] == 5.0
    assert np.isnan(rec.values[1, 0]) and rec.values[1, 1] == 4.0


def test_negative_level_scale_roundtrips_signed_magnitude():
    """r8 review: the fixed-surface scale factor is signed-MAGNITUDE;
    writing two's complement made scale −2 decode as −126 (and the level
    as 5·10^126)."""
    rec = decode_grib2(
        encode_grib2_message(
            np.ones((2, 2)), reference_value=0.0,
            level_type=100, level_scale=-2, level_value=5,
        )
    )
    assert (rec.level_type, rec.level_scale, rec.level_value) == (100, -2, 5)


def test_png_overflowing_increment_range_raises_valueerror():
    """r8 review: >32-bit increment ranges must raise ValueError, not a
    bare StopIteration from the width search."""
    with pytest.raises(ValueError, match="32"):
        encode_grib2_message(
            np.array([[0.0, 6e9]]), packing="png", reference_value=0.0
        )


def test_invalid_spatial_diff_order_rejected_at_encode():
    """r8 review: order 3 used to encode silently (octet 48 said 3, the
    payload was order-2 differenced) — a foreign decoder honoring the
    octet would mis-integrate the field."""
    with pytest.raises(ValueError, match="order 3"):
        encode_grib2_message(
            np.ones((2, 6)), packing="complex_diff", spatial_diff_order=3,
            reference_value=0.0,
        )


# --------------------------------------------------------------------------
# Template 5.40 — JPEG2000 packing
# --------------------------------------------------------------------------


@settings(max_examples=30, deadline=None)
@given(
    nj=st.integers(1, 9),
    ni=st.integers(1, 12),
    spread=st.sampled_from([2, 200, 60000, 1 << 20, 1 << 28]),
    seed=st.integers(0, 2**31),
)
def test_jpeg2000_packing_roundtrip_property(nj, ni, spread, seed):
    """Template 5.40: the scaled field rides as one lossless raw
    JPEG2000 codestream (the packing most NCEP products ship); integer
    grids round-trip bit-exactly at every bit depth up to 29."""
    rng = np.random.default_rng(seed)
    v = rng.integers(0, spread, size=(nj, ni)).astype(np.float64)
    rec = decode_grib2(encode_grib2_message(v, packing="jpeg2000"))
    assert rec.packing_template == 40
    assert np.array_equal(rec.values, v)


def test_jpeg2000_packing_with_bitmap_packs_present_scanline():
    """With a section-6 bitmap, present values pack as one ndpts×1
    image (g2clib jpcpack layout); the bitmap expands on decode."""
    rng = np.random.default_rng(13)
    v = rng.integers(0, 500, size=(5, 7)).astype(np.float64)
    bm = (np.add.outer(np.arange(5), np.arange(7)) % 3) != 0
    rec = decode_grib2(encode_grib2_message(v, packing="jpeg2000", bitmap=bm))
    assert rec.packing_template == 40
    assert np.isnan(rec.values[~bm]).all()
    assert np.array_equal(rec.values[bm], v[bm])


def test_jpeg2000_scaled_arithmetic_matches_declared_formula():
    """R/E/D arithmetic composes with the codestream payload exactly as
    Y = (R + X·2^E)/10^D."""
    v = np.array([[1.5, 2.0, 3.25], [0.25, 1.75, 2.5]])
    rec = decode_grib2(
        encode_grib2_message(
            v, packing="jpeg2000", binary_scale=-2, decimal_scale=0
        )
    )
    assert rec.packing_template == 40
    assert np.array_equal(rec.values, v)


def test_jpeg2000_lossy_compression_type_rejected():
    """Compression type 1 (lossy) must raise, not silently decode."""
    import struct

    msg = bytearray(
        encode_grib2_message(np.ones((2, 3)) * 5.0, packing="jpeg2000")
    )
    # find section 5 and patch its compression-type octet (offset 21)
    pos = 16  # after section 0
    while pos < len(msg) - 4:
        ln, num = struct.unpack_from(">IB", msg, pos)
        if num == 5:
            msg[pos + 21] = 1
            break
        pos += ln
    else:
        raise AssertionError("no section 5 found")
    with pytest.raises(ValueError, match="lossy"):
        decode_grib2(bytes(msg))


def test_jpeg2000_overflowing_increment_range_raises_valueerror():
    v = np.array([[0.0, float((1 << 30) + 7)]])
    with pytest.raises(ValueError, match="JPEG2000 packing caps at 29"):
        encode_grib2_message(v, packing="jpeg2000")


def test_png_constant_field_nbits_zero_decodes():
    """Foreign g2clib pngpack constant fields carry nbits=0 and an EMPTY
    section 7; decode must return the constant R/10^D, not crash on an
    empty PNG stream (review r8)."""
    import struct

    msg = bytearray(
        encode_grib2_message(np.ones((2, 3)) * 7.0, packing="png", decimal_scale=0)
    )
    # rewrite section 5's nbits to 0 and empty section 7
    pos = 16
    out = bytearray(msg[:16])
    body = msg[16:]
    p = 0
    while p < len(body) - 4:
        ln, num = struct.unpack_from(">IB", body, p)
        sec = bytearray(body[p : p + ln])
        if num == 5:
            struct.pack_into(">f", sec, 11, 7.0)  # R = the constant
            sec[19] = 0  # nbits = 0
        if num == 7:
            sec = bytearray(struct.pack(">IB", 5, 7))  # empty data section
        out += sec
        p += ln
    out += body[p:]
    struct.pack_into(">Q", out, 8, len(out))  # fix total length
    rec = decode_grib2(bytes(out))
    assert rec.packing_template == 41
    assert np.array_equal(rec.values, np.full((2, 3), 7.0))


def test_raster_packings_with_all_false_bitmap_round_trip():
    """An all-masked field must encode as nbits=0 + empty raster for
    BOTH raster packings (not a zero-size-image crash) and decode to
    all-NaN (review r8)."""
    v = np.ones((3, 4)) * 5.0
    bm = np.zeros((3, 4), dtype=bool)
    for packing in ("png", "jpeg2000"):
        rec = decode_grib2(encode_grib2_message(v, packing=packing, bitmap=bm))
        assert np.isnan(rec.values).all(), packing


def test_unknown_product_definition_template_rejected():
    """An UNKNOWN product definition template does not share 4.0's
    level octets: decoding its levels through 4.0 offsets would emit
    garbage metadata; both the full decode and the header-only
    inventory must reject (review r8; the patch target was 4.30 until
    r15 and 4.40 until r16 — each gained its own decode, so the
    fixture now pins the RESERVED 4.65534, which never can)."""
    import struct

    from monitoring_data_ingestion_spark.sources.grib_source import _grib2_header

    msg = bytearray(encode_grib2_message(np.ones((2, 2)), level_type=100))
    pos = 16
    while pos < len(msg) - 4:
        ln, num = struct.unpack_from(">IB", msg, pos)
        if num == 4:
            struct.pack_into(">H", msg, pos + 7, 65534)
            break
        pos += ln
    with pytest.raises(ValueError, match="product definition template"):
        decode_grib2(bytes(msg))
    with pytest.raises(ValueError, match="product definition template"):
        _grib2_header(bytes(msg))


def test_pdt_48_statistical_metadata_round_trips():
    """PDT 4.8 (statistical processing) extends 4.0 with interval
    octets AFTER the fixed surfaces: category/number/levels decode
    through the shared 4.0 parser, and the code-table-4.10 process +
    interval end surface on the record (r8: no longer discarded).  A
    4.8 record whose section is too short for the interval octets is
    malformed and rejects loudly."""
    import struct

    msg = encode_grib2_message(
        np.ones((2, 2)) * 3.0, category=1, number=8,
        level_type=1, level_value=0,
        statistical=dict(
            process=0, interval_end=(2021, 7, 1, 6, 30), range_hours=720
        ),
    )
    rec = decode_grib2(msg)
    assert (rec.category, rec.number, rec.level_type) == (1, 8, 1)
    assert rec.statistical_process == 0  # average
    assert rec.interval_end == (2021, 7, 1, 6, 30)
    # instantaneous records carry None, never a fake 0
    rec0 = decode_grib2(encode_grib2_message(np.ones((2, 2))))
    assert rec0.statistical_process is None and rec0.interval_end is None

    # truncated: a 4.0-sized section claiming template 4.8
    trunc = bytearray(encode_grib2_message(np.ones((2, 2))))
    pos = 16
    while pos < len(trunc) - 4:
        ln, num = struct.unpack_from(">IB", trunc, pos)
        if num == 4:
            struct.pack_into(">H", trunc, pos + 7, 8)
            break
        pos += ln
    with pytest.raises(ValueError, match="truncated product definition"):
        decode_grib2(bytes(trunc))


def test_header_inventory_rejects_non_latlon_grid_template():
    """_grib2_header must not read Ni/Nj through a layout that does not
    share 3.0's octets (triangular 3.100 etc.) — the metadata pass must
    stop as loudly as the full decode (review r8)."""
    import struct

    from monitoring_data_ingestion_spark.sources.grib_source import _grib2_header

    msg = bytearray(encode_grib2_message(np.ones((2, 2))))
    pos = 16
    while pos < len(msg) - 4:
        ln, num = struct.unpack_from(">IB", msg, pos)
        if num == 3:
            struct.pack_into(">H", msg, pos + 12, 100)  # triangular grid
            break
        pos += ln
    with pytest.raises(ValueError, match="grid definition template"):
        _grib2_header(bytes(msg))


# --------------------------------------------------------------------------
# Template 3.40 — global regular Gaussian grid
# --------------------------------------------------------------------------


def test_gaussian_latitudes_match_independent_quadrature():
    """Engine latitudes (own Newton/Bonnet recurrence) must match
    numpy's independent Gauss-Legendre implementation, run north-first,
    and satisfy the exactness property that DEFINES the nodes: the
    quadrature with P'_n-based weights integrates x^(2k) exactly."""
    from monitoring_data_ingestion_spark.grid.grib2 import gaussian_latitudes

    for nj in (2, 4, 10, 48, 96):
        lats = gaussian_latitudes(nj)
        x_ref, w_ref = np.polynomial.legendre.leggauss(nj)
        assert np.max(np.abs(lats - np.degrees(np.arcsin(x_ref))[::-1])) < 1e-10
        assert np.all(np.diff(lats) < 0)
        assert np.allclose(lats, -lats[::-1])
        # quadrature exactness through degree 2*nj-1 at the recovered nodes
        x = np.sin(np.radians(lats))
        for k in (0, 1, 2):
            deg = 2 * k
            if deg > 2 * nj - 1:
                continue
            assert abs(np.sum(w_ref[::-1] * x**deg) - 2.0 / (deg + 1)) < 1e-12

    with pytest.raises(ValueError, match="even"):
        gaussian_latitudes(5)


@settings(max_examples=20, deadline=None)
@given(
    n=st.integers(1, 6),
    ni=st.integers(1, 12),
    seed=st.integers(0, 2**31),
)
def test_gaussian_grid_roundtrip_property(n, ni, seed):
    rng = np.random.default_rng(seed)
    v = 100.0 + 2.0 * rng.integers(0, 60, (2 * n, ni))
    rec = decode_grib2(
        encode_grib2_message(v, gaussian=True, reference_value=100.0, binary_scale=1)
    )
    assert rec.gaussian_n == n
    assert rec.dlat_udeg == 0
    assert np.array_equal(rec.values, v)
    from monitoring_data_ingestion_spark.grid.grib2 import gaussian_latitudes

    assert np.allclose(rec.latitudes_deg, gaussian_latitudes(2 * n))
    assert rec.lat_first_udeg == round(float(rec.latitudes_deg[0]) * 1e6)


def test_gaussian_grid_composes_with_every_packing():
    rng = np.random.default_rng(21)
    v = 100.0 + 2.0 * rng.integers(0, 60, (8, 9))
    for packing in ("simple", "complex", "complex_diff", "png", "jpeg2000"):
        rec = decode_grib2(
            encode_grib2_message(
                v, gaussian=True, packing=packing,
                reference_value=100.0, binary_scale=1,
            )
        )
        assert rec.gaussian_n == 4 and np.array_equal(rec.values, v), packing


def test_gaussian_non_global_subset_rejected():
    """nj != 2N (a latitude subset) must reject — assuming global would
    silently misplace every row."""
    import struct

    msg = bytearray(
        encode_grib2_message(np.ones((8, 5)), gaussian=True)
    )
    pos = 16
    while pos < len(msg) - 4:
        ln, num = struct.unpack_from(">IB", msg, pos)
        if num == 3:
            struct.pack_into(">I", msg, pos + 14 + 53, 7)  # N = 7 but nj = 8
            break
        pos += ln
    with pytest.raises(ValueError, match="non-global Gaussian"):
        decode_grib2(bytes(msg))


def test_gaussian_header_inventory_reads_grid_dims():
    """Templates 3.40 and 3.30 share 3.0's Ni/Nj octets, so the
    header-only inventory reads them without touching value bits; a
    genuinely different layout (triangular 3.100) rejects — see
    test_header_inventory_rejects_non_latlon_grid_template."""
    from monitoring_data_ingestion_spark.sources.grib_source import _grib2_header

    h = _grib2_header(encode_grib2_message(np.ones((4, 5)), gaussian=True))
    assert (h["ni"], h["nj"]) == (5, 4)


# --------------------------------------------------------------------------
# Template 3.30 — Lambert conformal conic
# --------------------------------------------------------------------------


# The independent (isometric-form) projections live next to the oracle
# generators; witness independence is from the ENGINE implementation,
# so the tests share them rather than keeping third copies.
from monitoring_data_ingestion_spark.plans.grid_codec_q import (  # noqa: E402
    _lcc_inverse_isometric,
)


def test_lambert_matches_snyder_published_example():
    """Snyder, 'Map Projections — A Working Manual' (USGS PP 1395),
    spherical LCC numerical example: R=1, standard parallels 33/45,
    origin 23N 96W; the point 35N 75W maps to (0.2966785, 0.2462112)."""
    from monitoring_data_ingestion_spark.grid.grib2 import (
        lambert_forward,
        lambert_inverse,
    )

    x, y = lambert_forward(35.0, -75.0, 23.0, -96.0, 33.0, 45.0, 1.0)
    assert abs(float(x) - 0.2966785) < 5e-7
    assert abs(float(y) - 0.2462112) < 5e-7
    lat, lon = lambert_inverse(float(x), float(y), 23.0, -96.0, 33.0, 45.0, 1.0)
    assert abs(float(lat) - 35.0) < 1e-9 and abs(float(lon) + 75.0) < 1e-9


@settings(max_examples=40, deadline=None)
@given(
    x_km=st.floats(-2000, 2000),
    y_km=st.floats(-2000, 2000),
    tangent=st.booleans(),
)
def test_lambert_inverse_matches_independent_formulation(x_km, y_km, tangent):
    from monitoring_data_ingestion_spark.grid.grib2 import lambert_inverse

    lad, lov, r = 38.5, -97.5, 6371229.0
    latin1, latin2 = (38.5, 38.5) if tangent else (33.0, 45.0)
    lat_m, lon_m = lambert_inverse(x_km * 1e3, y_km * 1e3, lad, lov, latin1, latin2, r)
    lat_i, lon_i = _lcc_inverse_isometric(x_km * 1e3, y_km * 1e3, lad, lov, latin1, latin2, r)
    assert abs(float(lat_m) - lat_i) < 1e-9
    assert abs(float(lon_m) - lon_i) < 1e-9


def test_lambert_grid_roundtrip_and_cell_coordinates():
    """Template 3.30 end-to-end: values keep storage order under both
    scan modes, cell (0,0) is exactly (La1, Lo1), and forward-projecting
    every decoded coordinate lands back on the exact Dx/Dy mesh."""
    from monitoring_data_ingestion_spark.grid.grib2 import lambert_forward

    rng = np.random.default_rng(6)
    lam = dict(
        la1=21.138, lo1=-122.72, lad=38.5, lov=-97.5,
        latin1=38.5, latin2=38.5, dx_m=3000.0, dy_m=3000.0,
    )
    for scan in (0x40, 0x00):
        v = 100.0 + 2.0 * rng.integers(0, 60, (6, 8))
        rec = decode_grib2(
            encode_grib2_message(
                v, lambert=lam, scanning_mode=scan,
                reference_value=100.0, binary_scale=1,
            )
        )
        assert rec.grid_template == 30
        assert np.array_equal(rec.values, v)
        assert abs(rec.cell_lats_deg[0, 0] - lam["la1"]) < 1e-6
        assert abs(rec.cell_lons_deg[0, 0] - lam["lo1"]) < 1e-6
        x, y = lambert_forward(
            rec.cell_lats_deg, rec.cell_lons_deg,
            lam["lad"], lam["lov"], lam["latin1"], lam["latin2"], 6371229.0,
        )
        i = np.arange(8)[None, :]
        j = np.arange(6)[:, None]
        sj = 1.0 if scan & 0x40 else -1.0
        assert np.max(np.abs(x - (float(x[0, 0]) + i * lam["dx_m"]))) < 1e-4
        assert np.max(np.abs(y - (float(y[0, 0]) + sj * j * lam["dy_m"]))) < 1e-4


def test_lambert_rejections():
    """Southern cones stop loudly; Lambert records LAND with per-cell
    coordinates (affine georef NULL — visible, never fabricated)."""
    from monitoring_data_ingestion_spark.grid.grib2 import decode_grib2
    from monitoring_data_ingestion_spark.sources.grib_source import (
        _decode_batches,
        _grib2_header,
    )

    lam = dict(
        la1=21.0, lo1=-122.0, lad=38.5, lov=-97.5,
        latin1=38.5, latin2=38.5, dx_m=3000.0, dy_m=3000.0,
    )
    msg = encode_grib2_message(np.ones((3, 4)), lambert=lam)
    # header inventory reads dims (shared octets)...
    h = _grib2_header(msg)
    assert (h["ni"], h["nj"]) == (4, 3)
    # ...and the landing record carries the per-cell georeference
    import pandas as pd

    (pdf,) = list(
        _decode_batches(iter([pd.DataFrame([{"path": "f", "content": msg}])]))
    )
    row = pdf.iloc[0]
    assert row["grid_template"] == 30
    assert row["lat_first_mdeg"] is None and row["dlat_mdeg"] is None
    rec = decode_grib2(msg)
    assert list(row["cell_lats_deg"]) == list(rec.cell_lats_deg.reshape(-1))
    assert list(row["cell_lons_deg"]) == list(rec.cell_lons_deg.reshape(-1))
    # southern cone
    south = dict(lam, lad=-38.5, latin1=-38.5, latin2=-38.5)
    with pytest.raises(ValueError, match="southern-cone"):
        encode_grib2_message(np.ones((3, 4)), lambert=south)


def test_lambert_bipolar_projection_rejected():
    """Projection-centre flag bit 2 (bi-polar symmetric) must reject —
    decoding it with one northern cone would silently corrupt every
    coordinate (review r8)."""
    import struct

    lam = dict(
        la1=21.0, lo1=-122.0, lad=38.5, lov=-97.5,
        latin1=38.5, latin2=38.5, dx_m=3000.0, dy_m=3000.0,
    )
    msg = bytearray(encode_grib2_message(np.ones((3, 4)), lambert=lam))
    pos = 16
    while pos < len(msg) - 4:
        ln, num = struct.unpack_from(">IB", msg, pos)
        if num == 3:
            msg[pos + 14 + 49] = 0x40  # bi-polar bit
            break
        pos += ln
    with pytest.raises(ValueError, match="bi-polar|projection centre"):
        decode_grib2(bytes(msg))


def test_gaussian_without_j_increment_flag_decodes():
    """Template 3.40 has no Dj increment (the octets hold N), so a
    producer that only sets the i-increment resolution flag (0x20) is
    conformant and must decode (review r8)."""
    import struct

    v = 100.0 + 2.0 * np.arange(24, dtype=np.float64).reshape(4, 6)
    msg = bytearray(
        encode_grib2_message(v, gaussian=True, reference_value=100.0, binary_scale=1)
    )
    pos = 16
    while pos < len(msg) - 4:
        ln, num = struct.unpack_from(">IB", msg, pos)
        if num == 3:
            msg[pos + 14 + 40] = 0x20  # i-increment only
            break
        pos += ln
    rec = decode_grib2(bytes(msg))
    assert rec.gaussian_n == 2 and np.array_equal(rec.values, v)
    # a lat/lon (3.0) record with the same flags still rejects
    msg2 = bytearray(encode_grib2_message(v, reference_value=100.0, binary_scale=1))
    pos = 16
    while pos < len(msg2) - 4:
        ln, num = struct.unpack_from(">IB", msg2, pos)
        if num == 3:
            msg2[pos + 14 + 40] = 0x20
            break
        pos += ln
    with pytest.raises(ValueError, match="increments not given"):
        decode_grib2(bytes(msg2))


# --------------------------------------------------------------------------
# Template 3.20 — polar stereographic
# --------------------------------------------------------------------------


from monitoring_data_ingestion_spark.plans.grid_codec_q import (  # noqa: E402
    _ps_inverse_isometric,
)


@settings(max_examples=40, deadline=None)
@given(
    lat=st.floats(5.0, 89.5),
    lon=st.floats(-179.9, 179.9),
    lad=st.sampled_from([60.0, 90.0]),
)
def test_polar_stereo_matches_independent_formulation(lat, lon, lad):
    from monitoring_data_ingestion_spark.grid.grib2 import (
        polar_stereo_forward,
        polar_stereo_inverse,
    )

    r = 6371229.0
    x, y = polar_stereo_forward(lat, lon, lad, -100.0, r)
    la_m, lo_m = polar_stereo_inverse(float(x), float(y), lad, -100.0, r)
    la_i, lo_i = _ps_inverse_isometric(float(x), float(y), lad, -100.0, r)
    assert abs(la_m - la_i) < 1e-9
    assert abs(((lo_m - lo_i + 180) % 360) - 180) < 1e-9
    assert abs(la_m - lat) < 1e-9  # exact round-trip


def test_polar_stereo_true_scale_at_lad():
    """The defining property of the LaD parameter: the local meridional
    scale factor equals 1 exactly at the true-scale latitude."""
    import math

    from monitoring_data_ingestion_spark.grid.grib2 import polar_stereo_forward

    for lad in (60.0, 71.0):
        eps = 1e-6
        _, y1 = polar_stereo_forward(lad, 0.0, lad, 0.0, 1.0)
        _, y2 = polar_stereo_forward(lad + eps, 0.0, lad, 0.0, 1.0)
        assert abs(abs(float(y2) - float(y1)) / math.radians(eps) - 1.0) < 1e-4


def test_polar_stereo_grid_roundtrip_and_cells():
    from monitoring_data_ingestion_spark.grid.grib2 import polar_stereo_forward

    rng = np.random.default_rng(14)
    ps = dict(la1=47.5, lo1=-110.0, lad=60.0, lov=-100.0,
              dx_m=25000.0, dy_m=25000.0)
    for scan in (0x40, 0x00):
        v = 200.0 + 2.0 * rng.integers(0, 50, (6, 7))
        rec = decode_grib2(
            encode_grib2_message(
                v, polar_stereo=ps, scanning_mode=scan,
                reference_value=200.0, binary_scale=1,
            )
        )
        assert rec.grid_template == 20
        assert np.array_equal(rec.values, v)  # storage order kept
        assert abs(rec.cell_lats_deg[0, 0] - ps["la1"]) < 1e-6
        assert abs(rec.cell_lons_deg[0, 0] - ps["lo1"]) < 1e-6
        x, y = polar_stereo_forward(
            rec.cell_lats_deg, rec.cell_lons_deg, ps["lad"], ps["lov"], 6371229.0
        )
        i = np.arange(7)[None, :]
        j = np.arange(6)[:, None]
        sj = 1.0 if scan & 0x40 else -1.0
        assert np.max(np.abs(x - (float(x[0, 0]) + i * ps["dx_m"]))) < 1e-4
        assert np.max(np.abs(y - (float(y[0, 0]) + sj * j * ps["dy_m"]))) < 1e-4


def test_polar_stereo_south_aspect_rejected_and_landing_cells():
    import struct

    import pandas as pd

    from monitoring_data_ingestion_spark.sources.grib_source import (
        _decode_batches,
        _grib2_header,
    )

    ps = dict(la1=47.5, lo1=-110.0, lad=60.0, lov=-100.0,
              dx_m=25000.0, dy_m=25000.0)
    msg = bytearray(encode_grib2_message(np.ones((3, 4)), polar_stereo=ps))
    h = _grib2_header(bytes(msg))
    assert (h["ni"], h["nj"]) == (4, 3)
    (pdf,) = list(
        _decode_batches(
            iter([pd.DataFrame([{"path": "f", "content": bytes(msg)}])])
        )
    )
    row = pdf.iloc[0]
    assert row["grid_template"] == 20
    assert row["lat_first_mdeg"] is None
    assert abs(row["cell_lats_deg"][0] - 47.5) < 1e-9
    assert abs(row["cell_lons_deg"][0] - (-110.0)) < 1e-9
    pos = 16
    while pos < len(msg) - 4:
        ln, num = struct.unpack_from(">IB", msg, pos)
        if num == 3:
            msg[pos + 14 + 49] = 0x80  # south pole on plane
            break
        pos += ln
    with pytest.raises(ValueError, match="projection centre"):
        decode_grib2(bytes(msg))


# --------------------------------------------------------------------------
# Template 3.10 — Mercator
# --------------------------------------------------------------------------


@settings(max_examples=40, deadline=None)
@given(
    lat=st.floats(-80.0, 80.0),
    lon=st.floats(-179.9, 179.9),
    lad=st.sampled_from([0.0, 20.0]),
)
def test_mercator_matches_gudermannian_form(lat, lon, lad):
    """The module inverts Mercator via 2·atan(e^y') − π/2; the
    Gudermannian form atan(sinh(y')) is the independent identity."""
    import math

    from monitoring_data_ingestion_spark.grid.grib2 import (
        mercator_forward,
        mercator_inverse,
    )

    r = 6371229.0
    x, y = mercator_forward(lat, lon, lad, r)
    la_m, lo_m = mercator_inverse(float(x), float(y), lad, r)
    k = r * math.cos(math.radians(lad))
    la_g = math.degrees(math.atan(math.sinh(float(y) / k)))
    assert abs(float(la_m) - la_g) < 1e-9
    assert abs(float(la_m) - lat) < 1e-9
    assert abs(((float(lo_m) - lon + 180) % 360) - 180) < 1e-9


def test_mercator_grid_roundtrip_and_cells():
    from monitoring_data_ingestion_spark.grid.grib2 import mercator_forward

    rng = np.random.default_rng(16)
    mc = dict(la1=-10.0, lo1=100.0, lad=20.0, dx_m=50000.0, dy_m=50000.0)
    for scan in (0x40, 0x00):
        v = 300.0 + 2.0 * rng.integers(0, 40, (5, 8))
        rec = decode_grib2(
            encode_grib2_message(
                v, mercator=mc, scanning_mode=scan,
                reference_value=300.0, binary_scale=1,
            )
        )
        assert rec.grid_template == 10
        assert np.array_equal(rec.values, v)
        assert abs(rec.cell_lats_deg[0, 0] - mc["la1"]) < 1e-6
        assert abs(rec.cell_lons_deg[0, 0] - mc["lo1"]) < 1e-6
        # every cell lands back on the exact Dx/Dy mesh
        x, y = mercator_forward(
            rec.cell_lats_deg, rec.cell_lons_deg, mc["lad"], 6371229.0
        )
        i = np.arange(8)[None, :]
        j = np.arange(5)[:, None]
        sj = 1.0 if scan & 0x40 else -1.0
        assert np.max(np.abs(x - (float(x[0, 0]) + i * mc["dx_m"]))) < 1e-4
        assert np.max(np.abs(y - (float(y[0, 0]) + sj * j * mc["dy_m"]))) < 1e-4
        # rows share one latitude; columns share one longitude
        assert np.max(np.ptp(rec.cell_lats_deg, axis=1)) < 1e-9
        assert np.max(np.ptp(rec.cell_lons_deg, axis=0)) < 1e-9


def test_mercator_lands_with_cells_and_header_dims():
    import pandas as pd

    from monitoring_data_ingestion_spark.grid.grib2 import decode_grib2
    from monitoring_data_ingestion_spark.sources.grib_source import (
        _decode_batches,
        _grib2_header,
    )

    mc = dict(la1=-10.0, lo1=100.0, lad=20.0, dx_m=50000.0, dy_m=50000.0)
    msg = encode_grib2_message(np.ones((3, 4)), mercator=mc)
    h = _grib2_header(msg)
    assert (h["ni"], h["nj"]) == (4, 3)
    (pdf,) = list(
        _decode_batches(iter([pd.DataFrame([{"path": "f", "content": msg}])]))
    )
    row = pdf.iloc[0]
    rec = decode_grib2(msg)
    assert row["grid_template"] == 10
    assert row["lon_first_mdeg"] is None and row["dlon_mdeg"] is None
    assert list(row["cell_lons_deg"]) == list(rec.cell_lons_deg.reshape(-1))


def test_projected_grid_decode_guards():
    """Review r8 pass 3: rotated Mercator orientation, missing Di/Dj
    sentinels, and degenerate true-scale latitudes reject loudly on
    both encode and decode."""
    import struct

    mc = dict(la1=-10.0, lo1=100.0, lad=20.0, dx_m=50000.0, dy_m=50000.0)
    msg = bytearray(encode_grib2_message(np.ones((3, 4)), mercator=mc))
    pos = 16
    while pos < len(msg) - 4:
        ln, num = struct.unpack_from(">IB", msg, pos)
        if num == 3:
            break
        pos += ln
    g0 = pos + 14
    rot = bytearray(msg)
    struct.pack_into(">I", rot, g0 + 46, 45_000_000)
    with pytest.raises(ValueError, match="orientation"):
        decode_grib2(bytes(rot))
    sent = bytearray(msg)
    struct.pack_into(">I", sent, g0 + 50, 0xFFFFFFFF)
    with pytest.raises(ValueError, match="Di/Dj"):
        decode_grib2(bytes(sent))
    with pytest.raises(ValueError, match="degenerate Mercator"):
        encode_grib2_message(np.ones((3, 4)), mercator=dict(mc, lad=90.0))
    ps = dict(la1=47.5, lo1=-110.0, lad=-90.0, lov=-100.0,
              dx_m=25000.0, dy_m=25000.0)
    with pytest.raises(ValueError, match="degenerate polar"):
        encode_grib2_message(np.ones((3, 4)), polar_stereo=ps)
    lam = dict(la1=21.0, lo1=-122.0, lad=38.5, lov=-97.5,
               latin1=38.5, latin2=38.5, dx_m=3000.0, dy_m=3000.0)
    lmsg = bytearray(encode_grib2_message(np.ones((3, 4)), lambert=lam))
    pos = 16
    while pos < len(lmsg) - 4:
        ln, num = struct.unpack_from(">IB", lmsg, pos)
        if num == 3:
            break
        pos += ln
    struct.pack_into(">I", lmsg, pos + 14 + 41, 0xFFFFFFFF)
    with pytest.raises(ValueError, match="Di/Dj"):
        decode_grib2(bytes(lmsg))


def test_mercator_la2_lo2_cross_check():
    """A Mercator record whose stated La2/Lo2 disagree with the
    Di/Dj-derived far corner rejects loudly instead of decoding with
    silently increment-derived geometry (ADVICE r8)."""
    import struct

    mc = dict(la1=-10.0, lo1=100.0, lad=20.0, dx_m=50000.0, dy_m=50000.0)
    msg = bytearray(encode_grib2_message(np.ones((3, 4)), mercator=mc))
    pos = 16
    while pos < len(msg) - 4:
        ln, num = struct.unpack_from(">IB", msg, pos)
        if num == 3:
            break
        pos += ln
    g0 = pos + 14
    decode_grib2(bytes(msg))  # consistent corner decodes fine
    bad = bytearray(msg)
    struct.pack_into(">I", bad, g0 + 37, 45_000_000)  # La2 := 45N
    with pytest.raises(ValueError, match="disagree"):
        decode_grib2(bytes(bad))
    bad = bytearray(msg)
    struct.pack_into(">I", bad, g0 + 41, 10_000_000)  # Lo2 := 10E
    with pytest.raises(ValueError, match="disagree"):
        decode_grib2(bytes(bad))


def test_reduced_gaussian_roundtrip_all_packings():
    """Template 3.40 REDUCED form (Ni coded missing, points-per-row
    list): ragged values round-trip through simple and complex
    packings, the quadrature latitudes match the regular form, and
    per-cell coordinates expand rows correctly."""
    from monitoring_data_ingestion_spark.grid.grib2 import gaussian_latitudes

    row_ni = [4, 6, 7, 7, 6, 4]
    vals = np.concatenate(
        [100.0 + 2 * np.arange(n) + 10 * j for j, n in enumerate(row_ni)]
    )
    lats = gaussian_latitudes(6)
    for packing in ("simple", "complex", "complex_diff"):
        msg = encode_grib2_message(
            vals, reduced_ni=row_ni, packing=packing,
            reference_value=100.0, binary_scale=1,
        )
        rec = decode_grib2(msg)
        assert rec.ni is None and rec.nj == 6
        assert rec.gaussian_n == 3
        assert list(rec.row_ni) == row_ni
        np.testing.assert_allclose(rec.values, vals)
        np.testing.assert_allclose(rec.latitudes_deg, lats)
        cl, co = rec.cell_lats_deg, rec.cell_lons_deg
        assert len(cl) == sum(row_ni) == len(co)
        np.testing.assert_allclose(cl[:4], [lats[0]] * 4)
        np.testing.assert_allclose(co[:4], np.arange(4) * 360.0 / 4)
        np.testing.assert_allclose(co[4:10], np.arange(6) * 360.0 / 6)


def test_reduced_gaussian_rejections():
    """Ragged-grid guards: raster packings, flat-length mismatch, odd
    parallel count, scanning 0x40, and a corrupted points-per-row list
    all stop loudly."""
    import struct

    row_ni = [4, 6, 6, 4]
    vals = np.arange(20, dtype=np.float64)
    with pytest.raises(ValueError, match="rectangular"):
        encode_grib2_message(vals, reduced_ni=row_ni, packing="png")
    with pytest.raises(ValueError, match="flat"):
        encode_grib2_message(np.arange(19.0), reduced_ni=row_ni)
    with pytest.raises(ValueError, match="even"):
        encode_grib2_message(np.arange(14.0), reduced_ni=[4, 6, 4])
    with pytest.raises(ValueError, match="north-first"):
        encode_grib2_message(vals, reduced_ni=row_ni, scanning_mode=0x40)
    msg = bytearray(encode_grib2_message(vals, reduced_ni=row_ni))
    pos = 16
    while pos < len(msg) - 4:
        ln, num = struct.unpack_from(">IB", msg, pos)
        if num == 3:
            break
        pos += ln
    bad = bytearray(msg)
    struct.pack_into(">H", bad, pos + 14 + 58, 9)  # row 0 count 4 -> 9
    with pytest.raises(ValueError, match="disagrees"):
        decode_grib2(bytes(bad))
    bad = bytearray(msg)
    bad[pos + 11] = 0  # interpretation: none
    with pytest.raises(ValueError, match="points-per-row"):
        decode_grib2(bytes(bad))


def test_multifield_message_decodes_per_field():
    """A multi-field GRIB2 message (0 1 (3 (4 5 6 7))+ 8 — the NDFD
    submessage layout) decodes one record per field, inheriting the
    persisting section 3 where it is not re-emitted; the strict
    single-field API still rejects loudly."""
    import struct

    from monitoring_data_ingestion_spark.grid.grib2 import (
        decode_grib2_fields,
        merge_grib2_fields,
    )

    v1 = 100.0 + 2 * np.arange(12, dtype=np.float64).reshape(3, 4)
    v2 = 50.0 + 4 * np.arange(12, dtype=np.float64).reshape(3, 4)
    v3 = np.arange(6, dtype=np.float64).reshape(2, 3)
    m1 = encode_grib2_message(v1, number=1, reference_value=100.0)
    m2 = encode_grib2_message(
        v2, number=2, reference_value=50.0, packing="complex"
    )
    m3 = encode_grib2_message(
        v3, number=3, reference_value=0.0,
        lat_first_udeg=60_000_000, dlat_udeg=2_000_000,
    )
    merged = merge_grib2_fields([m1, m2, m3])
    recs = decode_grib2_fields(merged)
    assert [r.number for r in recs] == [1, 2, 3]
    np.testing.assert_array_equal(recs[0].values, v1)
    np.testing.assert_array_equal(recs[1].values, v2)
    np.testing.assert_array_equal(recs[2].values, v3)
    assert recs[2].lat_first_udeg == 60_000_000  # repeated s3 took effect
    with pytest.raises(ValueError, match="decode_grib2_fields"):
        decode_grib2(merged)

    # section 3 inheritance: same grid -> emitted once
    def count_s3(m: bytes) -> int:
        pos, c = 16, 0
        while pos < len(m) - 4:
            ln, num = struct.unpack_from(">IB", m, pos)
            c += num == 3
            pos += ln
        return c

    assert count_s3(merge_grib2_fields([m1, m2])) == 1
    assert count_s3(merged) == 2
    # single-field passthrough is the degenerate case
    (only,) = decode_grib2_fields(m1)
    np.testing.assert_array_equal(only.values, v1)


def test_multifield_layout_guards():
    """Malformed submessage layouts stop loudly: out-of-order field
    sections, a context section inside a 4-7 run, and a message that
    ends mid-field."""
    import struct

    from monitoring_data_ingestion_spark.grid.grib2 import (
        _iter_field_sections,
        merge_grib2_fields,
    )

    m1 = encode_grib2_message(np.ones((2, 2)), number=1, reference_value=0.0)
    m2 = encode_grib2_message(np.ones((2, 2)), number=2, reference_value=0.0)
    merged = merge_grib2_fields([m1, m2])

    def sections(m):
        out, pos = [], 16
        while pos < len(m) - 4:
            ln, num = struct.unpack_from(">IB", m, pos)
            out.append((num, m[pos : pos + ln]))
            pos += ln
        return out

    secs = sections(merged)
    # drop the second field's section 5 -> 4 then 6 is out of order
    broken = [b for num, b in secs if not (num == 5 and b != secs[1][1])]
    msg = merged[:16] + b"".join(broken) + b"7777"
    msg = msg[:8] + struct.pack(">Q", len(msg)) + msg[16:]
    with pytest.raises(ValueError, match="out of order"):
        list(_iter_field_sections(msg))
    # truncate after the second field's section 5
    idx = [i for i, (num, _) in enumerate(secs) if num == 4][1]
    msg = merged[:16] + b"".join(b for _, b in secs[: idx + 2]) + b"7777"
    msg = msg[:8] + struct.pack(">Q", len(msg)) + msg[16:]
    with pytest.raises(ValueError, match="truncated field"):
        list(_iter_field_sections(msg))
    # merge validation: differing section 1 rejects
    other = encode_grib2_message(
        np.ones((2, 2)), reftime=(2021, 1, 1, 0, 0), reference_value=0.0
    )
    with pytest.raises(ValueError, match="section 1"):
        merge_grib2_fields([m1, other])


def test_multifield_bitmap_reuse_indicator_254():
    """Bitmap indicator 254 — "a previously defined bitmap applies" —
    resolves to the defining field's section 6 (the persisting-context
    treatment); 254 with no prior bitmap rejects loudly."""
    import struct

    from monitoring_data_ingestion_spark.grid.grib2 import (
        decode_grib2_fields,
        merge_grib2_fields,
    )

    v = 100.0 + 2 * np.arange(12, dtype=np.float64).reshape(3, 4)
    bm = (np.add.outer(np.arange(3), np.arange(4)) % 3) != 0
    m1 = encode_grib2_message(
        v, number=1, bitmap=bm, nbits=8, reference_value=100.0
    )
    m2 = encode_grib2_message(
        v + 2, number=2, bitmap=bm, nbits=8, reference_value=100.0
    )
    merged = bytearray(merge_grib2_fields([m1, m2]))

    # rewrite the SECOND field's section 6 to the 6-byte indicator-254
    # form (and fix the section-0 total length)
    pos, seen6 = 16, 0
    while pos < len(merged) - 4:
        ln, num = struct.unpack_from(">IB", merged, pos)
        if num == 6:
            seen6 += 1
            if seen6 == 2:
                merged[pos : pos + ln] = struct.pack(">IBB", 6, 6, 254)
                break
        pos += ln
    out = bytes(merged[:8]) + struct.pack(">Q", len(merged)) + bytes(merged[16:])

    r1, r2 = decode_grib2_fields(out)
    assert np.isnan(r1.values[~bm]).all() and np.isnan(r2.values[~bm]).all()
    np.testing.assert_array_equal(r2.values[bm], (v + 2)[bm])

    # 254 on the FIRST field (nothing defined yet) rejects
    first = bytearray(m1)
    pos = 16
    while pos < len(first) - 4:
        ln, num = struct.unpack_from(">IB", first, pos)
        if num == 6:
            first[pos + 5] = 254
            break
        pos += ln
    with pytest.raises(ValueError, match="previously defined"):
        decode_grib2_fields(bytes(first))


def test_multifield_review_guards():
    """r9 review pass: zero-field messages, repeated section 1, and
    bitmap-254 reuse ACROSS a grid change all stop loudly."""
    import struct

    from monitoring_data_ingestion_spark.grid.grib2 import (
        _iter_field_sections,
        decode_grib2_fields,
        merge_grib2_fields,
    )

    m1 = encode_grib2_message(np.ones((2, 2)), number=1, reference_value=0.0)

    def sections(m):
        out, pos = [], 16
        while pos < len(m) - 4:
            ln, num = struct.unpack_from(">IB", m, pos)
            out.append((num, m[pos : pos + ln]))
            pos += ln
        return out

    secs = dict(sections(m1))
    # sections 0,1,3 then terminator: no field at all
    body = secs[1] + secs[3]
    msg = m1[:16] + body + b"7777"
    msg = msg[:8] + struct.pack(">Q", len(msg)) + msg[16:]
    with pytest.raises(ValueError, match="no fields"):
        list(_iter_field_sections(msg))
    # repeated section 1 between field runs
    body = secs[1] + secs[3] + secs[4] + secs[5] + secs[6] + secs[7] \
        + secs[1] + secs[3] + secs[4] + secs[5] + secs[6] + secs[7]
    msg = m1[:16] + body + b"7777"
    msg = msg[:8] + struct.pack(">Q", len(msg)) + msg[16:]
    with pytest.raises(ValueError, match="repeated section 1"):
        list(_iter_field_sections(msg))

    # 254 after a grid change: the defining bitmap no longer applies
    v = 100.0 + np.arange(24, dtype=np.float64).reshape(4, 6)
    bm = (np.add.outer(np.arange(4), np.arange(6)) % 3) != 0
    big = encode_grib2_message(v, number=1, bitmap=bm, nbits=8,
                               reference_value=100.0)
    small = encode_grib2_message(
        np.ones((2, 3)), number=2, reference_value=0.0,
        lat_first_udeg=60_000_000, dlat_udeg=2_000_000,
    )
    merged = bytearray(merge_grib2_fields([big, small]))
    pos, seen6 = 16, 0
    while pos < len(merged) - 4:
        ln, num = struct.unpack_from(">IB", merged, pos)
        if num == 6:
            seen6 += 1
            if seen6 == 2:
                merged[pos : pos + ln] = struct.pack(">IBB", 6, 6, 254)
                break
        pos += ln
    out = bytes(merged[:8]) + struct.pack(">Q", len(merged)) + bytes(merged[16:])
    with pytest.raises(ValueError, match="previously defined"):
        decode_grib2_fields(out)


def test_ensemble_pdts_roundtrip_and_truncation():
    """PDT 4.1 (individual ensemble member) and 4.11 (member +
    statistical interval) round-trip; 4.11's statistical block is
    offset three octets past 4.8's; truncated templates reject."""
    import struct

    v = 100.0 + 2 * np.arange(12, dtype=np.float64).reshape(3, 4)
    m = encode_grib2_message(
        v, reference_value=100.0, binary_scale=1,
        ensemble=dict(type=3, member=2, size=10),
    )
    r = decode_grib2(m)
    assert (r.ensemble_type, r.ensemble_member, r.ensemble_size) == (3, 2, 10)
    assert r.statistical_process is None and r.interval_end is None
    m11 = encode_grib2_message(
        v, reference_value=100.0, binary_scale=1,
        ensemble=dict(type=0, member=0, size=10),
        statistical=dict(
            process=1, interval_end=(2020, 2, 1, 6, 30), range_hours=24
        ),
    )
    r = decode_grib2(m11)
    assert (r.ensemble_member, r.ensemble_size) == (0, 10)
    assert r.statistical_process == 1
    assert r.interval_end == (2020, 2, 1, 6, 30)
    # truncate section 4 after the ensemble octets: 4.11 needs its
    # statistical block
    b = bytearray(m11)
    pos = 16
    while pos < len(b) - 4:
        ln, num = struct.unpack_from(">IB", b, pos)
        if num == 4:
            cut = 37  # keep only through the ensemble octets
            rest = b[pos + ln :]
            b = b[: pos + cut] + rest
            struct.pack_into(">I", b, pos, cut)
            break
        pos += ln
    b = b[:8] + struct.pack(">Q", len(b)) + b[16:]
    with pytest.raises(ValueError, match="truncated product definition"):
        decode_grib2(bytes(b))


def test_ensemble_columns_land_filterable(spark, tmp_path):
    """ensemble_member/ensemble_size land as columns (NULL on
    deterministic products) — control-vs-perturbed is a plain filter."""
    import os

    from monitoring_data_ingestion_spark.grid.grib2 import merge_grib2_fields
    from monitoring_data_ingestion_spark.sources.grib_source import (
        grib1_records,
    )

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    v = np.ones((2, 3))
    msgs = [
        encode_grib2_message(
            v, number=1, reference_value=0.0,
            ensemble=dict(type=3, member=m, size=2),
        )
        for m in range(2)
    ]
    det = encode_grib2_message(v, number=2, reference_value=0.0)
    with open(os.path.join(landing, "f.grib"), "wb") as fh:
        fh.write(merge_grib2_fields(msgs) + det)
    recs = grib1_records(spark, landing)
    rows = {r["record_number"]: r for r in recs.collect()}
    assert [rows[n]["ensemble_member"] for n in (1, 2, 3)] == [0, 1, None]
    assert rows[1]["ensemble_size"] == 2
    import pyspark.sql.functions as SF

    perturbed = recs.filter(SF.col("ensemble_member") == 1)
    assert [r["record_number"] for r in perturbed.collect()] == [2]


def test_encode_pdt_octet_overflow_rejected():
    """ADVICE r9: 1-octet PDT fields (ensemble type/member/size,
    statistical process) validate 0-254 at encode — masking with
    ``& 0xFF`` would silently encode member 256 as member 0."""
    v = np.ones((2, 3))
    for bad in (dict(type=3, member=256, size=3),
                dict(type=3, member=0, size=255),
                dict(type=-1, member=0, size=3)):
        with pytest.raises(ValueError, match="out of range 0-254"):
            encode_grib2_message(v, ensemble=bad)
    with pytest.raises(ValueError, match="statistical process"):
        encode_grib2_message(
            v,
            statistical=dict(
                process=300, interval_end=(2020, 1, 2, 0, 0), range_hours=24
            ),
        )
    # boundary 254 is legal (255 is the missing sentinel)
    rec = decode_grib2(
        encode_grib2_message(v, ensemble=dict(type=0, member=254, size=254))
    )
    assert (rec.ensemble_member, rec.ensemble_size) == (254, 254)


def test_short_section6_rejected_uniformly():
    """A crafted 5-byte section 6 (legal for _sections, which only
    requires length >= 5) must raise a diagnostic ValueError on BOTH
    decode paths, not an IndexError."""
    import struct

    from monitoring_data_ingestion_spark.grid.grib2 import decode_grib2_fields

    msg = bytearray(encode_grib2_message(np.ones((2, 3))))
    # find section 6 and shrink it to its bare 5-byte header
    pos = 16
    while pos < len(msg) - 4:
        ln, num = struct.unpack_from(">IB", msg, pos)
        if num == 6:
            crafted = (
                bytes(msg[:pos])
                + struct.pack(">IB", 5, 6)
                + bytes(msg[pos + ln:])
            )
            crafted = bytearray(crafted)
            struct.pack_into(">Q", crafted, 8, len(crafted))
            crafted = bytes(crafted)
            break
        pos += ln
    with pytest.raises(ValueError, match="section 6"):
        decode_grib2(crafted)
    with pytest.raises(ValueError, match="section 6"):
        decode_grib2_fields(crafted)


def test_merge_rejects_input_missing_sections():
    """A truncated input (no 4-7 run) fails the merge with a ValueError
    naming the missing sections, not an opaque KeyError."""
    import struct

    from monitoring_data_ingestion_spark.grid.grib2 import merge_grib2_fields

    full = encode_grib2_message(np.ones((2, 3)))
    # rebuild the message keeping only sections 1 and 3
    parts, pos = [full[:16]], 16
    while pos < len(full) - 4:
        ln, num = struct.unpack_from(">IB", full, pos)
        if num in (1, 3):
            parts.append(full[pos:pos + ln])
        pos += ln
    body = b"".join(parts[1:])
    trunc = bytearray(parts[0] + body + b"7777")
    struct.pack_into(">Q", trunc, 8, len(trunc))
    with pytest.raises(ValueError, match=r"missing section\(s\) \[4, 5, 6, 7\]"):
        merge_grib2_fields([bytes(trunc), full])


def test_inventory_and_match_go_per_field_on_submessages():
    """ADVICE r9: wgrib2 inventories submessages (N.M numbering), so the
    codec-level helpers must see every FIELD of a multi-field message —
    one line per field, and -match selecting on any field's line."""
    from monitoring_data_ingestion_spark.grid.grib2 import (
        inventory_lines,
        merge_grib2_fields,
    )

    v = np.ones((2, 3))
    m1 = encode_grib2_message(v, category=1, number=7)
    m2 = encode_grib2_message(v, category=2, number=9)
    merged = merge_grib2_fields([m1, m2])
    assert inventory_lines(merged) == [
        "d0:c1,n7:l1/0:2020010100:f0",
        "d0:c2,n9:l1/0:2020010100:f0",
    ]
    # the single-line API stays strict: collapsing two fields to one
    # line would hide one from a -match regex
    with pytest.raises(ValueError, match="inventory_lines"):
        inventory_line(merged)
    solo = encode_grib2_message(v, category=3, number=4)
    buf = merged + solo
    # a regex hitting only the SECOND field of the merged message still
    # selects that message; limit counts messages
    assert match_records(buf, r"c2,n9") == [merged]
    assert match_records(buf, r"c3,n4") == [solo]
    assert match_records(buf, r"^d0:", limit=1) == [merged]


def test_derived_ensemble_pdts_roundtrip_and_guards():
    """PDT 4.2 (derived forecast from all ensemble members — the mean /
    spread products ECMWF ENS and GEFS publish) and 4.12 (derived +
    statistical interval): the two derived octets decode, and the 4.12
    statistical block sits at +2 past 4.8's offset — reusing 4.8's
    offsets would decode a garbage interval end."""
    v = np.arange(12, dtype=np.float64).reshape(3, 4)
    r = decode_grib2(encode_grib2_message(v, derived=dict(type=4, size=20)))
    assert (r.derived_forecast, r.ensemble_size) == (4, 20)
    assert r.ensemble_member is None and r.statistical_process is None
    np.testing.assert_array_equal(r.values, v)
    r = decode_grib2(
        encode_grib2_message(
            v,
            derived=dict(type=0, size=50),
            statistical=dict(
                process=2, interval_end=(2021, 6, 2, 12, 0), range_hours=24
            ),
        )
    )
    assert (r.derived_forecast, r.ensemble_size) == (0, 50)
    assert r.statistical_process == 2 and r.time_range_count == 1
    assert r.interval_end == (2021, 6, 2, 12, 0)
    # at most one PDT family
    with pytest.raises(ValueError, match="at most one"):
        encode_grib2_message(
            v,
            derived=dict(type=0, size=3),
            ensemble=dict(type=0, member=0, size=3),
        )
    # truncated 4.2: chop the section-4 tail below 36 octets
    import struct

    msg = encode_grib2_message(v, derived=dict(type=1, size=9))
    pos = 16
    while pos < len(msg) - 4:
        ln, num = struct.unpack_from(">IB", msg, pos)
        if num == 4:
            cut = bytearray(
                msg[:pos]
                + struct.pack(">IB", 35, 4)
                + msg[pos + 5 : pos + 35]
                + msg[pos + ln :]
            )
            struct.pack_into(">Q", cut, 8, len(cut))
            break
        pos += ln
    with pytest.raises(ValueError, match="truncated product definition"):
        decode_grib2(bytes(cut))


def test_error_pdt_and_product_template_surface():
    """PDT 4.7 (analysis/forecast ERROR): its octet layout is IDENTICAL
    to 4.0's, so the record's ``product_template`` field is the ONLY
    thing distinguishing an error field from the analysis itself — a
    decoder without it silently mislabels every error field.  The
    field carries the template number for the whole supported family,
    and 4.7 rejects the statistical combination loudly (there is no
    4.7-statistical sibling in the 4.x numbering)."""
    v = np.arange(12, dtype=np.float64).reshape(3, 4)
    r7 = decode_grib2(encode_grib2_message(v, error=True))
    assert r7.product_template == 7
    assert r7.statistical_process is None and r7.ensemble_member is None
    np.testing.assert_array_equal(r7.values, v)
    # the whole family surfaces its template number
    cases = [
        (dict(), 0),
        (dict(ensemble=dict(type=3, member=1, size=4)), 1),
        (dict(derived=dict(type=0, size=4)), 2),
        (
            dict(
                cluster=dict(
                    type=0, size=4, identifier=1, total=2, method=0,
                    members=[0], center=(1, 2, 3),
                )
            ),
            4,
        ),
        (dict(percentile=90), 6),
        (
            dict(
                statistical=dict(
                    process=1, interval_end=(2021, 2, 1, 6, 0),
                    range_hours=6,
                )
            ),
            8,
        ),
    ]
    for kw, want in cases:
        assert decode_grib2(
            encode_grib2_message(v, **kw)
        ).product_template == want, kw
    with pytest.raises(ValueError, match="does not combine"):
        encode_grib2_message(
            v,
            error=True,
            statistical=dict(
                process=1, interval_end=(2021, 2, 1, 6, 0), range_hours=6
            ),
        )
    with pytest.raises(ValueError, match="at most one"):
        encode_grib2_message(v, error=True, percentile=50)


def test_cluster_pdts_roundtrip_and_guards():
    """PDT 4.3 / 4.4 (derived forecasts from a CLUSTER of ensemble
    members over rectangular / circular domains — the EPS cluster
    products) and their 4.13 / 4.14 statistical siblings: the
    4.2-shaped derived octets, the cluster block (identifier / total /
    method / NC / member numbers), the in-cluster standard deviation
    and ensemble-mean distance, and the variable-offset statistical
    block decode; mis-shaped cluster specs, an absent NC and
    truncated member lists stop loudly."""
    import struct

    v = np.arange(12, dtype=np.float64).reshape(3, 4)
    r = decode_grib2(
        encode_grib2_message(
            v,
            cluster=dict(
                type=1, size=51, identifier=2, hires=1, lores=3,
                total=6, method=1, members=[3, 7, 11],
                stddev=(2, 125), distance=(1, 37),
                bounds=(60_000_000, 30_000_000, 40_000_000, -10_000_000),
            ),
        )
    )
    assert (r.derived_forecast, r.ensemble_size) == (1, 51)
    assert (r.cluster_identifier, r.cluster_total, r.cluster_method) == (
        2, 6, 1,
    )
    assert r.cluster_size == 3 and r.cluster_members == (3, 7, 11)
    assert r.cluster_stddev == 1.25 and r.cluster_mean_distance == 3.7
    assert r.ensemble_member is None and r.percentile_value is None
    np.testing.assert_array_equal(r.values, v)
    # 4.4 circular form: NC rides 4 octets earlier; missing std/dist
    r4 = decode_grib2(
        encode_grib2_message(
            v,
            cluster=dict(
                type=0, size=20, identifier=5, total=4, method=0,
                members=[1, 2], center=(45_000_000, 10_000_000, 500_000),
            ),
        )
    )
    assert (r4.cluster_identifier, r4.cluster_total, r4.cluster_size) == (
        5, 4, 2,
    )
    assert r4.cluster_members == (1, 2)
    assert r4.cluster_stddev is None and r4.cluster_mean_distance is None
    # non-cluster products keep every cluster column NULL
    r0 = decode_grib2(encode_grib2_message(v, derived=dict(type=0, size=3)))
    assert r0.cluster_identifier is None and r0.cluster_members is None
    # guards: bounds XOR center; no statistical sibling (4.13/4.14);
    # at most one PDT family; member count bounds
    base = dict(type=0, size=3, identifier=1, total=2, method=0, members=[0])
    with pytest.raises(ValueError, match="exactly one of bounds"):
        encode_grib2_message(v, cluster=dict(base))
    with pytest.raises(ValueError, match="exactly one of bounds"):
        encode_grib2_message(
            v,
            cluster=dict(base, bounds=(0, 0, 0, 0), center=(0, 0, 0)),
        )
    # 4.13/4.14 (cluster + statistical interval): the statistical
    # block follows the VARIABLE-length member list — the only
    # 4.x family whose statistical base depends on a count field, so
    # a parser reusing any fixed offset would decode a garbage
    # interval end.  Both domain forms round-trip with the cluster
    # AND statistical columns intact.
    for geom, want_tmpl in (
        (dict(bounds=(1, 2, 3, 4)), 13),
        (dict(center=(1, 2, 3)), 14),
    ):
        r13 = decode_grib2(
            encode_grib2_message(
                v,
                cluster=dict(
                    type=2, size=30, identifier=4, total=5, method=1,
                    members=[2, 9, 14], **geom,
                ),
                statistical=dict(
                    process=1, interval_end=(2021, 3, 2, 12, 0),
                    range_hours=24,
                ),
            )
        )
        assert (r13.cluster_identifier, r13.cluster_size) == (4, 3)
        assert r13.cluster_members == (2, 9, 14)
        assert r13.statistical_process == 1 and r13.time_range_count == 1
        assert r13.interval_end == (2021, 3, 2, 12, 0)
        np.testing.assert_array_equal(r13.values, v)
    with pytest.raises(ValueError, match="at most one"):
        encode_grib2_message(
            v,
            cluster=dict(base, bounds=(0, 0, 0, 0)),
            derived=dict(type=0, size=3),
        )
    with pytest.raises(ValueError, match="member count"):
        encode_grib2_message(
            v, cluster=dict(base, members=[], bounds=(0, 0, 0, 0))
        )
    # NC octet zeroed → "no forecasts in the cluster"; truncated member
    # list → loud length stop (never a mis-sliced garbage decode)
    msg = encode_grib2_message(
        v,
        cluster=dict(
            type=0, size=9, identifier=1, total=2, method=0,
            members=[4, 6], bounds=(1, 2, 3, 4),
        ),
    )
    pos = 16
    while pos < len(msg) - 4:
        ln, num = struct.unpack_from(">IB", msg, pos)
        if num == 4:
            break
        pos += ln
    zeroed = bytearray(msg)
    zeroed[pos + 57] = 0  # NC (template 4.3 octet 58)
    with pytest.raises(ValueError, match="no forecasts in the cluster"):
        decode_grib2(bytes(zeroed))
    cut = bytearray(
        msg[:pos]
        + struct.pack(">IB", 69, 4)  # keep 1 of the 2 member octets
        + msg[pos + 5 : pos + 69]
        + msg[pos + ln :]
    )
    struct.pack_into(">Q", cut, 8, len(cut))
    with pytest.raises(ValueError, match="2 cluster members"):
        decode_grib2(bytes(cut))


@given(
    tmpl=st.sampled_from(["bounds", "center"]),
    statistical=st.booleans(),
    nc=st.integers(1, 254),
    ident=st.integers(0, 254),
    total=st.integers(0, 254),
    method=st.integers(0, 254),
    sd=st.one_of(
        st.none(),
        st.tuples(st.integers(-5, 5), st.integers(0, 10**6)),
    ),
    dist=st.one_of(
        st.none(),
        st.tuples(st.integers(-5, 5), st.integers(0, 10**6)),
    ),
    geom=st.tuples(
        st.integers(-(10**8), 10**8),
        st.integers(-(10**8), 10**8),
        st.integers(-(10**8), 10**8),
        st.integers(-(10**8), 10**8),
    ),
)
@settings(max_examples=40, deadline=None)
def test_cluster_family_roundtrip_property(
    tmpl, statistical, nc, ident, total, method, sd, dist, geom
):
    """PROPERTY: every well-formed cluster spec round-trips through the
    byte layout — all four templates (4.3/4.4/4.13/4.14), any member
    count 1-254, any signed scale factors on the deviation/distance
    pairs, any domain geometry — and the 4.13/4.14 statistical block
    lands at the right variable offset for EVERY NC (an off-by-one in
    the offset walk corrupts the interval end for some member count)."""
    v = np.arange(6, dtype=np.float64).reshape(2, 3)
    members = [(7 * k + 3) % 255 for k in range(nc)]  # 0..254 each
    cluster = dict(
        type=2, size=200, identifier=ident, total=total, method=method,
        members=members, stddev=sd, distance=dist,
    )
    if tmpl == "bounds":
        cluster["bounds"] = geom
        want = 13 if statistical else 3
    else:
        cluster["center"] = geom[:3]
        want = 14 if statistical else 4
    kw = {}
    if statistical:
        kw["statistical"] = dict(
            process=2, interval_end=(2022, 5, 4, 18, 0), range_hours=48
        )
    r = decode_grib2(encode_grib2_message(v, cluster=cluster, **kw))
    assert r.product_template == want
    # the strategy stays below the 0xFF missing sentinel, so every
    # header octet round-trips verbatim
    assert (r.cluster_identifier, r.cluster_total, r.cluster_method) == (
        ident, total, method,
    )
    assert r.cluster_size == nc
    assert r.cluster_members == tuple(members)
    for got, spec in ((r.cluster_stddev, sd), (r.cluster_mean_distance, dist)):
        if spec is None:
            assert got is None
        else:
            assert got == spec[1] / 10.0 ** spec[0]
    if statistical:
        assert r.statistical_process == 2
        assert r.interval_end == (2022, 5, 4, 18, 0)
    else:
        assert r.statistical_process is None and r.interval_end is None
    np.testing.assert_array_equal(r.values, v)


def test_probability_pdts_threshold_decode():
    """PDT 4.5/4.9 (probability forecasts): threshold limits decode
    through the signed-magnitude (scale factor, scaled value) pairs —
    including negative scales, negative values, and the coded-missing
    side a one-sided probability type leaves unbounded."""
    v = np.ones((2, 3))
    # P(T > 273.15): lower = 27315 / 10^2, upper missing
    r = decode_grib2(
        encode_grib2_message(
            v, probability=dict(number=2, total=10, type=3, lower=(2, 27315))
        )
    )
    assert (r.probability_number, r.probability_total) == (2, 10)
    assert r.probability_type == 3
    assert r.prob_lower_limit == pytest.approx(273.15)
    assert r.prob_upper_limit is None
    # negative scale (-1) scales UP; negative scaled value via sign bit
    r = decode_grib2(
        encode_grib2_message(
            v, probability=dict(number=0, total=5, type=0, upper=(-1, -5))
        )
    )
    assert r.prob_lower_limit is None
    assert r.prob_upper_limit == pytest.approx(-50.0)
    # 4.9: both bounds + the statistical block at +13 past 4.8's base
    r = decode_grib2(
        encode_grib2_message(
            v,
            probability=dict(
                number=1, total=3, type=2, lower=(0, -10), upper=(1, 255)
            ),
            statistical=dict(
                process=1, interval_end=(2020, 2, 1, 0, 0), range_hours=6
            ),
        )
    )
    assert r.prob_lower_limit == pytest.approx(-10.0)
    assert r.prob_upper_limit == pytest.approx(25.5)
    assert r.statistical_process == 1
    assert r.interval_end == (2020, 2, 1, 0, 0)
    # scale -127 would collide with the 0xFF missing sentinel
    with pytest.raises(ValueError, match="scale factor"):
        encode_grib2_message(
            v, probability=dict(number=0, total=1, type=3, lower=(-127, 1))
        )


def test_statistical_time_range_count_contract():
    """4.8-family sections carry n = number of time-range specs; a
    compound statistic ("average of daily maxima", n = 2) lands with
    time_range_count = 2 and the OUTER process as statistical_process,
    so it can't masquerade as a plain average; n = 0 is spec-invalid."""
    import struct

    v = np.ones((2, 2))
    r = decode_grib2(
        encode_grib2_message(
            v,
            statistical=dict(
                process=0,
                interval_end=(2020, 1, 2, 0, 0),
                range_hours=24,
                inner_specs=[dict(process=2, range_hours=1)],
            ),
        )
    )
    assert (r.statistical_process, r.time_range_count) == (0, 2)
    plain = encode_grib2_message(
        v,
        statistical=dict(
            process=0, interval_end=(2020, 1, 2, 0, 0), range_hours=24
        ),
    )
    assert decode_grib2(plain).time_range_count == 1

    def patch_n(msg: bytes, n: int, chop_to: int | None = None) -> bytes:
        pos = 16
        while pos < len(msg) - 4:
            ln, num = struct.unpack_from(">IB", msg, pos)
            if num == 4:
                out = bytearray(msg)
                out[pos + 34 + 7] = n  # octet 42: number of specs
                if chop_to is not None:
                    out = bytearray(
                        msg[:pos]
                        + bytes(out[pos : pos + chop_to])
                        + msg[pos + ln :]
                    )
                    struct.pack_into(">I", out, pos, chop_to)
                    out[pos + 34 + 7] = n
                    struct.pack_into(">Q", out, 8, len(out))
                return bytes(out)
            pos += ln
        raise AssertionError("no section 4")

    with pytest.raises(ValueError, match="no time-range specifications"):
        decode_grib2(patch_n(plain, 0))
    # n = 3 declared but only one 12-octet spec present -> truncated
    with pytest.raises(ValueError, match="3 time-range specifications"):
        decode_grib2(patch_n(plain, 3))


def test_derived_and_probability_columns_land(spark, tmp_path):
    """The landing schema's derived_forecast / probability_type /
    prob_*_limit / time_range_count columns make ensemble-mean vs
    member vs P(>thr) a plain column filter on landed archives."""
    import os

    from monitoring_data_ingestion_spark.grid.grib2 import merge_grib2_fields
    from monitoring_data_ingestion_spark.sources.grib_source import (
        grib1_records,
    )

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    v = np.ones((2, 3))
    mean = encode_grib2_message(v, number=1, derived=dict(type=0, size=30))
    spread = encode_grib2_message(
        v, number=1, derived=dict(type=4, size=30),
        statistical=dict(
            process=0, interval_end=(2020, 1, 2, 0, 0), range_hours=24,
            inner_specs=[dict(process=3, range_hours=1)],
        ),
    )
    prob = encode_grib2_message(
        v, number=8,
        probability=dict(number=0, total=1, type=3, lower=(2, 27315)),
    )
    with open(os.path.join(landing, "f.grib"), "wb") as fh:
        fh.write(merge_grib2_fields([mean, spread]) + prob)
    rows = {
        r["record_number"]: r
        for r in grib1_records(spark, landing).collect()
    }
    assert rows[1]["derived_forecast"] == 0
    assert rows[1]["probability_type"] is None
    assert rows[1]["time_range_count"] is None
    assert rows[2]["derived_forecast"] == 4
    assert rows[2]["ensemble_size"] == 30
    assert rows[2]["statistical_process"] == 0
    assert rows[2]["time_range_count"] == 2
    assert rows[3]["probability_type"] == 3
    assert rows[3]["prob_lower_limit"] == pytest.approx(273.15)
    assert rows[3]["prob_upper_limit"] is None
    assert rows[3]["derived_forecast"] is None


def test_percentile_pdts_roundtrip_and_guards():
    """PDT 4.6 (percentile forecast) and 4.10 (percentile +
    statistical interval): the single percentile octet decodes, the
    4.10 statistical block sits at +1 past 4.8's offset, and a
    percentile outside 0-100 stops loudly on BOTH encode and decode
    (the wire octet holds 0-255; larger is corruption, not a bigger
    percentile)."""
    import struct

    v = np.arange(6, dtype=np.float64).reshape(2, 3)
    r = decode_grib2(encode_grib2_message(v, percentile=90))
    assert r.percentile_value == 90
    assert r.statistical_process is None and r.time_range_count is None
    np.testing.assert_array_equal(r.values, v)
    r = decode_grib2(
        encode_grib2_message(
            v, percentile=0,
            statistical=dict(
                process=0, interval_end=(2020, 3, 1, 0, 0), range_hours=24
            ),
        )
    )
    assert (r.percentile_value, r.statistical_process) == (0, 0)
    assert r.interval_end == (2020, 3, 1, 0, 0)
    with pytest.raises(ValueError, match="percentile value"):
        encode_grib2_message(v, percentile=101)
    with pytest.raises(ValueError, match="at most one"):
        encode_grib2_message(v, percentile=50, derived=dict(type=0, size=3))
    # a crafted octet > 100 rejects on decode too
    msg = bytearray(encode_grib2_message(v, percentile=50))
    pos = 16
    while pos < len(msg) - 4:
        ln, num = struct.unpack_from(">IB", msg, pos)
        if num == 4:
            msg[pos + 34] = 200
            break
        pos += ln
    with pytest.raises(ValueError, match="percentile value 200"):
        decode_grib2(bytes(msg))


def test_review_guards_sentinel_value_and_merge_missing_s1():
    """r10 review pass: (a) a threshold scaled value of -(2^31-1) is the
    all-ones sign-magnitude word — encoding it would silently round-trip
    as coded-missing, so it must raise like the scale -127 collision;
    (b) merge_grib2_fields diagnoses a missing section 1, not KeyError."""
    import struct

    from monitoring_data_ingestion_spark.grid.grib2 import merge_grib2_fields

    v = np.ones((2, 3))
    with pytest.raises(ValueError, match="coded-missing sentinel"):
        encode_grib2_message(
            v,
            probability=dict(number=0, total=1, type=3, lower=(0, -(2**31 - 1))),
        )
    # the adjacent representable values still work
    r = decode_grib2(
        encode_grib2_message(
            v,
            probability=dict(number=0, total=1, type=3, lower=(0, -(2**31 - 2))),
        )
    )
    assert r.prob_lower_limit == pytest.approx(float(-(2**31 - 2)))

    full = encode_grib2_message(v)
    parts, pos = [full[:16]], 16
    while pos < len(full) - 4:
        ln, num = struct.unpack_from(">IB", full, pos)
        if num != 1:  # drop ONLY section 1
            parts.append(full[pos:pos + ln])
        pos += ln
    no_s1 = bytearray(b"".join(parts) + b"7777")
    struct.pack_into(">Q", no_s1, 8, len(no_s1))
    with pytest.raises(ValueError, match=r"missing section\(s\) \[1\]"):
        merge_grib2_fields([bytes(no_s1)])


def test_forecast_lead_time_decode_contract():
    """Octets 18-22 (code-table-4.4 unit + lead value) convert to whole
    hours across the fixed-duration units; sub-hour and calendar-unit
    leads stop loudly instead of rounding; the lead composes with every
    PDT family without shifting the later octets."""
    v = np.ones((2, 3))
    assert decode_grib2(encode_grib2_message(v)).forecast_hours == 0
    cases = [
        (dict(unit=1, value=18), 18),
        (dict(unit=2, value=4), 96),
        (dict(unit=10, value=3), 9),
        (dict(unit=11, value=2), 12),
        (dict(unit=12, value=5), 60),
        (dict(unit=0, value=120), 2),
        (dict(unit=13, value=7200), 2),
    ]
    for fc, hours in cases:
        assert decode_grib2(
            encode_grib2_message(v, forecast=fc)
        ).forecast_hours == hours
    with pytest.raises(ValueError, match="forecast time unit 3"):
        encode_grib2_message(v, forecast=dict(unit=3, value=1))
    with pytest.raises(ValueError, match="not a whole number of hours"):
        encode_grib2_message(v, forecast=dict(unit=0, value=90))
    # composes with ensemble + statistical (lead octets precede the
    # family extras, so nothing shifts)
    r = decode_grib2(
        encode_grib2_message(
            v,
            forecast=dict(unit=1, value=240),
            ensemble=dict(type=3, member=7, size=31),
            statistical=dict(
                process=0, interval_end=(2020, 1, 11, 0, 0), range_hours=6
            ),
        )
    )
    assert r.forecast_hours == 240
    assert (r.ensemble_member, r.statistical_process) == (7, 0)
    assert r.interval_end == (2020, 1, 11, 0, 0)


def test_second_fixed_surface_layer_products():
    """Octets 29-34 (second fixed surface) make a LAYER product: both
    surfaces decode with independent types/scales, point levels keep
    the coded-missing None contract, and out-of-range encode inputs
    stop loudly."""
    v = np.ones((2, 3))
    r = decode_grib2(encode_grib2_message(v))
    assert (r.level2_type, r.level2_scale, r.level2_value) == (None, None, None)
    # 0-2 m soil layer (type 106 both surfaces)
    r = decode_grib2(
        encode_grib2_message(
            v,
            level_type=106, level_scale=0, level_value=0,
            level2=dict(type=106, value=2),
        )
    )
    assert (r.level_type, r.level_value) == (106, 0)
    assert (r.level2_type, r.level2_scale, r.level2_value) == (106, 0, 2)
    # negative signed-magnitude scale on the SECOND surface only
    r = decode_grib2(
        encode_grib2_message(
            v,
            level_type=100, level_scale=0, level_value=85000,
            level2=dict(type=100, scale=-1, value=5),
        )
    )
    assert (r.level2_type, r.level2_scale, r.level2_value) == (100, -1, 5)
    # composes with the PDT families (the surface octets precede every
    # family's extra block)
    r = decode_grib2(
        encode_grib2_message(
            v,
            level_type=106, level_value=0, level2=dict(type=106, value=1),
            ensemble=dict(type=3, member=4, size=21),
            forecast=dict(unit=1, value=6),
        )
    )
    assert (r.level2_type, r.level2_value) == (106, 1)
    assert (r.ensemble_member, r.forecast_hours) == (4, 6)
    with pytest.raises(ValueError, match="second fixed surface type"):
        encode_grib2_message(v, level2=dict(type=255, value=1))
    with pytest.raises(ValueError, match="second-surface value"):
        encode_grib2_message(v, level2=dict(type=106, value=0xFFFFFFFF))
    with pytest.raises(ValueError, match="second-surface scale"):
        encode_grib2_message(v, level2=dict(type=106, scale=128, value=1))


def test_rotated_latlon_grid_decode_contract():
    """Grid template 3.1 (rotated lat/lon — COSMO/HIRLAM): the 3.0 body
    carries the ROTATED axes, octets 73-84 the southern pole + angle.
    Pinned: the unrotation convention (identity pole, rotated north
    pole = antipode of the coded southern pole), rotation-invariant
    angular distances under a nonzero angle, bit-exact value
    round-trip, anchor-cell coordinates, south-first normalization
    equivalence, and loud stops for truncated/degenerate poles."""
    import struct

    from monitoring_data_ingestion_spark.grid.grib2 import rotated_unrotate

    # identity convention: unrotated grid = south pole at (-90, 0)
    lat, lon = rotated_unrotate(
        np.array([12.5]), np.array([34.0]), -90.0, 0.0, 0.0
    )
    assert abs(lat[0] - 12.5) < 1e-12 and abs(lon[0] - 34.0) < 1e-12
    # the standard eccodes/COSMO anchor: rotated (0, 0) under a coded
    # southern pole of (-40, 10E) is true (50N, 10E) — pins BOTH the
    # tilt direction and the longitude origin (a sp_lon+180 convention
    # would land the antipode)
    lat, lon = rotated_unrotate(
        np.array([0.0]), np.array([0.0]), -40.0, 10.0, 0.0
    )
    assert abs(lat[0] - 50.0) < 1e-12 and abs(lon[0] - 10.0) < 1e-12
    # the rotated north pole maps to the ANTIPODE of the coded pole
    lat, lon = rotated_unrotate(
        np.array([90.0]), np.array([0.0]), -32.5, 10.0, 0.0
    )
    assert abs(lat[0] - 32.5) < 1e-12 and abs(lon[0] + 170.0) < 1e-12
    # any rotation preserves angular distances (catches matrix bugs)
    rng = np.random.default_rng(7)
    a, b = rng.uniform(-80, 80, 5), rng.uniform(-170, 170, 5)
    la, lo = rotated_unrotate(a, b, -32.5, 10.0, 23.0)

    def central(p1, l1, p2, l2):
        p1, l1, p2, l2 = np.radians([p1, l1, p2, l2])
        return np.arccos(
            np.clip(
                np.sin(p1) * np.sin(p2)
                + np.cos(p1) * np.cos(p2) * np.cos(l1 - l2),
                -1, 1,
            )
        )

    for k in range(4):
        assert abs(
            central(a[k], b[k], a[k + 1], b[k + 1])
            - central(la[k], lo[k], la[k + 1], lo[k + 1])
        ) < 1e-10
    # encode → decode: values bit-exact, template 1, anchor unrotated
    v = np.arange(20, dtype=np.float64).reshape(4, 5)
    enc = dict(
        reference_value=0.0, nbits=8,
        lat_first_udeg=10_000_000, lon_first_udeg=-5_000_000,
        dlat_udeg=500_000, dlon_udeg=500_000,
        rotated=dict(south_pole_lat=-32.5, south_pole_lon=10.0, angle=2.0),
    )
    rec = decode_grib2(encode_grib2_message(v, **enc))
    assert rec.grid_template == 1
    assert np.array_equal(rec.values, v)
    a_lat, a_lon = rotated_unrotate(
        np.array([10.0]), np.array([-5.0]), -32.5, 10.0, 2.0
    )
    assert abs(rec.cell_lats_deg[0, 0] - a_lat[0]) < 1e-12
    assert abs(rec.cell_lons_deg[0, 0] - a_lon[0]) < 1e-12
    # south-first storage normalizes to the same grid + cells
    rec2 = decode_grib2(encode_grib2_message(v, scanning_mode=0x40, **enc))
    assert np.array_equal(rec2.values, v)
    assert np.allclose(rec2.cell_lats_deg, rec.cell_lats_deg, atol=1e-12)
    # loud stops: truncated template, degenerate pole (both directions)
    msg = bytearray(encode_grib2_message(v, **enc))
    with pytest.raises(ValueError, match="southern pole latitude"):
        encode_grib2_message(
            v, rotated=dict(south_pole_lat=-91.0, south_pole_lon=0.0)
        )
    # find section 3 and truncate the pole octets
    pos = 16
    while bytearray(msg)[pos + 4] != 3:
        pos += int.from_bytes(msg[pos : pos + 4], "big")
    s3_len = int.from_bytes(msg[pos : pos + 4], "big")
    cut = bytearray(msg[: pos + s3_len - 8] + msg[pos + s3_len :])
    struct.pack_into(">I", cut, pos, s3_len - 8)
    struct.pack_into(">Q", cut, 8, len(cut))
    with pytest.raises(ValueError, match="truncated grid definition"):
        decode_grib2(bytes(cut))


def _spectrum(truncation: int, seed: int) -> np.ndarray:
    """A random integer-valued triangular spectrum (exact under simple
    packing with E=D=0) with real m=0 coefficients, mode-1 order."""
    npairs = (truncation + 1) * (truncation + 2) // 2
    rng = np.random.default_rng(seed)
    c = (
        rng.integers(-50, 50, npairs).astype(np.float64)
        + 1j * rng.integers(-50, 50, npairs).astype(np.float64)
    )
    c[: truncation + 1] = c[: truncation + 1].real
    return c


def test_spectral_legendre_matches_derivative_formulation():
    """The codec's recurrence-based fully-normalized associated
    Legendre functions agree with the INDEPENDENT derivative
    definition P_n^m = (1-mu^2)^(m/2) d^m P_n / d mu^m with explicit
    factorial normalization (numpy.polynomial.legendre supplies P_n
    and the derivative) — the second formulation the query oracle also
    uses.  Also pins the normalization contract itself: the
    Gauss-Legendre quadrature of P-bar squared is exactly 2."""
    import math

    from numpy.polynomial import legendre as L

    from monitoring_data_ingestion_spark.grid.grib2 import spectral_legendre

    def pbar_ref(n, m, mu):
        cn = np.zeros(n + 1)
        cn[n] = 1.0
        pnm = (1 - mu**2) ** (m / 2.0) * L.legval(mu, L.legder(cn, m))
        return math.sqrt(
            (2 * n + 1) * math.factorial(n - m) / math.factorial(n + m)
        ) * pnm

    t = 9
    mu = np.linspace(-0.97, 0.97, 11)
    p = spectral_legendre(t, mu)
    for m in range(t + 1):
        for n in range(m, t + 1):
            assert np.allclose(p[m, n], pbar_ref(n, m, mu), atol=1e-12)
        # zero where n < m (the triangular hole)
        assert not p[m, :m].any()
    nodes, weights = np.polynomial.legendre.leggauss(24)
    p2 = spectral_legendre(6, nodes)
    for m in (0, 1, 3):
        gram = np.einsum("np,qp,p->nq", p2[m], p2[m], weights)
        expect = 2.0 * np.eye(7)
        expect[:m, :m] = 0.0
        assert np.allclose(gram, expect, atol=1e-12)


def test_spectral_roundtrip_and_synthesis():
    """GRIB2 spherical-harmonic data (grid template 3.50 + data
    representation 5.50): integer coefficients round-trip bit-exactly
    (the (0,0) real part rides unpacked as IEEE-32 in the template,
    everything else simple-packed), the record carries the truncation
    with NO fabricated georef, PDT metadata composes, and the
    synthesis reproduces a single harmonic's closed form AND inverts
    under Gauss-Legendre analysis (quadrature recovers the input
    coefficients — the transform pair property)."""
    from monitoring_data_ingestion_spark.grid.grib2 import (
        gaussian_latitudes,
        inventory_line,
        spectral_legendre,
        spectral_synthesis,
    )

    t = 5
    c = _spectrum(t, 7)
    msg = encode_grib2_message(
        c, spectral=dict(truncation=t), nbits=16,
        forecast=dict(unit=1, value=6), level_type=105, level_value=3,
    )
    rec = decode_grib2(msg)
    assert rec.spectral_truncation == t
    assert (rec.grid_template, rec.packing_template) == (50, 50)
    assert rec.nj == len(c) and rec.ni is None
    assert rec.cell_lats_deg is None  # no fabricated geography
    assert (rec.dlat_udeg, rec.dlon_udeg) == (0, 0)
    assert np.array_equal(rec.spectral_coeffs, c)
    assert (rec.forecast_hours, rec.level_type, rec.level_value) == (6, 105, 3)
    assert inventory_line(msg) == "d0:c0,n0:l105/3:2020010100:f6"
    # single harmonic (n=2, m=1): f = 2*Pbar21(mu)*(cos l - 0.5 sin l)
    c1 = np.zeros_like(c)
    c1[t + 2] = 1.0 + 0.5j  # m=1 block starts at t+1; n=2 is its 2nd entry
    vals, lats = spectral_synthesis(c1, t, 8, 12)
    mu = np.sin(np.radians(lats))
    pb = spectral_legendre(t, mu)[1, 2]
    lon = np.radians(np.arange(12) * 30.0)
    ref = 2.0 * (np.outer(pb, np.cos(lon)) - np.outer(0.5 * pb, np.sin(lon)))
    assert np.allclose(vals, ref, atol=1e-12)
    assert np.array_equal(lats, gaussian_latitudes(8))
    # transform pair: Gauss-Legendre analysis of the synthesized grid
    # recovers every input coefficient (needs nj > T, ni > 2T)
    nj, ni = 8, 16
    grid, lats = spectral_synthesis(c, t, nj, ni)
    mu = np.sin(np.radians(lats))
    # quadrature weights from the independent numpy.leggauss roots
    nodes, weights = np.polynomial.legendre.leggauss(nj)
    order = np.argsort(-nodes)  # north -> south like the codec
    assert np.allclose(nodes[order], mu, atol=1e-12)
    w = weights[order]
    p = spectral_legendre(t, mu)
    lon = np.radians(np.arange(ni) * 360.0 / ni)
    pos = 0
    for m in range(t + 1):
        fm = (grid * np.exp(-1j * m * lon)[None, :]).sum(axis=1) / ni
        for n in range(m, t + 1):
            got = 0.5 * (w * p[m, n] * fm).sum()
            assert abs(got - c[pos]) < 1e-9, (m, n)
            pos += 1


def test_spectral_synthesis_warns_on_nonzero_m0_imaginary():
    """A real field has Im(C_n^0) ≡ 0; the encoder validates that, but
    a PRODUCER file may carry meaningfully nonzero m=0 imaginary
    parts, which synthesis silently drops (it uses .real).  The decode
    side now warns loudly when |Im| is material against the spectrum —
    while packed-decode quantization residue (orders of magnitude
    below the 1e-6 relative gate) stays quiet, so round-trips through
    the 5.50 codec are warning-free."""
    import warnings

    from monitoring_data_ingestion_spark.grid.grib2 import (
        decode_grib2,
        encode_grib2_message,
        spectral_synthesis,
    )

    t = 4
    npairs = (t + 1) * (t + 2) // 2
    rng = np.random.default_rng(3)
    c = (
        rng.integers(-50, 50, npairs).astype(np.float64)
        + 1j * rng.integers(-50, 50, npairs).astype(np.float64)
    )
    c[: t + 1] = c[: t + 1].real
    # clean spectrum: no warning, and the packed round-trip is quiet too
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        clean, _ = spectral_synthesis(c, t, 8, 12)
        rec = decode_grib2(
            encode_grib2_message(c, spectral=dict(truncation=t), nbits=16)
        )
        spectral_synthesis(rec.spectral_coeffs, t, 8, 12)
    # corrupt one m=0 imaginary part: warned, real parts still used
    bad = c.copy()
    bad[2] += 5.0j
    with pytest.warns(RuntimeWarning, match="m=0 .* nonzero imaginary"):
        vals, _ = spectral_synthesis(bad, t, 8, 12)
    assert np.array_equal(vals, clean)


def test_every_truncation_point_raises_valueerror():
    """TORN-FILE CONTRACT, exhaustively: at 100 TB, partially-written
    or torn-tail messages are routine, and every public codec entry
    must fail them with a clean ValueError — never a raw IndexError /
    KeyError / struct.error escaping a template read (an engine-bug
    smell that puts debugging at the wrong layer), and NEVER a silent
    success (before this contract, chopping the 7777 terminator
    decoded "successfully" from whatever bytes remained).  Checked at
    EVERY byte offset of a single-field and a two-field message."""
    from monitoring_data_ingestion_spark.grid.grib2 import (
        decode_grib2,
        decode_grib2_fields,
        encode_grib2_message,
        inventory_lines,
        match_records,
        merge_grib2_fields,
    )

    v = np.arange(12, dtype=np.float64).reshape(3, 4)
    single = encode_grib2_message(v, nbits=8, reference_value=0.0)
    multi = merge_grib2_fields(
        [
            encode_grib2_message(v, nbits=8, reference_value=0.0),
            encode_grib2_message(v + 1.0, nbits=8, reference_value=0.0),
        ]
    )
    for k in range(len(single)):
        for fn in (decode_grib2, decode_grib2_fields, inventory_lines):
            with pytest.raises(ValueError):
                fn(single[:k])
    for k in range(len(multi)):
        with pytest.raises(ValueError):
            decode_grib2_fields(multi[:k])
    # match over a torn buffer: the scanner stops at the torn message
    with pytest.raises(ValueError):
        match_records(single + single[:-7], r".")
    # intact messages still decode bit-exactly after the hardening
    np.testing.assert_array_equal(decode_grib2(single).values, v)
    assert len(decode_grib2_fields(multi)) == 2
    # a length-consistent message whose indicator LIES about the total
    # is rejected, not re-framed
    import struct

    lied = bytearray(single)
    struct.pack_into(">Q", lied, 8, len(single) + 8)
    with pytest.raises(ValueError, match="length mismatch"):
        decode_grib2(bytes(lied))


def test_spectral_guards_and_pairing():
    """Loud stops: non-triangular truncations, foreign representation
    types/modes, grid-vs-packing template mismatches, bitmaps on
    spectral data, complex m=0 coefficients, raster packings, and
    truncated 5.50 templates — each would otherwise decode or encode a
    plausible-looking garbage spectrum."""
    import struct

    t = 4
    c = _spectrum(t, 3)
    with pytest.raises(ValueError, match="zero imaginary part"):
        bad = c.copy()
        bad[0] = 1 + 2j
        encode_grib2_message(bad, spectral=dict(truncation=t), nbits=16)
    with pytest.raises(ValueError, match="5.50"):
        encode_grib2_message(c, spectral=dict(truncation=t), packing="complex")
    with pytest.raises(ValueError, match="1-D complex"):
        encode_grib2_message(
            np.ones(15), spectral=dict(truncation=t), nbits=8
        )
    with pytest.raises(ValueError, match="no bitmap"):
        encode_grib2_message(
            c, spectral=dict(truncation=t), bitmap=np.ones(30, dtype=bool)
        )
    with pytest.raises(ValueError, match="exactly one grid family"):
        encode_grib2_message(c, spectral=dict(truncation=t), gaussian=True)
    msg = bytearray(encode_grib2_message(c, spectral=dict(truncation=t), nbits=16))

    def patch(b, sec, off, val, width=1):
        out = bytearray(b)
        pos = 16
        while out[pos + 4] != sec:
            pos += int.from_bytes(out[pos : pos + 4], "big")
        out[pos + off : pos + off + width] = int(val).to_bytes(width, "big")
        return bytes(out)

    # J != K (octets 15-18 vs 19-22 of section 3) -> non-triangular
    with pytest.raises(ValueError, match="triangular"):
        decode_grib2(patch(msg, 3, 14, t + 1, 4))
    # representation type 2 / mode 2 (octets 27 / 28)
    with pytest.raises(ValueError, match="representation type"):
        decode_grib2(patch(msg, 3, 26, 2))
    with pytest.raises(ValueError, match="mode 2"):
        decode_grib2(patch(msg, 3, 27, 2))
    # declared point count disagrees with the truncation
    with pytest.raises(ValueError, match="section 3 declares"):
        decode_grib2(patch(msg, 3, 6, 99, 4))
    # a 5.0-packed payload on a spectral grid (and vice versa) is a
    # garbage field with plausible statistics -> pairing is validated
    with pytest.raises(ValueError, match="cannot pair"):
        decode_grib2(patch(msg, 5, 9, 0, 2))
    plain = encode_grib2_message(np.ones((2, 3)), nbits=8, reference_value=0.0)
    with pytest.raises(ValueError, match="cannot pair"):
        decode_grib2(patch(plain, 5, 9, 50, 2))
    # bitmap indicator 0 on spectral data
    with pytest.raises(ValueError, match="no bitmap"):
        decode_grib2(patch(msg, 6, 5, 0))
    # truncated 5.50 (cut the unpacked (0,0) float)
    pos = 16
    while msg[pos + 4] != 5:
        pos += int.from_bytes(msg[pos : pos + 4], "big")
    s5_len = int.from_bytes(msg[pos : pos + 4], "big")
    cut = bytearray(msg[: pos + s5_len - 4] + msg[pos + s5_len :])
    struct.pack_into(">I", cut, pos, s5_len - 4)
    struct.pack_into(">Q", cut, 8, len(cut))
    with pytest.raises(ValueError, match="truncated data representation"):
        decode_grib2(bytes(cut))


def test_spectral_complex_packing_roundtrip_and_guards():
    """Template 5.51 (complex spectral packing — the form operational
    IFS/ERA5 spectral archives ship): the n <= TS sub-spectrum rides
    unpacked as IEEE-32 floats at the head of section 7, every other
    value is multiplied by the Laplacian weight (n(n+1))^p before
    simple packing.  With p = 1 and integer coefficients the weights
    are integers, so the round trip is BIT-exact; fractional p
    round-trips within the quantization step amplified by the largest
    inverse weight.  Guards: TS >= T, non-triangular sub-truncations,
    foreign precisions, truncated templates and 5.51-on-a-grid all
    stop loudly."""
    import struct

    from monitoring_data_ingestion_spark.grid.grib2 import _spectral_degrees

    t = 6
    c = _spectrum(t, 13)
    msg = encode_grib2_message(
        c, spectral=dict(truncation=t, sub_truncation=2, laplacian=1.0),
        nbits=16,
    )
    rec = decode_grib2(msg)
    assert (rec.packing_template, rec.spectral_truncation) == (51, t)
    assert np.array_equal(rec.spectral_coeffs, c)
    # section 5 pins the sub-truncation and the scaled-by-1e6 exponent
    pos = 16
    while msg[pos + 4] != 5:
        pos += int.from_bytes(msg[pos : pos + 4], "big")
    s5 = msg[pos : pos + int.from_bytes(msg[pos : pos + 4], "big")]
    assert struct.unpack_from(">I", s5, 20)[0] == 1_000_000
    assert struct.unpack_from(">HHH", s5, 24) == (2, 2, 2)
    assert s5[30] == 1
    # fractional Laplacian: error bounded by the packing step divided
    # by the smallest weight outside the subset
    rec2 = decode_grib2(
        encode_grib2_message(
            c,
            spectral=dict(truncation=t, sub_truncation=1, laplacian=-0.5),
            nbits=24, binary_scale=-8,
        )
    )
    deg = _spectral_degrees(t)
    out_w = (deg[deg > 1] * (deg[deg > 1] + 1.0)) ** -0.5
    bound = (2.0 ** -8) * 0.5 / float(out_w.min()) + 1e-9
    diff = rec2.spectral_coeffs - c  # per-COMPONENT bound (re and im
    # each carry one packing quantum; the modulus combines both)
    assert float(np.abs(diff.real).max()) <= bound
    assert float(np.abs(diff.imag).max()) <= bound
    # the weight really flattens the packed range: with p = 1 the max
    # increment exceeds what the UNweighted spectrum would need,
    # proving the scaling was applied (not silently skipped)
    plain = decode_grib2(
        encode_grib2_message(c, spectral=dict(truncation=t), nbits=16)
    )
    assert np.array_equal(plain.spectral_coeffs, c)  # 5.50 sibling
    # guards
    with pytest.raises(ValueError, match="0 <= TS < T"):
        encode_grib2_message(
            c, spectral=dict(truncation=t, sub_truncation=t), nbits=16
        )
    with pytest.raises(ValueError, match="Laplacian"):
        encode_grib2_message(
            c,
            spectral=dict(truncation=t, sub_truncation=1, laplacian=1e9),
            nbits=16,
        )

    def patch(b, sec, off, val, width=1):
        out = bytearray(b)
        pos = 16
        while out[pos + 4] != sec:
            pos += int.from_bytes(out[pos : pos + 4], "big")
        out[pos + off : pos + off + width] = int(val).to_bytes(width, "big")
        return bytes(out)

    # KS != JS (octets 27-28), TS >= T, precision 2, 5.51 on a grid
    with pytest.raises(ValueError, match="sub-truncation"):
        decode_grib2(patch(msg, 5, 26, 3, 2))
    with pytest.raises(ValueError, match="sub-truncation"):
        decode_grib2(
            patch(patch(patch(msg, 5, 24, t, 2), 5, 26, t, 2), 5, 28, t, 2)
        )
    with pytest.raises(ValueError, match="precision"):
        decode_grib2(patch(msg, 5, 30, 2))
    plain_grid = encode_grib2_message(
        np.ones((2, 3)), nbits=8, reference_value=0.0
    )
    with pytest.raises(ValueError, match="cannot pair"):
        decode_grib2(patch(plain_grid, 5, 9, 51, 2))
    # truncated 5.51 (cut the precision octet + MS)
    pos = 16
    while msg[pos + 4] != 5:
        pos += int.from_bytes(msg[pos : pos + 4], "big")
    s5_len = int.from_bytes(msg[pos : pos + 4], "big")
    cut = bytearray(msg[: pos + s5_len - 3] + msg[pos + s5_len :])
    struct.pack_into(">I", cut, pos, s5_len - 3)
    struct.pack_into(">Q", cut, 8, len(cut))
    with pytest.raises(ValueError, match="truncated data representation"):
        decode_grib2(bytes(cut))


@given(
    t=st.integers(1, 10),
    sub=st.integers(-1, 9),
    seed=st.integers(0, 2**31),
    edition=st.integers(1, 2),
)
@settings(max_examples=40, deadline=None)
def test_spectral_roundtrip_property(t, sub, seed, edition):
    """PROPERTY: any integer triangular spectrum round-trips BIT-exactly
    through every spectral layout the engine writes — GRIB1 GDS-50
    simple, GRIB2 5.50 simple, and GRIB2 5.51 complex with p = 1
    (integer Laplacian weights) at any valid sub-truncation."""
    from monitoring_data_ingestion_spark.grid.grib1 import (
        decode_grib1,
        encode_grib1_message,
    )

    npairs = (t + 1) * (t + 2) // 2
    rng = np.random.default_rng(seed)
    c = (
        rng.integers(-200, 200, npairs).astype(np.float64)
        + 1j * rng.integers(-200, 200, npairs).astype(np.float64)
    )
    c[: t + 1] = c[: t + 1].real
    if edition == 1:
        rec = decode_grib1(
            encode_grib1_message(c, spectral=dict(truncation=t), nbits=16)
        )
    elif not 0 <= sub < t:
        rec = decode_grib2(
            encode_grib2_message(c, spectral=dict(truncation=t), nbits=16)
        )
    else:
        rec = decode_grib2(
            encode_grib2_message(
                c,
                spectral=dict(truncation=t, sub_truncation=sub, laplacian=1.0),
                nbits=24,
            )
        )
    assert rec.spectral_truncation == t
    assert np.array_equal(rec.spectral_coeffs, c)


def test_spatio_statistical_pdt_roundtrip_and_guards():
    """PDT 4.15 (spatio-statistical processing — the NDFD-style
    smoothed / re-gridded products): octets 35-37 decode as the
    code-table-4.10 statistic applied over the SPATIAL area, the
    code-table-4.15 processing type and the point count — distinct
    from the TIME-interval statistical columns, which stay None (an
    area maximum must not masquerade as a period maximum).  Metadata
    composes with leads/levels; the inventory path lists 4.15 records;
    truncation and the statistical-combination reject stop loudly."""
    from monitoring_data_ingestion_spark.grid.grib2 import inventory_line

    v = np.arange(12, dtype=np.float64).reshape(3, 4)
    msg = encode_grib2_message(
        v, spatial=dict(stat=2, type=3, points=9),
        forecast=dict(unit=1, value=6), level_type=103, level_value=10,
        reference_value=0.0, nbits=8,
    )
    rec = decode_grib2(msg)
    assert (
        rec.spatial_statistical_process,
        rec.spatial_process_type,
        rec.spatial_points,
    ) == (2, 3, 9)
    assert rec.statistical_process is None and rec.interval_end is None
    assert (rec.forecast_hours, rec.level_type, rec.level_value) == (6, 103, 10)
    np.testing.assert_array_equal(rec.values, v)
    # plain 4.0 records keep all three None
    plain = decode_grib2(encode_grib2_message(v, reference_value=0.0, nbits=8))
    assert plain.spatial_statistical_process is None
    assert plain.spatial_process_type is None and plain.spatial_points is None
    # the header-only inventory path lists 4.15 records (level + lead)
    assert inventory_line(msg) == "d0:c0,n0:l103/10:2020010100:f6"
    # guards: no statistical-interval sibling; truncated octets
    with pytest.raises(ValueError, match="does not combine"):
        encode_grib2_message(
            v, spatial=dict(stat=0, type=0, points=4),
            statistical=dict(
                process=0, interval_end=(2020, 2, 1, 0, 0), range_hours=6
            ),
        )
    with pytest.raises(ValueError, match="at most one of"):
        encode_grib2_message(
            v, spatial=dict(stat=0, type=0, points=4), percentile=50
        )
    import struct

    cut = bytearray(msg)
    pos = 16
    while cut[pos + 4] != 4:
        pos += int.from_bytes(cut[pos : pos + 4], "big")
    s4_len = int.from_bytes(cut[pos : pos + 4], "big")
    trimmed = bytearray(cut[: pos + s4_len - 2] + cut[pos + s4_len :])
    struct.pack_into(">I", trimmed, pos, s4_len - 2)
    struct.pack_into(">Q", trimmed, 8, len(trimmed))
    with pytest.raises(ValueError, match="truncated product definition"):
        decode_grib2(bytes(trimmed))


def test_stretched_latlon_grids_decode_contract():
    """Grid templates 3.2 (STRETCHED lat/lon) and 3.3 (stretched AND
    rotated) — the ARPEGE/ALADIN Schmidt geometry: the 3.0 body's axes
    are coordinates in the stretched (and rotated) system; the pole of
    stretching + factor ×10^6 follow the body (3.2) or the rotation
    block (3.3).  Pinned: c = 1 is the identity, the pole-frame map is
    the tan-half-colatitude radial scaling (independent form), a
    factor > 1 CONCENTRATES true resolution near the pole of
    stretching, the 3.3 composition order (unstretch in the rotated
    frame, then unrotate), south-first normalization, and loud stops
    for zero/missing factors and truncated templates."""
    import struct

    from monitoring_data_ingestion_spark.grid.grib2 import (
        rotated_unrotate,
        schmidt_unstretch,
    )

    # identity and tan-form at the north pole of stretching
    lat, lon = schmidt_unstretch(
        np.array([12.5]), np.array([34.0]), 46.5, 2.6, 1.0
    )
    assert abs(lat[0] - 12.5) < 1e-12 and abs(lon[0] - 34.0) < 1e-12
    c = 2.4
    rl = np.array([0.0, 30.0, 60.0, -45.0])
    lat, lon = schmidt_unstretch(rl, np.full(4, 10.0), 90.0, 0.0, c)
    chi_t = 2.0 * np.arctan(np.tan(np.radians(90.0 - rl) / 2.0) / c)
    assert np.allclose(lat, 90.0 - np.degrees(chi_t), atol=1e-12)
    assert np.allclose(lon, 10.0, atol=1e-12)
    # concentration direction: equal stretched steps near the pole map
    # to SMALLER true steps (c > 1 refines around the pole)
    a, _ = schmidt_unstretch(np.array([80.0, 70.0]), np.zeros(2), 90.0, 0.0, c)
    assert (a[0] - a[1]) < 10.0
    # the pole of stretching is a fixed point for any factor
    lat, lon = schmidt_unstretch(np.array([46.5]), np.array([2.6]), 46.5, 2.6, 3.1)
    assert abs(lat[0] - 46.5) < 1e-9 and abs(lon[0] - 2.6) < 1e-9
    # encode → decode, template 3.2: anchor cell through the transform
    v = np.arange(20, dtype=np.float64).reshape(4, 5)
    enc = dict(
        reference_value=0.0, nbits=8,
        lat_first_udeg=10_000_000, lon_first_udeg=-5_000_000,
        dlat_udeg=500_000, dlon_udeg=500_000,
    )
    rec = decode_grib2(
        encode_grib2_message(
            v, stretched=dict(pole_lat=46.5, pole_lon=2.6, factor=2.4), **enc
        )
    )
    assert rec.grid_template == 2
    assert np.array_equal(rec.values, v)
    a_lat, a_lon = schmidt_unstretch(
        np.array([10.0]), np.array([-5.0]), 46.5, 2.6, 2.4
    )
    assert abs(rec.cell_lats_deg[0, 0] - a_lat[0]) < 1e-12
    assert abs(rec.cell_lons_deg[0, 0] - a_lon[0]) < 1e-12
    # template 3.3: unstretch in the rotated frame, THEN unrotate
    rec3 = decode_grib2(
        encode_grib2_message(
            v,
            rotated=dict(south_pole_lat=-30.0, south_pole_lon=10.0, angle=2.0),
            stretched=dict(pole_lat=20.0, pole_lon=5.0, factor=1.7),
            **enc,
        )
    )
    assert rec3.grid_template == 3
    s_lat, s_lon = schmidt_unstretch(
        np.array([10.0]), np.array([-5.0]), 20.0, 5.0, 1.7
    )
    r_lat, r_lon = rotated_unrotate(s_lat, s_lon, -30.0, 10.0, 2.0)
    assert abs(rec3.cell_lats_deg[0, 0] - r_lat[0]) < 1e-12
    assert abs(rec3.cell_lons_deg[0, 0] - r_lon[0]) < 1e-12
    # south-first storage normalizes to the same grid + cells
    rec3b = decode_grib2(
        encode_grib2_message(
            v, scanning_mode=0x40,
            rotated=dict(south_pole_lat=-30.0, south_pole_lon=10.0, angle=2.0),
            stretched=dict(pole_lat=20.0, pole_lon=5.0, factor=1.7),
            **enc,
        )
    )
    assert np.array_equal(rec3b.values, rec3.values)
    assert np.allclose(rec3b.cell_lats_deg, rec3.cell_lats_deg, atol=1e-12)
    # loud stops: bad factors at encode; zero factor and truncation at decode
    with pytest.raises(ValueError, match="stretching factor"):
        encode_grib2_message(
            v, stretched=dict(pole_lat=0.0, pole_lon=0.0, factor=0.0), **enc
        )
    with pytest.raises(ValueError, match="latitude out of range"):
        encode_grib2_message(
            v, stretched=dict(pole_lat=91.0, pole_lon=0.0, factor=2.0), **enc
        )
    msg = bytearray(
        encode_grib2_message(
            v, stretched=dict(pole_lat=46.5, pole_lon=2.6, factor=2.4), **enc
        )
    )
    pos = 16
    while msg[pos + 4] != 3:
        pos += int.from_bytes(msg[pos : pos + 4], "big")
    s3_len = int.from_bytes(msg[pos : pos + 4], "big")
    # zero the factor octets (last 4 of the template)
    z = bytearray(msg)
    z[pos + s3_len - 4 : pos + s3_len] = b"\x00\x00\x00\x00"
    with pytest.raises(ValueError, match="factor missing or zero"):
        decode_grib2(bytes(z))
    cut = bytearray(msg[: pos + s3_len - 6] + msg[pos + s3_len :])
    struct.pack_into(">I", cut, pos, s3_len - 6)
    struct.pack_into(">Q", cut, 8, len(cut))
    with pytest.raises(ValueError, match="truncated grid definition"):
        decode_grib2(bytes(cut))


@given(
    lat=st.floats(-84.0, 84.0),
    lon=st.floats(-179.0, 179.0),
    sp_lat=st.floats(-80.0, 80.0),
    sp_lon=st.floats(-179.0, 179.0),
    c=st.floats(1.05, 6.0),
)
@settings(max_examples=60, deadline=None)
def test_schmidt_unstretch_inverse_property(lat, lon, sp_lat, sp_lon, c):
    """PROPERTY: the Schmidt map about a pole with factor c is exactly
    inverted by the map about the SAME pole with factor 1/c (radial
    scalings r/c and r·c compose to the identity) — so the decode-side
    unstretch is a true bijection of the sphere, not a lossy
    approximation."""
    from monitoring_data_ingestion_spark.grid.grib2 import schmidt_unstretch

    la, lo = schmidt_unstretch(
        np.array([lat]), np.array([lon]), sp_lat, sp_lon, c
    )
    bla, blo = schmidt_unstretch(la, lo, sp_lat, sp_lon, 1.0 / c)
    assert abs(bla[0] - lat) < 1e-7
    dlon = (blo[0] - lon + 180.0) % 360.0 - 180.0
    # longitude is ill-conditioned within ~a degree of the poles of the
    # transform composition; latitude above already pins those cases
    if abs(lat) < 83.0 and abs(bla[0]) < 89.0:
        assert abs(dlon) * max(np.cos(np.radians(lat)), 1e-6) < 1e-6


def test_satellite_pdt_roundtrip_and_landing_contract():
    """PDTs 4.31 (observational satellite product) / 4.32 (simulated
    satellite imagery — the GOES-brightness-temperature form NCEP
    publishes): the contributing-spectral-band list decodes into band
    count / series / numbers / instruments / central wave numbers
    (value · 10^-scale, sign-magnitude scale factor).  Neither
    template has fixed surfaces (level columns None — the band list
    stands where the level octets would be), and 4.31 has no lead
    octets (forecast_hours None); 4.32 keeps the family lead block.
    The inventory line lists both with ``l-/-`` and the correct lead
    field."""
    from monitoring_data_ingestion_spark.grid.grib2 import inventory_line

    v = np.arange(12, dtype=np.float64).reshape(3, 4)
    bands = [
        dict(series=333, number=17, instrument=616, scale=-3, value=717),
        dict(series=333, number=18, instrument=620, scale=2, value=98765),
    ]
    obs = encode_grib2_message(
        v, category=4, number=7, satellite=dict(bands=bands),
        reference_value=0.0, nbits=8,
    )
    rec = decode_grib2(obs)
    assert rec.product_template == 31
    assert rec.satellite_bands == 2
    assert rec.satellite_series == (333, 333)
    assert rec.satellite_numbers == (17, 18)
    assert rec.satellite_instruments == (616, 620)
    # scale -3 -> x10^3; scale 2 -> /10^2 (sign-magnitude both ways)
    assert rec.central_wavenumbers == (717000.0, 987.65)
    assert rec.forecast_hours is None
    assert rec.level_type is None and rec.level_value is None
    assert rec.level2_type is None
    np.testing.assert_array_equal(rec.values, v)
    assert inventory_line(obs) == "d0:c4,n7:l-/-:2020010100:f-"
    sim = encode_grib2_message(
        v, category=4, number=7,
        satellite=dict(simulated=True, bands=bands[:1]),
        forecast=dict(unit=1, value=12),
        reference_value=0.0, nbits=8,
    )
    rec2 = decode_grib2(sim)
    assert rec2.product_template == 32
    assert rec2.satellite_bands == 1
    assert rec2.central_wavenumbers == (717000.0,)
    assert rec2.forecast_hours == 12
    assert rec2.level_type is None
    assert inventory_line(sim) == "d0:c4,n7:l-/-:2020010100:f12"
    # non-satellite records keep the columns None
    plain = decode_grib2(encode_grib2_message(v, reference_value=0.0, nbits=8))
    assert plain.satellite_bands is None
    assert plain.central_wavenumbers is None


def test_satellite_pdt_guards_and_documented_boundaries():
    """Satellite-family guards: encode rejects plain-satellite
    statistical / level2 / forecast-on-4.31 combinations and empty
    band lists; decode stops loudly on a zero band count and on
    truncated band lists; an unknown template (4.40) keeps the NAMED
    unsupported-template error (4.30 decodes since r15 through its own
    10-octet band width — test_deprecated_satellite_pdt_4_30); and
    mis-labelled 4.33/4.34/4.20 octets stop loudly
    rather than mis-slicing (their positive decodes are witnessed by
    test_ensemble_satellite_pdt_4_33_34 / test_radar_pdt_4_20)."""
    import struct

    v = np.arange(12, dtype=np.float64).reshape(3, 4)
    bands = [dict(series=1, number=2, instrument=3, scale=0, value=100)]
    with pytest.raises(ValueError, match="does not combine with"):
        encode_grib2_message(
            v, satellite=dict(bands=bands),
            statistical=dict(
                process=0, interval_end=(2020, 2, 1, 0, 0), range_hours=6
            ),
        )
    with pytest.raises(ValueError, match="no fixed surfaces"):
        encode_grib2_message(
            v, satellite=dict(bands=bands),
            level2=dict(type=106, value=10),
        )
    with pytest.raises(ValueError, match="observation at the reference"):
        encode_grib2_message(
            v, satellite=dict(bands=bands), forecast=dict(unit=1, value=6)
        )
    with pytest.raises(ValueError, match="at most one of"):
        encode_grib2_message(v, satellite=dict(bands=bands), percentile=50)
    with pytest.raises(ValueError, match="band count"):
        encode_grib2_message(v, satellite=dict(bands=[]))
    # the explicitly-passed FIRST surface is as loud as level2 —
    # 4.31/4.32 have no level octets, so it cannot be silently dropped
    with pytest.raises(ValueError, match="no fixed surfaces"):
        encode_grib2_message(
            v, satellite=dict(bands=bands), level_type=100,
            level_value=85000,
        )
    # sentinel collisions: scale -127 encodes to the 0xFF
    # coded-missing octet, and a value >= 2^31 would decode
    # sign-magnitude NEGATIVE — both reject at encode
    with pytest.raises(ValueError, match="signed-magnitude range"):
        encode_grib2_message(
            v,
            satellite=dict(
                bands=[dict(series=1, number=2, instrument=3,
                            scale=-127, value=7)]
            ),
        )
    with pytest.raises(ValueError, match="value .* out of range"):
        encode_grib2_message(
            v,
            satellite=dict(
                bands=[dict(series=1, number=2, instrument=3,
                            scale=0, value=2**31 + 5)]
            ),
        )
    msg = encode_grib2_message(
        v, satellite=dict(bands=bands), reference_value=0.0, nbits=8
    )
    pos = 16
    while msg[pos + 4] != 4:
        pos += int.from_bytes(msg[pos : pos + 4], "big")
    s4_len = int.from_bytes(msg[pos : pos + 4], "big")
    # zero band count: the list length is unknowable
    zeroed = bytearray(msg)
    zeroed[pos + 13] = 0
    with pytest.raises(ValueError, match="no\\s+contributing spectral bands"):
        decode_grib2(bytes(zeroed))
    # truncated band list: section 4 ends mid-band
    trimmed = bytearray(msg[: pos + s4_len - 2] + msg[pos + s4_len :])
    struct.pack_into(">I", trimmed, pos, s4_len - 2)
    struct.pack_into(">Q", trimmed, 8, len(trimmed))
    with pytest.raises(ValueError, match="truncated product definition"):
        decode_grib2(bytes(trimmed))
    # unknown-template boundary: a named error, never a family-offset
    # read (4.20/4.33/4.34 decode since r14, 4.30 since r15, the
    # 4.40-4.48 chemistry/aerosol family since r16 — each witnessed by
    # its own test; the reserved 4.65534 can never gain a layout)
    patched = bytearray(msg)
    struct.pack_into(">H", patched, pos + 7, 65534)
    with pytest.raises(
        ValueError, match="product definition template 65534"
    ):
        decode_grib2(bytes(patched))
    # a 4.31 message whose PDT octet is bumped into the 33/34/20
    # layouts stops loudly (their offsets land on band octets — NB
    # reads zero / the section is too short), never a silent mis-slice
    for pdt, named in [
        (33, "no contributing spectral bands"),
        (34, "no contributing spectral bands"),
        (20, "truncated product definition"),
    ]:
        patched = bytearray(msg)
        patched[pos + 8] = pdt
        with pytest.raises(ValueError, match=named):
            decode_grib2(bytes(patched))


def test_ensemble_satellite_pdt_4_33_34():
    """Templates 4.33/4.34 (individual ensemble member for SIMULATED
    satellite data): 4.32's leading layout, the three 4.1-style
    ensemble octets AFTER the band list, and — 4.34 only — the 4.8
    statistical block after those (the second variable-offset
    statistical family besides 4.13/4.14).  The ensemble octets land
    in the SAME unified columns as 4.1/4.11, so "member 7 of the
    simulated-imagery ensemble" filters identically to a plain
    ensemble archive; levels stay None (no fixed surfaces)."""
    v = np.arange(20, dtype=np.float64).reshape(4, 5)
    bands = [
        dict(series=300, number=15, instrument=607, scale=-1, value=912),
        dict(series=301, number=16, instrument=608, scale=1, value=77),
    ]
    m33 = encode_grib2_message(
        v,
        satellite=dict(simulated=True, bands=bands),
        ensemble=dict(type=3, member=7, size=20),
        forecast=dict(unit=1, value=12),
        reference_value=0.0,
        nbits=8,
    )
    r = decode_grib2(m33)
    assert r.product_template == 33
    assert (r.ensemble_type, r.ensemble_member, r.ensemble_size) == (3, 7, 20)
    assert r.satellite_bands == 2
    assert r.satellite_instruments == (607, 608)
    assert r.central_wavenumbers == (9120.0, 7.7)
    assert r.forecast_hours == 12
    assert r.level_type is None and r.level2_type is None
    assert r.statistical_process is None
    assert np.array_equal(r.values, v)
    assert inventory_line(m33) == "d0:c0,n0:l-/-:2020010100:f12"
    m34 = encode_grib2_message(
        v,
        satellite=dict(simulated=True, bands=bands),
        ensemble=dict(type=4, member=2, size=10),
        forecast=dict(unit=1, value=6),
        statistical=dict(
            process=1, interval_end=(2021, 3, 2, 6, 0), range_hours=6
        ),
        reference_value=0.0,
        nbits=8,
    )
    r = decode_grib2(m34)
    assert r.product_template == 34
    assert (r.ensemble_type, r.ensemble_member, r.ensemble_size) == (4, 2, 10)
    assert r.statistical_process == 1
    assert r.interval_end == (2021, 3, 2, 6, 0)
    assert r.time_range_count == 1
    assert r.forecast_hours == 6
    assert r.central_wavenumbers == (9120.0, 7.7)
    assert np.array_equal(r.values, v)
    # truncated after the band list: the ensemble octets are absent
    import struct as _struct

    pos = 16
    while m33[pos + 4] != 4:
        pos += int.from_bytes(m33[pos : pos + 4], "big")
    s4_len = int.from_bytes(m33[pos : pos + 4], "big")
    trimmed = bytearray(m33[: pos + s4_len - 3] + m33[pos + s4_len :])
    _struct.pack_into(">I", trimmed, pos, s4_len - 3)
    _struct.pack_into(">Q", trimmed, 8, len(trimmed))
    with pytest.raises(ValueError, match="truncated product definition"):
        decode_grib2(bytes(trimmed))
    # observational ensemble has no template: encode rejects it
    with pytest.raises(ValueError, match="SIMULATED"):
        encode_grib2_message(
            v,
            satellite=dict(bands=bands),
            ensemble=dict(type=3, member=7, size=20),
        )


def test_deprecated_satellite_pdt_4_30():
    """PDT 4.30 (DEPRECATED satellite — pre-2003 archives): 4.31's
    leading layout with a band block one octet NARROWER per band (the
    instrument type is a single octet), so each template must decode
    through its own width — a 4.31-offset read would shear every band
    after the first.  Decodes to the same satellite_* landing columns;
    no fixed surfaces, no lead."""
    v = np.arange(12, dtype=np.float64).reshape(3, 4)
    msg = encode_grib2_message(
        v,
        discipline=3,
        category=0,
        number=7,
        satellite=dict(
            deprecated=True,
            bands=[
                dict(series=333, number=57, instrument=205,
                     scale=-3, value=1034),
                dict(series=333, number=58, instrument=207,
                     scale=0, value=718),
            ],
        ),
        reference_value=0.0,
        nbits=8,
    )
    r = decode_grib2(msg)
    assert r.product_template == 30
    assert r.satellite_bands == 2
    assert r.satellite_series == (333, 333)
    assert r.satellite_numbers == (57, 58)
    assert r.satellite_instruments == (205, 207)
    assert r.central_wavenumbers == (1_034_000.0, 718.0)
    assert r.level_type is None and r.forecast_hours is None
    assert np.array_equal(r.values, v)
    # both inventory surfaces list it with NULL level and lead
    assert inventory_line(msg) == "d3:c0,n7:l-/-:2020010100:f-"
    # byte-identical leading layout, shifted band read: the SAME band
    # bytes reinterpreted as 4.31 must NOT silently decode — the
    # 11-octet width runs past the section end
    patched = bytearray(msg)
    pos = 16
    while patched[pos + 4] != 4:
        pos += int.from_bytes(patched[pos : pos + 4], "big")
    patched[pos + 8] = 31
    with pytest.raises(ValueError, match="truncated product definition"):
        decode_grib2(bytes(patched))
    # encode guards: observational only, and a >255 instrument cannot
    # silently truncate into the 1-octet field
    with pytest.raises(ValueError, match="observational only"):
        encode_grib2_message(
            v,
            satellite=dict(
                deprecated=True, simulated=True,
                bands=[dict(series=1, number=1, instrument=1, value=5)],
            ),
        )
    with pytest.raises(ValueError, match="instrument type"):
        encode_grib2_message(
            v,
            satellite=dict(
                deprecated=True,
                bands=[dict(series=1, number=1, instrument=600, value=5)],
            ),
        )


def test_radar_pdt_4_20():
    """Template 4.20 (radar product): site-based layout sharing
    nothing past the parameter octets with the 4.0 family — site
    coordinates (signed-magnitude µdeg), elevation, CCITT-IA5 +
    numeric identifiers and operating mode land in the radar_*
    columns; levels and forecast_hours stay None (an observation at
    the reference time); coded-missing octets land None."""
    v = np.arange(12, dtype=np.float64).reshape(3, 4)
    msg = encode_grib2_message(
        v,
        discipline=15,
        category=1,
        number=195,
        radar=dict(
            sites=3,
            site_id="KTLX",
            site_number=351,
            lat_udeg=35_333_000,
            lon_udeg=-97_278_000,
            elevation_m=370,
            mode=2,
        ),
        reference_value=0.0,
        nbits=8,
    )
    r = decode_grib2(msg)
    assert r.product_template == 20
    assert r.radar_sites == 3
    assert r.radar_site_id == "KTLX"
    assert r.radar_site_number == 351
    assert r.radar_site_lat == 35.333
    assert r.radar_site_lon == -97.278  # sign-magnitude negative
    assert r.radar_elevation_m == 370
    assert r.radar_operating_mode == 2
    assert r.level_type is None and r.forecast_hours is None
    assert np.array_equal(r.values, v)
    assert inventory_line(msg) == "d15:c1,n195:l-/-:2020010100:f-"
    # coded-missing site octets -> None, not sentinel values
    m2 = encode_grib2_message(
        v, radar=dict(lat_udeg=0, lon_udeg=0), reference_value=0.0, nbits=8
    )
    pos = 16
    while m2[pos + 4] != 4:
        pos += int.from_bytes(m2[pos : pos + 4], "big")
    patched = bytearray(m2)
    patched[pos + 12] = 0xFF  # number of sites
    patched[pos + 30] = 0xFF  # operating mode
    r2 = decode_grib2(bytes(patched))
    assert r2.radar_sites is None and r2.radar_operating_mode is None
    # coded-missing SITE COORDINATES land None like the sibling fields
    # — the all-ones sign-magnitude word is the missing sentinel, not
    # a ~-2147.48° coordinate to quarantine
    m3 = encode_grib2_message(
        v, radar=dict(lat_udeg=None, lon_udeg=None),
        reference_value=0.0, nbits=8,
    )
    r3 = decode_grib2(m3)
    assert r3.radar_site_lat is None and r3.radar_site_lon is None
    assert np.array_equal(r3.values, v)
    # an out-of-range site latitude/longitude is a corrupt section,
    # not geography — both halves of the signed-magnitude pair
    patched = bytearray(m2)
    patched[pos + 14 : pos + 18] = (200_000_000).to_bytes(4, "big")  # 200 deg
    with pytest.raises(ValueError, match="radar site latitude"):
        decode_grib2(bytes(patched))
    patched = bytearray(m2)
    patched[pos + 18 : pos + 22] = (400_000_000).to_bytes(4, "big")  # 400 deg
    with pytest.raises(ValueError, match="radar site longitude"):
        decode_grib2(bytes(patched))
    # non-radar records keep the columns None
    plain = decode_grib2(encode_grib2_message(v, reference_value=0.0, nbits=8))
    assert plain.radar_sites is None and plain.radar_site_id is None
    # encode guards: no surfaces, no lead, 4-char IA5 id
    with pytest.raises(ValueError, match="no fixed surfaces"):
        encode_grib2_message(
            v, radar=dict(lat_udeg=0, lon_udeg=0), level_type=100,
            level_value=85000,
        )
    with pytest.raises(ValueError, match="forecast or statistical"):
        encode_grib2_message(
            v, radar=dict(lat_udeg=0, lon_udeg=0),
            forecast=dict(unit=1, value=6),
        )
    with pytest.raises(ValueError, match="IA5"):
        encode_grib2_message(
            v, radar=dict(lat_udeg=0, lon_udeg=0, site_id="TOOLONG")
        )


def test_zero_length_indicator_is_a_loud_framing_error():
    """A zeroed GRIB2 indicator length must stop the message scan
    loudly: without the guard ``end == idx`` re-finds the same magic
    forever (the previous record's own 7777 satisfies the terminator
    check) and the scan yields empty messages unboundedly."""
    from monitoring_data_ingestion_spark.grid.grib2 import iter_messages2

    v = np.arange(12, dtype=np.float64).reshape(3, 4)
    good = encode_grib2_message(v, reference_value=0.0, nbits=8)
    junk = b"GRIB" + bytes([0, 0, 0, 2]) + (0).to_bytes(8, "big") + b"\x00" * 30
    with pytest.raises(ValueError, match="impossible length"):
        list(iter_messages2(good + junk))


def test_signed_fixed_surface_values_roundtrip_and_encode_guards():
    """The fixed-surface scaled value is SIGNED-magnitude like every
    other GRIB2 scaled field: a -2 PVU-style surface round-trips to
    level -2 on the decode, inventory and text surfaces (an unsigned
    read would label it 2147483650).  The encoder's level octets are
    loudly validated — '& 0xFF' masking silently encoded type 300 as
    type 44 before — and the (scale, value) pair rejects the sentinel
    collisions via the shared _scaled_pair."""
    from monitoring_data_ingestion_spark.grid.grib2 import (
        inventory_line,
        surface_level,
        surface_level_text,
    )

    v = np.arange(12, dtype=np.float64).reshape(3, 4)
    msg = encode_grib2_message(
        v, level_type=109, level_scale=0, level_value=-2,
        reference_value=0.0, nbits=8,
    )
    rec = decode_grib2(msg)
    assert (rec.level_type, rec.level_scale, rec.level_value) == (109, 0, -2)
    assert surface_level(rec.level_value, rec.level_scale) == -2
    assert surface_level_text(rec.level_value, rec.level_scale) == "-2"
    assert inventory_line(msg) == "d0:c0,n0:l109/-2:2020010100:f0"
    np.testing.assert_array_equal(rec.values, v)
    # scaled negative: -15 * 10^-1 = -1.5 renders exactly
    msg2 = encode_grib2_message(
        v, level_type=109, level_scale=1, level_value=-15,
        reference_value=0.0, nbits=8,
    )
    assert inventory_line(msg2) == "d0:c0,n0:l109/-1.5:2020010100:f0"
    # encode guards: masked type / sentinel-colliding scale / overflow
    with pytest.raises(ValueError, match="fixed surface type 300"):
        encode_grib2_message(v, level_type=300)
    with pytest.raises(ValueError, match="signed-magnitude range"):
        encode_grib2_message(v, level_scale=-127)
    with pytest.raises(ValueError, match="overflow"):
        encode_grib2_message(v, level_value=2**31)


def test_grid_and_packing_corruption_guards():
    """Corruptions that previously decoded garbage or rendered fake
    fields now stop loudly: (a) a non-default basic angle re-scales
    every coordinate (a millidegree-unit grid read as microdegrees is
    1000x geography corruption); (b) a complex-packing width octet
    past 63 bits wraps uint64 shifts; (c) the codec-level inventory
    applies the same template gate as the decode, so an unknown-
    template record cannot render its octets as a fake level; (d)
    match_records
    with limit=0 selects nothing."""
    from monitoring_data_ingestion_spark.grid.grib2 import (
        inventory_lines,
        match_records,
    )

    v = np.arange(12, dtype=np.float64).reshape(3, 4)
    msg = encode_grib2_message(v, reference_value=0.0, nbits=8)
    # (a) basic angle: section 3 starts at 16+21; octet 39 of the
    # section -> index 38; template body g starts at section offset 14
    s3_off = 16 + 21
    bad = bytearray(msg)
    import struct as _s
    _s.pack_into(">II", bad, s3_off + 14 + 24, 1, 1000)  # millidegree unit
    with pytest.raises(ValueError, match="basic angle"):
        decode_grib2(bytes(bad))
    # the explicit microdegree form (1 / 10^6) still decodes
    ok = bytearray(msg)
    _s.pack_into(">II", ok, s3_off + 14 + 24, 1, 1_000_000)
    np.testing.assert_array_equal(decode_grib2(bytes(ok)).values, v)
    # (b) complex width guard
    cmsg = encode_grib2_message(
        v, reference_value=0.0, nbits=8, packing="complex"
    )
    pos = 16
    while cmsg[pos + 4] != 5:
        pos += int.from_bytes(cmsg[pos : pos + 4], "big")
    cbad = bytearray(cmsg)
    cbad[pos + 19] = 72  # nbits_ref
    with pytest.raises(ValueError, match="not decodable"):
        decode_grib2(bytes(cbad))
    # (c) inventory gate on layout-divergent templates
    pbad = bytearray(msg)
    p4 = 16
    while pbad[p4 + 4] != 4:
        p4 += int.from_bytes(pbad[p4 : p4 + 4], "big")
    # reserved 4.65534 — permanently unassigned (4.30/4.40, the old
    # picks here, both decode now)
    pbad[p4 + 7] = 0xFF
    pbad[p4 + 8] = 0xFE
    with pytest.raises(ValueError, match="unsupported product definition"):
        inventory_lines(bytes(pbad))
    # (d) limit=0
    assert match_records(msg, ".", limit=0) == []
    assert len(match_records(msg, ".", limit=1)) == 1


def test_chemistry_family_roundtrips():
    """Templates 4.40-4.43: the 2-octet constituent type inserted after
    the parameter number composes with the plain / ensemble /
    statistical / ensemble-statistical base forms, and every shifted
    downstream field (lead, surfaces, ensemble octets, statistical
    block) survives the shift."""
    v = np.arange(20, dtype=np.float64).reshape(4, 5)
    ens = {"type": 3, "member": 9, "size": 31}
    stat = {
        "process": 1,
        "interval_end": (2021, 6, 2, 12, 0),
        "range_hours": 6,
    }
    cases = [
        (40, {}),
        (41, {"ensemble": ens}),
        (42, {"statistical": stat}),
        (43, {"ensemble": ens, "statistical": stat}),
    ]
    for tmpl, extra in cases:
        rec = decode_grib2(
            encode_grib2_message(
                v, chemistry=8, nbits=8, reference_value=0.0,
                level_type=100, level_value=500,
                forecast={"unit": 1, "value": 24}, **extra,
            )
        )
        assert rec.product_template == tmpl
        assert rec.constituent_type == 8
        assert rec.level_type == 100 and rec.level_value == 500
        assert rec.forecast_hours == 24
        assert np.array_equal(rec.values, v)
        if "ensemble" in extra:
            assert rec.ensemble_member == 9 and rec.ensemble_size == 31
        if "statistical" in extra:
            assert rec.statistical_process == 1
            assert rec.interval_end == (2021, 6, 2, 12, 0)
    # the coded-missing constituent lands None
    msg = bytearray(
        encode_grib2_message(v, chemistry=8, nbits=8, reference_value=0.0)
    )
    pos = 16
    while msg[pos + 4] != 4:
        pos += int.from_bytes(msg[pos : pos + 4], "big")
    msg[pos + 11 : pos + 13] = b"\xff\xff"
    assert decode_grib2(bytes(msg)).constituent_type is None


def test_aerosol_family_roundtrips():
    """Templates 4.44-4.48: the 13-octet (44-47) / 24-octet (48)
    aerosol block with signed-magnitude size / wavelength pairs."""
    v = np.arange(12, dtype=np.float64).reshape(3, 4)
    aero = {
        "type": 62001,
        "size_interval": 2,
        "first_size": (8, 25),
        "second_size": (7, 100),
    }
    ens = {"type": 3, "member": 2, "size": 20}
    stat = {
        "process": 0,
        "interval_end": (2021, 6, 2, 0, 0),
        "range_hours": 24,
    }
    cases = [
        (44, {}),
        (45, {"ensemble": ens}),
        (46, {"statistical": stat}),
        (47, {"ensemble": ens, "statistical": stat}),
    ]
    for tmpl, extra in cases:
        rec = decode_grib2(
            encode_grib2_message(
                v, aerosol=aero, nbits=8, reference_value=0.0, **extra
            )
        )
        assert rec.product_template == tmpl
        assert rec.aerosol_type == 62001
        assert rec.aerosol_size_interval == 2
        assert rec.aerosol_first_size_m == 2.5e-07
        assert rec.aerosol_second_size_m == 1e-05
        assert rec.aerosol_wavelength_interval is None
        assert np.array_equal(rec.values, v)
    rec = decode_grib2(
        encode_grib2_message(
            v,
            aerosol={
                **aero,
                "wavelength_interval": 11,
                "first_wavelength": (9, 550),
                "second_wavelength": None,
            },
            nbits=8, reference_value=0.0,
        )
    )
    assert rec.product_template == 48
    assert rec.aerosol_wavelength_interval == 11
    assert rec.aerosol_first_wavelength_m == 5.5e-07
    assert rec.aerosol_second_wavelength_m is None


def test_chemistry_aerosol_guards_and_inventory():
    """Guard rails: chemistry×aerosol is rejected, 4.48 has no
    ensemble/statistical sibling, the family doesn't combine with the
    derived/probability/satellite branches, out-of-range types stop
    loudly; and both inventory surfaces render level + lead through
    the spliced base layout."""
    v = np.arange(6, dtype=np.float64).reshape(2, 3)
    aero = {"type": 0, "first_size": None, "second_size": None}
    with pytest.raises(ValueError, match="mutually exclusive"):
        encode_grib2_message(v, chemistry=1, aerosol=aero)
    with pytest.raises(ValueError, match="does not combine with"):
        encode_grib2_message(v, chemistry=1, derived={"type": 0, "size": 3})
    with pytest.raises(ValueError, match="not combine with statistical"):
        # wavelength + ensemble is legal since r16 (template 4.49);
        # the statistical combination has no template number
        encode_grib2_message(
            v,
            aerosol={**aero, "first_wavelength": (9, 550)},
            statistical={
                "process": 1,
                "interval_end": (2020, 2, 1, 0, 0),
                "range_hours": 24,
            },
        )
    with pytest.raises(ValueError, match="out of range 0-65534"):
        encode_grib2_message(v, chemistry=65535)
    msg = encode_grib2_message(
        v, chemistry=8, nbits=8, reference_value=0.0,
        level_type=100, level_value=500,
        forecast={"unit": 1, "value": 6},
    )
    line = inventory_line(msg)
    assert "l100/500" in line and line.endswith(":f6")
    assert len(match_records(msg, ":f6$", limit=None)) == 1


def test_reduced_grid_bitmap_roundtrips():
    """Bitmaps compose with the REDUCED Gaussian layout in edition 2
    (the r15 cross-edition asymmetry): section 6 carries sum(row_ni)
    bits in flat storage order, the data section packs only present
    cells, and masked cells land NaN while geometry covers every cell
    — across simple, complex and complex_diff packings."""
    row_ni = [3, 5, 5, 3]
    n = sum(row_ni)
    v = 10.0 + np.arange(n) * 2
    bm = (np.arange(n) % 3) != 0
    for packing in ("simple", "complex", "complex_diff"):
        rec = decode_grib2(
            encode_grib2_message(
                v, reduced_ni=row_ni, bitmap=bm, nbits=8,
                reference_value=0.0, packing=packing, group_len=4,
            )
        )
        assert rec.row_ni.tolist() == row_ni
        assert np.isnan(rec.values[~bm]).all()
        assert np.array_equal(rec.values[bm], v[bm])
        assert len(rec.cell_lats_deg) == n  # geometry is never masked
    # a rectangular-shaped bitmap on a flat reduced field stops loudly
    with pytest.raises(ValueError, match="flat with"):
        encode_grib2_message(
            v, reduced_ni=row_ni, bitmap=bm[:4], nbits=8,
            reference_value=0.0,
        )
    with pytest.raises(ValueError, match="missing_mask not supported"):
        encode_grib2_message(
            v, reduced_ni=row_ni, missing_mask=bm, nbits=8,
            reference_value=0.0, packing="complex",
        )


def test_runlength_packing_roundtrips():
    """Template 5.200 (JMA run-length level packing): level fields
    round-trip exactly through the level table, NaN rides as level 0,
    long runs exercise the base-LNGU digit chains, and the packing
    composes with the radar PDT 4.20 and 0x40 scan normalization the
    way JMA composites ship."""
    tbl = [5, 10, 20, 40, 80, 160]
    rng = np.random.default_rng(5)
    lv = rng.choice([0, 0, 0, 1, 2, 3, 6], size=(8, 12))
    v = np.where(lv == 0, np.nan, np.array([np.nan] + tbl)[lv] / 10.0)
    rec = decode_grib2(
        encode_grib2_message(
            v, packing="runlength", rle_table=tbl, nbits=4,
            decimal_scale=1,
        )
    )
    assert rec.packing_template == 200
    assert np.array_equal(np.isnan(rec.values), np.isnan(v))
    m = ~np.isnan(v)
    np.testing.assert_allclose(rec.values[m], v[m])
    # long constant runs: the digit chain must reconstruct exactly
    lv2 = np.zeros((20, 50))
    lv2[5:7, :] = 1
    v2 = np.where(lv2 == 0, np.nan, 0.5)
    msg2 = encode_grib2_message(
        v2, packing="runlength", rle_table=tbl, nbits=4, decimal_scale=1
    )
    assert len(msg2) < 250  # 1000 cells of runs collapse
    rec2 = decode_grib2(msg2)
    assert np.array_equal(np.isnan(rec2.values), np.isnan(v2))
    np.testing.assert_allclose(rec2.values[lv2 == 1], 0.5)
    # radar composition (the JMA product shape) + 0x40 scan
    rec3 = decode_grib2(
        encode_grib2_message(
            v, packing="runlength", rle_table=tbl, nbits=4,
            decimal_scale=1, scanning_mode=0x40,
            radar=dict(
                lat=36.0, lon=140.0, elevation=50,
                site_id="RJTD", site_number=101,
            ),
        )
    )
    assert rec3.product_template == 20 and rec3.radar_site_id == "RJTD"
    assert np.array_equal(np.isnan(rec3.values), np.isnan(v))


def test_runlength_packing_guards():
    tbl = [5, 10, 20]
    v = np.array([[0.5, 1.0], [np.nan, 2.0]])
    with pytest.raises(ValueError, match="go together"):
        encode_grib2_message(v, packing="runlength", nbits=4)
    with pytest.raises(ValueError, match="go together"):
        encode_grib2_message(v, rle_table=tbl, nbits=4)
    with pytest.raises(ValueError, match="2-16 bits"):
        encode_grib2_message(
            v, packing="runlength", rle_table=tbl, nbits=1,
            decimal_scale=1,
        )
    with pytest.raises(ValueError, match="out of range 1-14"):
        encode_grib2_message(
            v, packing="runlength", rle_table=list(range(20)), nbits=4,
            decimal_scale=1,
        )
    with pytest.raises(ValueError, match="not in the level table"):
        encode_grib2_message(
            np.full((2, 2), 0.7), packing="runlength", rle_table=tbl,
            nbits=4, decimal_scale=1,
        )
    with pytest.raises(ValueError, match="must equal a table value"):
        encode_grib2_message(
            np.full((2, 2), 0.5001), packing="runlength", rle_table=tbl,
            nbits=4, decimal_scale=1,
        )
    with pytest.raises(ValueError, match="level 0, not a bitmap|no bitmap"):
        encode_grib2_message(
            v, packing="runlength", rle_table=tbl, nbits=4,
            decimal_scale=1, bitmap=np.ones((2, 2), dtype=bool),
        )
    # decode guards: a run crossing the grid end stops loudly
    good = encode_grib2_message(
        np.full((2, 3), 0.5), packing="runlength", rle_table=tbl,
        nbits=4, decimal_scale=1,
    )
    import struct as _struct

    pos = 16
    msg = bytearray(good)
    while msg[pos + 4] != 5:
        pos += int.from_bytes(msg[pos : pos + 4], "big")
    s5len = int.from_bytes(msg[pos : pos + 4], "big")
    d7 = pos + s5len + 6  # skip empty section 6 (6 octets) to section 7
    assert msg[d7 + 4] == 7
    # stream [1, digit(+6)] = run 7 > 6 cells → overrun
    msg[d7 + 5] = 0x1B  # 0001 1011: level 1, digit code 11 (adds 6)
    with pytest.raises(ValueError, match="crosses the end"):
        decode_grib2(bytes(msg))


def test_reforecast_and_aerosol_ensemble_roundtrips():
    """PDTs 4.60/4.61 (ensemble reforecast: model-version date appended
    after the ensemble octets, 4.61's statistical block seven octets
    past 4.11's) and 4.49 (ensemble aerosol optical properties: the
    24-octet wavelength insert with the ensemble octets past it)."""
    v = np.arange(12, dtype=np.float64).reshape(3, 4)
    ens = {"type": 3, "member": 5, "size": 11}
    mv = (2019, 5, 27, 12, 0, 0)
    rec = decode_grib2(
        encode_grib2_message(
            v, nbits=8, reference_value=0.0, ensemble=ens, model_version=mv
        )
    )
    assert rec.product_template == 60
    assert rec.ensemble_member == 5 and rec.ensemble_size == 11
    assert rec.model_version == (2019, 5, 27, 12, 0)
    assert np.array_equal(rec.values, v)
    rec = decode_grib2(
        encode_grib2_message(
            v, nbits=8, reference_value=0.0, ensemble=ens, model_version=mv,
            statistical={
                "process": 1,
                "interval_end": (2020, 2, 1, 0, 0),
                "range_hours": 24,
            },
        )
    )
    assert rec.product_template == 61
    assert rec.model_version == (2019, 5, 27, 12, 0)
    assert rec.statistical_process == 1
    assert rec.interval_end == (2020, 2, 1, 0, 0)
    rec = decode_grib2(
        encode_grib2_message(
            v, nbits=8, reference_value=0.0, ensemble=ens,
            aerosol={
                "type": 62010, "size_interval": 2,
                "first_size": (8, 25), "second_size": None,
                "wavelength_interval": 11,
                "first_wavelength": (9, 550), "second_wavelength": (9, 865),
            },
        )
    )
    assert rec.product_template == 49
    assert rec.aerosol_first_wavelength_m == 5.5e-07
    assert rec.ensemble_member == 5
    assert rec.model_version is None
    # guards
    with pytest.raises(ValueError, match="requires ensemble"):
        encode_grib2_message(v, model_version=mv)
    with pytest.raises(ValueError, match="does not combine with chemistry"):
        encode_grib2_message(
            v, ensemble=ens, model_version=mv, chemistry=8
        )
    with pytest.raises(ValueError, match="not combine with statistical"):
        encode_grib2_message(
            v, ensemble=ens,
            aerosol={
                "type": 0, "first_size": None, "second_size": None,
                "first_wavelength": (9, 550), "second_wavelength": None,
            },
            statistical={
                "process": 1,
                "interval_end": (2020, 2, 1, 0, 0),
                "range_hours": 24,
            },
        )
    with pytest.raises(ValueError, match="model version date"):
        encode_grib2_message(
            v, ensemble=ens, model_version=(2019, 13, 1, 0, 0, 0)
        )


def test_section2_local_use_is_tolerated_everywhere():
    """Section 2 (local use) — every ECMWF archive carries it — must be
    TRANSPARENT on all surfaces: single-field decode, the multi-field
    iterator, the inventory line and match selection; its bytes are
    producer-private (never parsed, never a decode input)."""
    import struct

    from monitoring_data_ingestion_spark.grid.grib2 import (
        decode_grib2_fields,
        merge_grib2_fields,
    )

    v = np.arange(6, dtype=np.float64).reshape(2, 3)

    def with_sec2(msg: bytes) -> bytes:
        pos = 16
        while msg[pos + 4] != 3:
            pos += int.from_bytes(msg[pos : pos + 4], "big")
        payload = b"LOCAL-USE-BYTES\x00\x01\x02"
        sec2 = struct.pack(">IB", 5 + len(payload), 2) + payload
        patched = bytearray(msg[:pos] + sec2 + msg[pos:])
        struct.pack_into(">Q", patched, 8, len(patched))
        return bytes(patched)

    msg = with_sec2(
        encode_grib2_message(v, nbits=8, reference_value=0.0, level_type=100,
                             level_value=500)
    )
    rec = decode_grib2(msg)
    assert np.array_equal(rec.values, v)
    assert rec.level_type == 100
    assert "l100/500" in inventory_line(msg)
    assert len(match_records(msg, "l100/500", limit=None)) == 1
    merged = with_sec2(
        merge_grib2_fields(
            [
                encode_grib2_message(v, nbits=8, reference_value=0.0),
                encode_grib2_message(
                    v + 1, nbits=8, reference_value=0.0, number=1
                ),
            ]
        )
    )
    recs = decode_grib2_fields(merged)
    assert len(recs) == 2
    assert np.array_equal(recs[1].values, v + 1)


@settings(max_examples=40, deadline=None)
@given(
    nbits=st.integers(2, 8),
    tbl_n=st.integers(1, 14),
    nj=st.integers(1, 6),
    ni=st.integers(1, 40),
    miss=st.integers(0, 3),
    runs=st.integers(1, 30),
    seed=st.integers(0, 2**31),
)
def test_runlength_roundtrip_property(nbits, tbl_n, nj, ni, miss, runs, seed):
    """Any level field round-trips through 5.200 under any legal
    (nbits, table size) — including the degenerate digit base
    LNGU = 1 (MV one short of the code space, the r16 review's hang)
    and LNGU = 0 (MV fills it; no digit codes exist) reached when the
    data uses the whole table."""
    tbl_n = min(tbl_n, (1 << nbits) - 2)
    rng = np.random.default_rng(seed)
    tbl = (np.sort(rng.choice(np.arange(1, 2000), size=tbl_n, replace=False))).tolist()
    # run-structured levels with a controllable missing share
    lv = np.repeat(
        rng.integers(0 if miss else 1, tbl_n + 1, size=runs),
        rng.integers(1, 9, size=runs),
    )[: nj * ni]
    if lv.size < nj * ni:
        lv = np.pad(lv, (0, nj * ni - lv.size), constant_values=int(lv[-1]))
    v = np.where(
        lv == 0, np.nan, np.array([np.nan] + tbl)[lv] / 10.0
    ).reshape(nj, ni)
    rec = decode_grib2(
        encode_grib2_message(
            v, packing="runlength", rle_table=tbl, nbits=nbits,
            decimal_scale=1,
        )
    )
    assert np.array_equal(np.isnan(rec.values), np.isnan(v))
    m = ~np.isnan(v)
    np.testing.assert_allclose(rec.values[m], v[m], rtol=0, atol=1e-12)


def _section4_offset(msg: bytes) -> int:
    pos = 16
    while msg[pos + 4] != 4:
        pos += int.from_bytes(msg[pos : pos + 4], "big")
    return pos


_STAT = dict(process=1, interval_end=(2020, 1, 2, 0, 0), range_hours=24)
_BAND = dict(series=300, number=15, instrument=7, scale=-1, value=912)


@pytest.mark.parametrize(
    "kwargs, label",
    [
        (dict(statistical=dict(_STAT, range_hours=-1)), "statistical range hours -1"),
        (dict(statistical=dict(_STAT, interval_end=(70000, 1, 2, 0, 0))),
         "statistical interval end"),
        (dict(statistical=dict(_STAT, interval_end=(2020, 1, 2, 300, 0))),
         "statistical interval end"),
        (dict(ensemble=dict(type=3, member=1, size=10),
              model_version=(70000, 1, 1, 0, 0, 0)), "model version date"),
        (dict(radar=dict(accumulation_minutes=70000)), "radar accumulation minutes 70000"),
        (dict(radar=dict(bin_spacing_m=2**25)), f"radar bin spacing {2**25}"),
        (dict(radar=dict(radial_spacing=-1)), "radar radial spacing -1"),
        (dict(satellite=dict(bands=[dict(_BAND, series=70000)])), "satellite series 70000"),
        (dict(category=300), "parameter category 300"),
        (dict(discipline=300), "discipline 300"),
        (dict(reftime=(2020, 13, 40, 0, 0)), "reference time"),
        (dict(reftime=(2020, 1, 1, 300, 0)), "reference time"),
        (dict(reftime=(70000, 1, 1, 0, 0)), "reference time"),
        (dict(nbits=300), "nbits 300"),
        (dict(packing="aec", aec_block_size=300), "AEC block size 300"),
        (dict(packing="aec", aec_rsi=70000), "AEC reference sample interval 70000"),
    ],
)
def test_out_of_width_product_fields_name_the_field(kwargs, label):
    """An input to section 0, 1, 4 or 5 that does not fit its octets
    stops with the ValueError that names the field — never a raw
    struct.error, OverflowError or bytes() range error from deep in the
    packer.  Section 5's width stops before any bit packing."""
    import re

    with pytest.raises(ValueError, match=f"^{re.escape(label)}.* out of range"):
        encode_grib2_message(np.ones((2, 3)), **kwargs)


def test_cluster_domain_needs_its_exact_value_count():
    """The rectangular domain is four values and the circular one three:
    a longer tuple would shift every later octet (the member count would
    land inside the geometry), a shorter one leave octets out."""
    cluster = dict(type=0, size=20, identifier=2, total=4, method=1, members=[1])
    for domain in (dict(bounds=(1, 2, 3, 4, 5)), dict(center=(1, 2))):
        with pytest.raises(ValueError, match="needs [34] values"):
            encode_grib2_message(np.ones((2, 3)), cluster=dict(cluster, **domain))


def test_statistical_interval_end_is_range_checked_both_ways():
    """The interval end is a date like the model-version date: month 13
    stops the encode, and a foreign message carrying it stops the full
    decode — while the inventory, which never reads the statistical
    block, still lists the record."""
    v = np.ones((2, 3))
    with pytest.raises(ValueError, match="statistical interval end .* out of range"):
        encode_grib2_message(v, statistical=dict(_STAT, interval_end=(2020, 13, 2, 0, 0)))
    msg = bytearray(encode_grib2_message(v, statistical=_STAT))
    pos = _section4_offset(msg)
    assert msg[pos + 36] == 1  # 4.8 octet 37: month of the interval end
    msg[pos + 36] = 13
    with pytest.raises(
        ValueError, match=r"statistical interval end \(2020, 13, 2, 0, 0\) out of range"
    ):
        decode_grib2(bytes(msg))
    assert inventory_line(bytes(msg)) == "d0:c0,n0:l1/0:2020010100:f0"


def _template_kwargs(key: set) -> dict:
    """Encode kwargs selecting the template whose selector set is
    ``key`` (product kwargs plus the cluster domain / satellite form /
    aerosol wavelength refinements)."""
    kw = {
        "ensemble": dict(ensemble=dict(type=3, member=7, size=20)),
        "derived": dict(derived=dict(type=0, size=20)),
        "probability": dict(probability=dict(number=1, total=3, type=1, upper=(1, 2731))),
        "percentile": dict(percentile=90),
        "spatial": dict(spatial=dict(stat=0, type=1, points=9)),
        "error": dict(error=True),
        "statistical": dict(statistical=_STAT),
        "radar": dict(radar=dict(site_id="KTLX", lat_udeg=35_333_000)),
        "chemistry": dict(chemistry=8),
        "model_version": dict(model_version=(2017, 3, 15, 6, 30, 0)),
    }
    out = {}
    for token in key & set(kw):
        out.update(kw[token])
    if "cluster" in key:
        domain = (
            dict(bounds=(60_000_000, 30_000_000, 40_000_000, 10_000_000))
            if "bounds" in key
            else dict(center=(45_000_000, 25_000_000, 500_000))
        )
        out["cluster"] = dict(
            type=0, size=20, identifier=2, total=4, method=1, members=[1, 5, 9], **domain
        )
    if "satellite" in key:
        out["satellite"] = dict(
            bands=[_BAND], simulated="simulated" in key, deprecated="deprecated" in key
        )
    if "aerosol" in key:
        out["aerosol"] = dict(type=62001, size_interval=2, first_size=(8, 25))
        if "wavelength" in key:
            out["aerosol"]["first_wavelength"] = (9, 550)
    return out


def _pdt_numbers():
    from monitoring_data_ingestion_spark.grid.grib2 import _PDT

    return sorted(_PDT)


@pytest.mark.parametrize("tmpl", _pdt_numbers())
def test_every_product_template_agrees_on_every_surface(tmpl):
    """One case per entry of the template table: encode selects the
    template from its kwargs, and the full decode, the inventory line
    and the landing header read back the same category, number, both
    surfaces and lead.  What to expect is stated from the WMO layouts,
    not read from the table: radar and satellite products have no
    surfaces, and only simulated satellite imagery keeps the lead."""
    from monitoring_data_ingestion_spark.grid.grib2 import _PDT
    from monitoring_data_ingestion_spark.sources.grib_source import _grib2_header

    key = set(_PDT[tmpl][0])
    kw = _template_kwargs(key)
    surfaces = not key & {"satellite", "radar"}
    lead = surfaces or "simulated" in key
    if surfaces:
        kw.update(level_type=100, level_value=500, level2=dict(type=100, value=700))
    if lead:
        kw["forecast"] = dict(unit=1, value=6)
    msg = encode_grib2_message(np.ones((2, 3)), category=2, number=22, **kw)
    rec = decode_grib2(msg)
    head = _grib2_header(msg)
    assert rec.product_template == tmpl
    levels = (100, 500, 100, 700) if surfaces else (None,) * 4
    assert (rec.level_type, rec.level_value, rec.level2_type, rec.level2_value) == levels
    assert (head["level_type"], head["level"], head["level2_type"], head["level2"]) == levels
    assert (rec.category, rec.number) == (head["category"], head["number"]) == (2, 22)
    assert rec.forecast_hours == head["forecast_hours"] == (6 if lead else None)
    assert inventory_line(msg) == (
        "d0:c2,n22:" + ("l100/500-700" if surfaces else "l-/-")
        + ":2020010100:" + ("f6" if lead else "f-")
    )


@pytest.mark.parametrize("tmpl", [16, 50])
def test_template_outside_the_table_is_refused_on_every_surface(tmpl):
    """4.16 and 4.50 have no layout in the table: the decode, the
    inventory line and the landing header all refuse them by name
    instead of reading octets through another template's offsets."""
    import struct

    from monitoring_data_ingestion_spark.sources.grib_source import _grib2_header

    msg = bytearray(encode_grib2_message(np.ones((2, 3))))
    struct.pack_into(">H", msg, _section4_offset(msg) + 7, tmpl)
    for surface in (decode_grib2, inventory_line, _grib2_header):
        with pytest.raises(
            ValueError, match=f"^unsupported product definition template {tmpl}$"
        ):
            surface(bytes(msg))


def test_product_templates_are_defined_only_by_the_table():
    """Source scan: the section-4 layout lives in ``grib2._PDT`` alone
    and the section-5 layout in ``grib2._DRT``.  Outside them, neither
    ``grib2.py`` nor ``grib_source.py`` compares a product- or
    data-representation-template number against a literal, looks one
    up in a literal dict, or spells out the supported set (ten or more
    product template numbers, five or more data representation ones);
    and the grid-template gate is spelled once, as ``_GRID_TEMPLATES``."""
    from monitoring_data_ingestion_spark.grid.grib2 import _DRT, _GRID_TEMPLATES, _PDT

    found = []
    for table_name, table_set, name_rx, shortest in (
        ("_PDT", set(_PDT), r"tmpl4|product_template|pdt", 10),
        ("_DRT", set(_DRT), r"tmpl5|packing_template", 5),
    ):
        found += _template_scan(table_name, table_set, name_rx, shortest, _GRID_TEMPLATES)
    assert found == []


def _template_scan(table_name, table_set, name_rx, shortest, grid_templates):
    """The scan for one table: its name, its template numbers, the names
    a template number goes by and the shortest literal list of numbers
    that counts as a second spelling of the table."""
    import ast
    import re
    from pathlib import Path

    import monitoring_data_ingestion_spark as pkg

    pdt_name = re.compile(name_rx, re.I)

    def ints(node) -> set | None:
        elts = node.elts if isinstance(node, (ast.Tuple, ast.Set, ast.List)) else (
            node.keys if isinstance(node, ast.Dict) else [node]
        )
        vals = {e.value for e in elts if isinstance(e, ast.Constant) and type(e.value) is int}
        return vals if elts and len(vals) == len(elts) else None

    def names_pdt(node) -> bool:
        return any(
            pdt_name.search(getattr(n, "id", None) or getattr(n, "attr", None) or "")
            for n in ast.walk(node)
            if isinstance(n, (ast.Name, ast.Attribute))
        )

    root = Path(pkg.__file__).parent
    found = []
    for rel in ("grid/grib2.py", "sources/grib_source.py"):
        tree = ast.parse((root / rel).read_text())
        table = {
            id(n)
            for a in ast.walk(tree)
            if isinstance(a, ast.Assign)
            and any(getattr(t, "id", None) in (table_name, "_GRID_TEMPLATES") for t in a.targets)
            for n in ast.walk(a)
        }
        for node in ast.walk(tree):
            if id(node) in table:
                continue
            if isinstance(node, ast.Compare):
                sides = [node.left, *node.comparators]
                if any(names_pdt(x) for x in sides) and any(ints(x) for x in sides):
                    found.append((table_name, rel, node.lineno, "compare"))
            if isinstance(node, (ast.Call, ast.Subscript)) and names_pdt(node):
                inner = node.func.value if isinstance(node, ast.Call) and isinstance(
                    node.func, ast.Attribute
                ) else getattr(node, "value", None)
                if isinstance(inner, ast.Dict) and ints(inner):
                    found.append((table_name, rel, node.lineno, "dict lookup"))
            vals = ints(node) if isinstance(node, (ast.Tuple, ast.Set, ast.List)) else None
            if vals and (len(vals) >= shortest and vals <= table_set or vals == grid_templates):
                found.append((table_name, rel, node.lineno, "template list"))
    return found


# What selects each data representation template, stated from the
# encoder's kwargs rather than read from the table.
_DRT_KWARGS = {
    0: {},
    2: dict(packing="complex"),
    3: dict(packing="complex_diff"),
    4: dict(packing="ieee32"),
    40: dict(packing="jpeg2000"),
    41: dict(packing="png"),
    42: dict(packing="aec"),
    50: dict(spectral=dict(truncation=3)),
    51: dict(spectral=dict(truncation=3, sub_truncation=1)),
    61: dict(packing="log", log_offset=1.0),
    200: dict(packing="runlength", rle_table=[10, 20], nbits=4, decimal_scale=1),
}


def _drt_numbers():
    from monitoring_data_ingestion_spark.grid.grib2 import _DRT

    return sorted(_DRT)


@pytest.mark.parametrize("tmpl", _drt_numbers())
def test_truncated_data_representation_template_is_named(tmpl):
    """Section 5 cut one octet short inside any template of the table
    stops with the error that names the template, never the generic
    torn-message error or a read past the section's end."""
    import struct

    kw = _DRT_KWARGS[tmpl]
    v = _spectrum(3, 1) if "spectral" in kw else np.tile([1.0, 2.0], (3, 2))
    msg = encode_grib2_message(v, **kw)
    pos = 16
    while msg[pos + 4] != 5:
        pos += int.from_bytes(msg[pos : pos + 4], "big")
    n = int.from_bytes(msg[pos : pos + 4], "big")
    cut = bytearray(msg[: pos + n - 1] + msg[pos + n :])
    struct.pack_into(">I", cut, pos, n - 1)
    struct.pack_into(">Q", cut, 8, len(cut))
    assert decode_grib2(msg).packing_template == tmpl
    with pytest.raises(
        ValueError, match=rf"^truncated data representation template 5\.{tmpl}\b"
    ):
        decode_grib2(bytes(cut))
