"""CCSDS 121.0 (AEC/Rice) codec (grid/aec.py): encode→decode
round-trips across the option space, FOREIGN hand-laid bitstreams for
every decoder option (fundamental sequence, split-k, uncompressed,
zero-block runs + ROS, second extension, preprocessed reference
samples), GRIB2 template 5.42 integration, and loud-stop guards."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from monitoring_data_ingestion_spark.grid.aec import (
    FLAG_MSB,
    FLAG_PAD_RSI,
    FLAG_PREPROCESS,
    FLAG_RESTRICTED,
    FLAG_SIGNED,
    _postprocess,
    _preprocess,
    aec_decode,
    aec_encode,
)


def _bits(s: str) -> bytes:
    """Hand-laid bit string → padded bytes (foreign-assembly helper —
    never touches the codec's own writer)."""
    s = s.replace(" ", "").replace("|", "")
    s += "0" * (-len(s) % 8)
    return bytes(int(s[i : i + 8], 2) for i in range(0, len(s), 8))


@settings(max_examples=60, deadline=None)
@given(
    nbits=st.integers(1, 24),
    n=st.integers(1, 500),
    block=st.sampled_from([8, 16, 32, 64]),
    rsi=st.sampled_from([1, 2, 8, 128]),
    pre=st.booleans(),
    style=st.integers(0, 3),
    seed=st.integers(0, 2**31),
)
def test_roundtrip_property(nbits, n, block, rsi, pre, style, seed):
    """Any sample sequence round-trips bit-exactly under any legal
    (block, rsi, preprocess) configuration — random, smooth-walk,
    sparse (zero-block heavy) and constant styles."""
    rng = np.random.default_rng(seed)
    hi = 1 << nbits
    if style == 0:
        x = rng.integers(0, hi, size=n)
    elif style == 1:
        x = np.clip(
            np.cumsum(rng.integers(-2, 3, size=n)) + hi // 2, 0, hi - 1
        )
    elif style == 2:
        x = np.zeros(n, dtype=np.int64)
        idx = rng.integers(0, n, size=max(1, n // 40))
        x[idx] = rng.integers(0, hi, size=len(idx))
    else:
        x = np.full(n, int(rng.integers(0, hi)))
    flags = FLAG_MSB | (FLAG_PREPROCESS if pre else 0)
    enc = aec_encode(x, nbits, flags=flags, block_size=block, rsi=rsi)
    dec = aec_decode(enc, n, nbits, flags=flags, block_size=block, rsi=rsi)
    assert np.array_equal(dec, x)


# operational size: one 0.25° Africa field (291 × 281 cells) at 12 bits,
# GRIB2 template 5.42's defaults (J = 32, RSI = 128 blocks → 4,096-sample
# reference groups)
_OP_SHAPE = (291, 281)
_OP_NBITS = 12


def _precip_like(seed: int) -> np.ndarray:
    """Zero-heavy field: dry cells at 0, wet cells gamma-distributed —
    every dry→wet step saturates the preprocessor's mapper."""
    rng = np.random.default_rng(seed)
    lat = np.linspace(37.5, -35.0, _OP_SHAPE[0])[:, None]
    p_wet = 0.15 + 0.7 * np.cos(np.radians(4 * lat)) ** 2
    wet = rng.random(_OP_SHAPE) < p_wet
    amount = rng.gamma(0.8, 400.0, _OP_SHAPE)
    return np.clip(np.round(wet * amount), 0, 2**_OP_NBITS - 1).astype(
        np.int64
    ).reshape(-1)


def _t2m_like(seed: int) -> np.ndarray:
    """Smooth field well inside the range: the mapper never saturates."""
    rng = np.random.default_rng(seed)
    lat = np.linspace(37.5, -35.0, _OP_SHAPE[0])[:, None]
    lon = np.linspace(-18.0, 52.0, _OP_SHAPE[1])[None, :]
    t = (
        2000 + 600 * np.cos(np.radians(2 * lat))
        + 150 * np.sin(np.radians(3 * lon))
        + rng.normal(0.0, 8.0, _OP_SHAPE)
    )
    return np.round(t).astype(np.int64).reshape(-1)


def _unmap_reference(mapped: np.ndarray, nbits: int, rsi: int,
                     block: int) -> np.ndarray:
    """The inverse mapper as the module docstring states it, one sample
    at a time: the reference value for _postprocess."""
    xmax = (1 << nbits) - 1
    out = []
    for i, v in enumerate(mapped.tolist()):
        if i % (rsi * block) == 0:
            p = v  # reference sample, raw
        else:
            theta = min(p, xmax - p)
            if v <= 2 * theta:
                p += -((v + 1) // 2) if v % 2 else v // 2
            elif p < xmax - p:
                p += v - theta
            else:
                p -= v - theta
        out.append(p)
    return np.array(out, dtype=np.int64)


@pytest.mark.parametrize("pad_rsi", [False, True])
@pytest.mark.parametrize("field", [_precip_like, _t2m_like])
def test_operational_size_roundtrip(field, pad_rsi):
    """81,771 12-bit samples (20 reference groups) round-trip bit-exactly,
    with and without byte-aligned RSI groups."""
    x = field(5)
    flags = FLAG_MSB | FLAG_PREPROCESS | (FLAG_PAD_RSI if pad_rsi else 0)
    enc = aec_encode(x, _OP_NBITS, flags=flags)
    assert np.array_equal(aec_decode(enc, len(x), _OP_NBITS, flags=flags), x)
    with pytest.raises(ValueError, match="truncated"):
        aec_decode(enc[: len(enc) * 3 // 4], len(x), _OP_NBITS, flags=flags)


def test_postprocess_matches_scalar_reference():
    """The linear inverse mapper against the plain per-sample loop, on
    the preprocessed operational fields (the precipitation-like one
    saturates thousands of times) and on arbitrary mapped values, which
    saturate at both ends of the range."""
    xmax = (1 << _OP_NBITS) - 1
    precip = _precip_like(7)
    p = precip[:-1]
    saturated = np.abs(precip[1:] - p) > np.minimum(p, xmax - p)
    assert saturated.sum() > 1000
    for x in (precip, _t2m_like(7)):
        m = _preprocess(x, _OP_NBITS, 128, 32)
        got = _postprocess(m, _OP_NBITS, 128, 32)
        assert np.array_equal(got, _unmap_reference(m, _OP_NBITS, 128, 32))
        assert np.array_equal(got, x)
    rng = np.random.default_rng(11)
    for rsi, block in ((128, 32), (1, 8), (3, 16)):
        m = rng.integers(0, xmax + 1, size=20_000)
        calm = rng.random(len(m)) < 0.6  # long in-range runs
        m[calm] = rng.integers(0, 4, size=int(calm.sum()))
        assert np.array_equal(
            _postprocess(m, _OP_NBITS, rsi, block),
            _unmap_reference(m, _OP_NBITS, rsi, block),
        )


def test_compression_beats_raw_on_smooth_fields():
    """The point of Rice coding: a smooth field's deltas FS-code far
    below the raw width, and an all-zero field collapses to the
    zero-block run codes."""
    x = np.clip(
        np.cumsum(np.tile([1, -1, 2, 0, -2], 2000)) + 2**14, 0, 2**16 - 1
    )
    enc = aec_encode(x, 16)
    assert len(enc) < len(x) * 2 / 4  # > 4x over raw 16-bit
    zeros = aec_encode(np.zeros(4096, dtype=np.int64), 16)
    assert len(zeros) < 64  # segment-run codes only


def test_foreign_bitstream_all_decoder_options():
    """FOREIGN-BYTES witness: a hand-laid 6-block stream (n = 4 bits →
    3-bit BASIC-mode IDs — the 2-bit widths belong to the rejected
    RESTRICTED option; block J = 8, NO preprocessing) exercising every
    decoder option, with expectations computed by hand from CCSDS
    121.0-B:

    block 1 — FS (ID 001):            [1,0,2,1,0,3,1,0]
    block 2 — split k=1 (ID 010):     [4,5,6,7,8,9,10,11]
                                      highs FS [2,2,3,3,4,4,5,5],
                                      then the 8 low bits 01010101
    block 3 — uncompressed (ID 111):  [15,0,9,3,12,1,7,8]
    blocks 4-5 — zero run (ID 000+0): value 2 → FS(1)
    block 6 — second extension
              (ID 000+1):             pairs (1,0),(2,1),(0,0),(1,1) →
                                      γ = [1, 7, 0, 4], FS-coded
    """
    stream = _bits(
        "001 01 1 001 01 1 0001 01 1"          # FS block
        "| 010 001 001 0001 0001 00001 00001 000001 000001 01010101"
        "| 111 1111 0000 1001 0011 1100 0001 0111 1000"
        "| 000 0 01"                            # zero-block run of 2
        "| 000 1 01 00000001 1 00001"           # second extension
    )
    out = aec_decode(stream, 48, 4, flags=FLAG_MSB, block_size=8, rsi=128)
    expected = (
        [1, 0, 2, 1, 0, 3, 1, 0]
        + [4, 5, 6, 7, 8, 9, 10, 11]
        + [15, 0, 9, 3, 12, 1, 7, 8]
        + [0] * 16
        + [1, 0, 2, 1, 0, 0, 1, 1]
    )
    assert out.tolist() == expected


def test_foreign_bitstream_preprocessed_reference():
    """FOREIGN-BYTES witness for the preprocessor: one FS block with a
    raw reference sample (rsi = 1 → every block starts a reference
    group).  x = [5,6,4,4,7,5,5,2] at 4 bits maps (θ = min(p, 15−p))
    to ref 5 then deltas m = [2,3,0,6,3,0,5]:
      p=5 δ=+1→2 ; p=6 δ=−2→3 ; p=4 δ=0→0 ; p=4 δ=+3 (θ=4)→6 ;
      p=7 δ=−2→3 ; p=5 δ=0→0 ; p=5 δ=−3 (θ=5)→5.
    Stream: ID 001 (3-bit basic-mode width), ref '0101', FS of
    [2,3,0,6,3,0,5]."""
    stream = _bits("001 0101 001 0001 1 0000001 0001 1 000001")
    out = aec_decode(
        stream, 8, 4,
        flags=FLAG_MSB | FLAG_PREPROCESS, block_size=8, rsi=1,
    )
    assert out.tolist() == [5, 6, 4, 4, 7, 5, 5, 2]


def test_foreign_ros_runs_to_segment_end():
    """The ROS code (zero-run value 5 = FS(4)) zeroes the REMAINDER of
    the 64-block segment — here blocks 2-10 of a 10-block stream after
    one FS block (n = 2 bits → 3-bit basic-mode IDs)."""
    stream = _bits(
        "001 01 1 1 001 1 01 1 1"   # FS block: [1,0,0,2,0,1,0,0]
        "| 000 0 00001"             # zero-block, ROS (value 5)
    )
    out = aec_decode(stream, 80, 2, flags=FLAG_MSB, block_size=8, rsi=128)
    assert out.tolist()[:8] == [1, 0, 0, 2, 0, 1, 0, 0]
    assert not any(out.tolist()[8:])


def test_guards_stop_loudly():
    x = np.arange(10, dtype=np.int64)
    with pytest.raises(ValueError, match="MSB-first"):
        aec_encode(x, 8, flags=FLAG_PREPROCESS)
    with pytest.raises(ValueError, match="signed / restricted"):
        aec_encode(x, 8, flags=FLAG_MSB | FLAG_SIGNED)
    with pytest.raises(ValueError, match="signed / restricted"):
        aec_decode(b"\x00", 1, 8, flags=FLAG_MSB | FLAG_RESTRICTED)
    with pytest.raises(ValueError, match="block size"):
        aec_encode(x, 8, block_size=12)
    with pytest.raises(ValueError, match="exceed the 3-bit range"):
        aec_encode(x, 3)
    with pytest.raises(ValueError, match="resolution"):
        aec_encode(x, 33)
    # a truncated stream never decodes garbage
    good = aec_encode(np.arange(100) % 200, 8)
    with pytest.raises(ValueError, match="truncated"):
        aec_decode(good[: len(good) // 2], 100, 8)
    # a zero-run crossing a reference block is a malformed stream:
    # ID 000 + '0', the block-0 REFERENCE sample (raw 4 bits), then
    # run value 4 = FS(3) — blocks 0-3 with rsi=2 swallow block 2's ref
    bad = _bits("000 0 0000 0001")
    with pytest.raises(ValueError, match="swallows a reference"):
        aec_decode(
            bad, 32, 4,
            flags=FLAG_MSB | FLAG_PREPROCESS, block_size=8, rsi=2,
        )
    # ... and WITHOUT preprocessing too: ID 000 + '0', run value 2 =
    # FS(1) — with rsi = 1 the run crosses into block 1's RSI group,
    # where zero-run accounting restarts (libaec never emits it)
    with pytest.raises(ValueError, match="crosses an RSI boundary"):
        aec_decode(
            bytes([0b00000100]), 16, 4,
            flags=FLAG_MSB, block_size=8, rsi=1,
        )
    # a split exponent past the sample width would shift garbage in:
    # n = 5 → 3-bit IDs, ID 6 → k = 5 > n − 1 = 4
    bad = _bits("110" + "1" * 60)
    with pytest.raises(ValueError, match="split exponent"):
        aec_decode(bad, 16, 5, flags=FLAG_MSB, block_size=16, rsi=128)


def test_foreign_second_extension_with_reference():
    """FOREIGN-BYTES witness for the second extension on a REFERENCE
    block (n = 4 bits, J = 8, rsi = 1): the reference rides raw, then
    J/2 = 4 gammas where the FIRST covers only δ1 as the half-pair
    (0, δ1).  x = [5,5,6,5,5,5,6,6] maps to ref 5 and deltas
    δ = [0,2,1,0,0,2,0] (θ = min(p, 15−p)); gammas: half-pair
    (0,0) → 0, (2,1) → s=3 → 7, (0,0) → 0, (2,0) → s=2 → 3.
    Stream: ID 000, ext '1', ref '0101', FS of [0, 7, 0, 3]."""
    stream = _bits("000 1 0101 1 00000001 1 0001")
    out = aec_decode(
        stream, 8, 4,
        flags=FLAG_MSB | FLAG_PREPROCESS, block_size=8, rsi=1,
    )
    assert out.tolist() == [5, 5, 6, 5, 5, 5, 6, 6]
    # libaec posture: the discarded a-half of the first gamma need not
    # be zero — γ=1 decodes as (a=1, b=0), the b half still lands
    alt = _bits("000 1 0101 01 00000001 1 0001")
    out = aec_decode(
        alt, 8, 4,
        flags=FLAG_MSB | FLAG_PREPROCESS, block_size=8, rsi=1,
    )
    assert out.tolist() == [5, 5, 6, 5, 5, 5, 6, 6]


def test_encoder_emits_second_extension_when_cheapest():
    """A zero-heavy (but not all-zero) block is cheaper under the
    second extension than under any split — the encoder now emits it
    (like libaec) and it round-trips, including across a reference
    sample."""
    x = np.tile([0, 0, 0, 0, 0, 0, 1, 0], 8)
    enc = aec_encode(x, 4, flags=FLAG_MSB, block_size=8, rsi=128)
    bits = np.unpackbits(np.frombuffer(enc, dtype=np.uint8))
    assert bits[:4].tolist() == [0, 0, 0, 1]  # ID 000 + ext '1'
    dec = aec_decode(enc, len(x), 4, flags=FLAG_MSB, block_size=8, rsi=128)
    assert np.array_equal(dec, x)
    # preprocessed: every block a reference group (rsi=1) — the SE
    # must carry the raw reference correctly.  Deltas map to
    # [0,0,0,2,0,0,0]: the half-pair + three pairs cost 8 bits past
    # the ID vs 9 for the plain FS, so SE wins on a ref block too.
    y = np.tile([7, 7, 7, 7, 8, 8, 8, 8], 8)
    flags = FLAG_MSB | FLAG_PREPROCESS
    enc = aec_encode(y, 4, flags=flags, block_size=8, rsi=1)
    bits = np.unpackbits(np.frombuffer(enc, dtype=np.uint8))
    assert bits[:4].tolist() == [0, 0, 0, 1]  # ID 000 + ext '1'
    dec = aec_decode(enc, len(y), 4, flags=flags, block_size=8, rsi=1)
    assert np.array_equal(dec, y)


def test_grib2_template_5_42_end_to_end():
    """GRIB2 integration: packing='aec' writes template 5.42 (flags /
    block size / RSI in octets 21-24) and the landing decode
    reconstructs bit-exactly; composes with bitmaps and south-first
    scan normalization; constant fields keep the empty-stream
    convention; 5.42 beats simple packing on a smooth field."""
    from monitoring_data_ingestion_spark.grid.grib2 import (
        decode_grib2,
        encode_grib2_message,
    )

    rng = np.random.default_rng(23)
    v = np.clip(
        np.cumsum(rng.integers(-4, 5, size=60)) + 500, 0, 4000
    ).astype(np.float64).reshape(6, 10)
    for block, rsi in ((8, 1), (32, 128), (64, 4)):
        rec = decode_grib2(
            encode_grib2_message(
                v, packing="aec", nbits=12, reference_value=0.0,
                aec_block_size=block, aec_rsi=rsi,
            )
        )
        assert rec.packing_template == 42
        assert np.array_equal(rec.values, v)
    bm = rng.integers(0, 3, size=(6, 10)) != 0
    rec = decode_grib2(
        encode_grib2_message(
            v, packing="aec", nbits=12, bitmap=bm, reference_value=0.0
        )
    )
    assert np.isnan(rec.values[~bm]).all()
    assert np.array_equal(rec.values[bm], v[bm])
    rec = decode_grib2(
        encode_grib2_message(
            v, packing="aec", nbits=12, scanning_mode=0x40,
            reference_value=0.0,
        )
    )
    assert np.array_equal(rec.values, v)
    rec = decode_grib2(
        encode_grib2_message(
            np.full((3, 4), 9.0), packing="aec", nbits=0,
            reference_value=9.0,
        )
    )
    assert np.array_equal(rec.values, np.full((3, 4), 9.0))
    smooth = (np.arange(8000, dtype=np.float64) % 997).reshape(80, 100)
    a = encode_grib2_message(smooth, packing="aec", nbits=10, reference_value=0.0)
    s = encode_grib2_message(smooth, nbits=10, reference_value=0.0)
    assert len(a) < len(s) / 2
