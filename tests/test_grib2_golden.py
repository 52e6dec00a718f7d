"""Golden encode digests: the sha256 of one seeded GRIB2 message per data
representation template, plus the forms that take other paths through
the codec (bitmap, constant field, missing-value management 1 and 2,
the reduced Gaussian grid, a statistical product), and one per grid
definition template form those leave out (3.0 south-first, 3.1, 3.2,
3.3, 3.10, 3.20, 3.30 and the regular 3.40).  A codec change that moves
one output byte fails here, so a refactor of the encoder proves byte
identity inside the test suite.  The section-5 digests were computed
with the encoder as it stood before section 5 became a table, the
section-3 digests with the encoder as it stood before section 3 became
one (``_GDT``)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from monitoring_data_ingestion_spark.grid.grib2 import decode_grib2, encode_grib2_message

# The data representation templates the codec supports (WMO-No. 306).
_TEMPLATES = {0, 2, 3, 4, 40, 41, 42, 50, 51, 61, 200}


def _spectrum(truncation: int, seed: int) -> np.ndarray:
    """Integer-valued triangular spectrum, real m = 0 coefficients."""
    npairs = (truncation + 1) * (truncation + 2) // 2
    rng = np.random.default_rng(seed)
    c = rng.integers(-50, 50, npairs) + 1j * rng.integers(-50, 50, npairs)
    c[: truncation + 1] = c[: truncation + 1].real
    return c


def _cases() -> dict:
    """Case name -> (template, encode kwargs with ``values``)."""
    rng = np.random.default_rng(20261019)
    v = np.round(rng.uniform(200.0, 320.0, size=(6, 8)), 1)
    bitmap = rng.random((6, 8)) < 0.8
    kinds = rng.integers(0, 5, size=(6, 8))
    levels = rng.choice([np.nan, 0.5, 1.0, 2.0], size=(6, 8))
    rows = [4, 6, 6, 4]
    ragged = np.round(rng.uniform(0.0, 50.0, size=sum(rows)), 1)
    simple = dict(values=v, decimal_scale=1, nbits=12)
    return {
        "5.0": (0, simple),
        "5.0 bitmap": (0, dict(simple, bitmap=bitmap)),
        "5.0 constant": (0, dict(values=np.full((6, 8), 7.5), decimal_scale=1, nbits=0)),
        "5.0 statistical product": (0, dict(
            simple, statistical=dict(process=1, interval_end=(2020, 1, 2, 0, 0), range_hours=24),
            reftime=(2019, 12, 31, 18, 30), discipline=2,
        )),
        "5.0 reduced Gaussian": (0, dict(
            values=ragged, reduced_ni=rows, decimal_scale=1, nbits=10,
        )),
        "5.2": (2, dict(values=v, decimal_scale=1, packing="complex", group_len=5)),
        "5.2 mvm=1": (2, dict(
            values=v, decimal_scale=1, packing="complex", group_len=5,
            missing_mask=kinds == 0,
        )),
        "5.3 order 1": (3, dict(
            values=v, decimal_scale=1, packing="complex_diff", spatial_diff_order=1,
        )),
        "5.3 order 2 mvm=2": (3, dict(
            values=v, decimal_scale=1, packing="complex_diff", spatial_diff_order=2,
            group_len=4, missing_mask=kinds == 0, secondary_mask=kinds == 1,
            secondary_substitute=-1.0,
        )),
        "5.4 binary32": (4, dict(values=v, packing="ieee32")),
        "5.4 binary64": (4, dict(values=v, packing="ieee64", bitmap=bitmap)),
        "5.40": (40, dict(values=v, decimal_scale=1, packing="jpeg2000")),
        "5.40 bitmap": (40, dict(values=v, decimal_scale=1, packing="jpeg2000", bitmap=bitmap)),
        "5.41": (41, dict(values=v, decimal_scale=1, packing="png")),
        "5.42": (42, dict(simple, packing="aec", aec_block_size=16, aec_rsi=32)),
        "5.50 spectral": (50, dict(
            values=_spectrum(4, 3), spectral=dict(truncation=4), nbits=16,
        )),
        "5.51 spectral": (51, dict(
            values=_spectrum(6, 5), decimal_scale=2, nbits=20,
            spectral=dict(truncation=6, sub_truncation=2, laplacian=0.5),
        )),
        "5.61": (61, dict(
            values=v, packing="log", log_offset=1.0, decimal_scale=4, nbits=16,
        )),
        "5.200": (200, dict(
            values=levels, packing="runlength", rle_table=[5, 10, 20], nbits=4,
            decimal_scale=1,
        )),
    }


_GOLDEN = {
    "5.0": "4deb74d64d8c5508d4d901549a3e4265643da56ac88c0e36e265d8461f257bcc",
    "5.0 bitmap": "cb5fe31607a0cfd78947614f97c041e2b6db2b30a06c6245607380499fa83ec9",
    "5.0 constant": "68d5caa001f72a9d773d688a336cf1e3c73e5e93eefd9c05b876a234543458c4",
    "5.0 statistical product": "113e7f3fb1ca84f0f9730e31b7be3e20debccde4a79acc3b51d20f6ab7bddae3",
    "5.0 reduced Gaussian": "43ad58303fd35a1c6a54471c3f32c2ccaf7526bb497fb816257a7899a8bafaf7",
    "5.2": "5c42bea6d5a2ae2a8e4e36bdcb703d366e87c5b79589a32b807b522ed4a05892",
    "5.2 mvm=1": "91f401df65bf5ce5098002693dde231f2b74aaaa4ea01d78baa7d78ada16b0d4",
    "5.3 order 1": "b072af889321003577c8374a0519f0de38c7a9edb8eab780af3d84e2fa45c79d",
    "5.3 order 2 mvm=2": "d3ae60ac5a33d5cf64e655829f6d0a5a04de1e3c8ef31a40b7e07bc0ed2bbdd1",
    "5.4 binary32": "80ca284861a6102fbdd759d215e81096e53fe35bc659c2da73c6e20f856c5fa5",
    "5.4 binary64": "bad1a6dbe290af41876f69a42d768626c16988eb78a945df9b45445a07c03340",
    "5.40": "64ec1738024b60031d683f16b5810f205f6eb2170362973a9bf461ab6747eedc",
    "5.40 bitmap": "9d83a357f73d999f2946d3ed89e62ccc392e96e5bfe250707208ec93dbfaa300",
    "5.41": "3d2bb269cbd269ac465f169a831a6f7c267fae3becbe34212e64b73fc9c5cfcf",
    "5.42": "5f83d109f382f29a1c3334a2ced6e7fed495f9072994242a2d5f3a3835e30524",
    "5.50 spectral": "98c878ddcc79f869d8b9f1d3385efd07c8294cd6ac8101a019964cf4e08b0315",
    "5.51 spectral": "ad3401d2dd01ab6afec439b891d1a21d7dcdf11f40ff766256edd72171546e89",
    "5.61": "1be16142d1ccc673e4ce82367eab2a874a81bf7ca36b6755f3a429012717a1d6",
    "5.200": "092edfda4941c248c5844862f93364d0824b6d054bdbdd739bb1bf7a3c621049",
}


def _grid_cases() -> dict:
    """Case name -> (grid template, encode kwargs with ``values``)."""
    rng = np.random.default_rng(20261020)
    v = np.round(rng.uniform(200.0, 320.0, size=(6, 8)), 1)
    simple = dict(values=v, decimal_scale=1, nbits=12)
    rotated = dict(south_pole_lat=-32.5, south_pole_lon=10.0, angle=2.0)
    stretched = dict(pole_lat=46.5, pole_lon=2.6, factor=2.4)
    return {
        "3.0 south-first": (0, dict(
            simple, scanning_mode=0x40, lat_first_udeg=40_000_000,
            lon_first_udeg=-10_000_000, dlat_udeg=500_000, dlon_udeg=250_000,
        )),
        "3.1 rotated": (1, dict(simple, rotated=rotated)),
        "3.2 stretched": (2, dict(simple, stretched=stretched)),
        "3.3 stretched rotated": (3, dict(simple, rotated=rotated, stretched=stretched)),
        "3.10 Mercator": (10, dict(simple, mercator=dict(
            la1=-10.0, lo1=100.0, lad=20.0, dx_m=50000.0, dy_m=50000.0,
        ))),
        "3.20 polar stereographic": (20, dict(simple, polar_stereo=dict(
            la1=47.5, lo1=-110.0, lad=60.0, lov=-100.0, dx_m=25000.0, dy_m=25000.0,
        ))),
        "3.30 Lambert": (30, dict(simple, scanning_mode=0x40, lambert=dict(
            la1=21.0, lo1=-122.0, lad=38.5, lov=-97.5, latin1=38.5, latin2=38.5,
            dx_m=3000.0, dy_m=3000.0,
        ))),
        "3.40 regular Gaussian": (40, dict(
            simple, gaussian=True, lon_first_udeg=0, dlon_udeg=45_000_000,
        )),
    }


_GRID_GOLDEN = {
    "3.0 south-first": "33107f63cb40a9d755249a3d7983ac89eb29c9e2a31e165600d8a283f8c92d3c",
    "3.1 rotated": "6cabb15246e59676f548b1b66b5e7dc9874a128a50b8205e15986b371141cace",
    "3.2 stretched": "bd02366ed4ea437fcebd85dac6a695a874504b096f64c776e77e8415b1556d73",
    "3.3 stretched rotated": "c7a4ff19fe45e1f5fcf632ac0ed8d7271eb2065a96054a5bdc25f2bfea538893",
    "3.10 Mercator": "5b6a1080fb614fb546ada45f8e6e5232d5fefb217e4a8b136efe106f989b92ca",
    "3.20 polar stereographic": "706f69ce661005d32fc4d1e9488322030879e7a1771dbeb133713349272003b6",
    "3.30 Lambert": "41d96031566f9d39ebb44eeee8dd16ebbdc4a502de7e9ab162b45d28b0ccf454",
    "3.40 regular Gaussian": "0763cd9f66e159b3f9c3e1f7fb9c53cd782578a8307976e7b214637fb253eadc",
}


def _encode(kw: dict) -> bytes:
    kw = dict(kw)
    return encode_grib2_message(kw.pop("values"), **kw)


@pytest.mark.parametrize("name", sorted(_GOLDEN))
def test_encode_matches_its_golden_digest(name):
    tmpl, kw = _cases()[name]
    kw = dict(kw)
    msg = encode_grib2_message(kw.pop("values"), **kw)
    assert decode_grib2(msg).packing_template == tmpl
    assert hashlib.sha256(msg).hexdigest() == _GOLDEN[name]


def test_golden_cases_cover_every_data_representation_template():
    assert {t for t, _ in _cases().values()} == _TEMPLATES
    assert set(_cases()) == set(_GOLDEN)


@pytest.mark.parametrize("name", sorted(_GRID_GOLDEN))
def test_grid_encode_matches_its_golden_digest(name):
    tmpl, kw = _grid_cases()[name]
    msg = _encode(kw)
    assert decode_grib2(msg).grid_template == tmpl
    assert hashlib.sha256(msg).hexdigest() == _GRID_GOLDEN[name]


def test_golden_cases_cover_every_grid_definition_template():
    """A grid template the table gains cannot land without a digest."""
    from monitoring_data_ingestion_spark.grid.grib2 import _GDT

    assert set(_grid_cases()) == set(_GRID_GOLDEN)
    grids = {decode_grib2(_encode(kw)).grid_template for _, kw in _cases().values()}
    assert grids | {t for t, _ in _grid_cases().values()} == set(_GDT)
