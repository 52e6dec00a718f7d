"""GRIB catalog queries — rotated/stretched geometries and spectral
families (SURVEY.md §2 S5): rotated and Schmidt-stretched lat/lon
grids, spherical-harmonic round-trips, spectral synthesis and the
5.51 complex spectral packing, robust inventories and level-match
selection.  Split out of the former monolithic plans/grid_q.py in
r16 — every registry name and oracle is unchanged.

The gate → archive synth → decode scaffold and the shared witness
columns live in plans/grid_common.py (``landed_records`` /
``doc_archives``); each query here owns only its archive ``build`` function
and its witness arithmetic."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import query
from .grid_codec_q import _PROJECTED_CELLS_SCHEMA, _projected_cells, _projected_stats
from .grid_common import (
    doc_archives,
    doc_id,
    landed_inventory,
    landed_records,
    vsum,
)

def _unrotate_trig(rlat, rlon, sp_lat, sp_lon, angle):
    """Rotated → true coordinates by the DIRECT spherical formulas
    (arcsin/atan2) under the codec's documented eccodes/COSMO
    convention (rotated north pole = antipode of the coded southern
    pole; the angle adds to the rotated longitude before the tilt;
    true longitudes measured from the coded southern-pole longitude —
    rotated (0°, 0°) under pole (−40°, 10°E) is true (50°N, 10°E)).
    This is the oracle-side SECOND formulation of
    grib2.rotated_unrotate's matrix composition — engine-vs-
    formulation independence, like the Snyder/isometric Lambert
    pair."""
    import math

    lam2 = math.radians(rlon + angle)
    phi = math.radians(rlat)
    phi_n = math.radians(-sp_lat)
    lat = math.degrees(
        math.asin(
            math.sin(phi) * math.sin(phi_n)
            + math.cos(phi) * math.cos(lam2) * math.cos(phi_n)
        )
    )
    y = math.cos(phi) * math.sin(lam2)
    x = (
        math.cos(phi) * math.cos(lam2) * math.sin(phi_n)
        - math.sin(phi) * math.cos(phi_n)
    )
    lon = sp_lon + math.degrees(math.atan2(y, x))
    lon = (lon + 180.0) % 360.0 - 180.0
    return lat, lon


def _rotated_params(d: int) -> dict:
    return dict(
        south_pole_lat=-(25 + d % 15),
        south_pole_lon=(d % 37) - 18,
        angle=(d % 5) - 2,
    )


def _rotated_corner_values_sql() -> str:
    """(doc_id, anchor/far-corner true lat/lon in µdeg) from the direct
    trig formulation."""
    rows = []
    for d in range(0, 500):
        if d % 17 != 11:
            continue
        ni, nj = 7 + d % 4, 4 + d % 3
        p = _rotated_params(d)
        la1, lo1 = 8.0 + d % 6, -(10.0 + d % 9)
        a_lat, a_lon = _unrotate_trig(
            la1, lo1, p["south_pole_lat"], p["south_pole_lon"], p["angle"]
        )
        c_lat, c_lon = _unrotate_trig(
            la1 - (nj - 1) * 0.5, lo1 + (ni - 1) * 0.5,
            p["south_pole_lat"], p["south_pole_lon"], p["angle"],
        )
        rows.append(
            f"({d}, {int(round(a_lat * 1e6))}, {int(round(a_lon * 1e6))}, "
            f"{int(round(c_lat * 1e6))}, {int(round(c_lon * 1e6))})"
        )
    return ",\n       ".join(rows)


@query(
    "grid_grib2_rotated_decode",
    tags=("grid", "codec", "python", "ingest"),
    oracle=f"""
WITH g AS (
  SELECT doc_id,
         7 + doc_id % 4 AS ni,
         4 + doc_id % 3 AS nj
  FROM documents WHERE doc_id % 17 = 11 AND doc_id < 500
),
corner(doc_id, a_lat_udeg, a_lon_udeg, c_lat_udeg, c_lon_udeg) AS (
  VALUES {_rotated_corner_values_sql()}
),
cells AS (
  SELECT doc_id, ni, nj,
         70 + ((doc_id * 3 + i.i * 11 + j.j * 2) % 50) AS v,
         j.j * ni + i.i AS pos
  FROM g,
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj - 1)) AS j) j
)
SELECT c.doc_id,
       CAST(1 AS INTEGER) AS grid_tmpl,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(c.v) AS BIGINT) AS vsum,
       CAST(SUM(c.v * c.pos) AS BIGINT) AS wsum,
       CAST(MIN(k.a_lat_udeg) AS BIGINT) AS lat0_udeg,
       CAST(MIN(k.a_lon_udeg) AS BIGINT) AS lon0_udeg,
       CAST(MIN(k.c_lat_udeg) AS BIGINT) AS corner_lat_udeg,
       CAST(MIN(k.c_lon_udeg) AS BIGINT) AS corner_lon_udeg
FROM cells c JOIN corner k ON k.doc_id = c.doc_id
GROUP BY c.doc_id
ORDER BY c.doc_id
""",
)
def grid_grib2_rotated_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRIB2 ROTATED lat/lon decode (grid template 3.1) — the regional
    geometry COSMO / HIRLAM-family archives ship, read by the
    reference through wgrib2 (/root/reference/src/file-conversions.js:
    49-51,76-112).  One record per selected document on a pole that
    varies per document (latitude, longitude AND rotation angle,
    including negative angles and γ=0), half of them stored
    south-first (scanning 0x40 normalizes in ROTATED latitude); the
    engine recovers per-cell TRUE coordinates through the matrix
    unrotation (grid/grib2.py::rotated_unrotate), lazily and
    vectorized, with the affine fields never masquerading as
    geography.

    Witness independence: the oracle embeds anchor and far-corner true
    coordinates from the DIRECT arcsin/atan2 spherical formulation (a
    second implementation path) in integer microdegrees; ``wsum``
    keeps the payload raster-order sensitive, so a row flip or a
    mis-tilted pole cannot cancel.  Completes the grid-template family
    3.0/3.1/3.10/3.20/3.30/3.40.

    Scale: codec-query posture — bytes executor-side, statistic rows
    shuffle, O(cells) vectorized trig in the Arrow stage.
    """
    import numpy as np

    from ..grid.grib2 import encode_grib2_message

    def build(d: int) -> bytes:
        ni, nj = 7 + d % 4, 4 + d % 3
        i = np.arange(ni)[None, :]
        j = np.arange(nj)[:, None]
        v = (70 + ((d * 3 + i * 11 + j * 2) % 50)).astype(np.float64)
        return encode_grib2_message(
            v,
            rotated=_rotated_params(d),
            lat_first_udeg=(8 + d % 6) * 1_000_000,
            lon_first_udeg=-(10 + d % 9) * 1_000_000,
            dlat_udeg=500_000,
            dlon_udeg=500_000,
            scanning_mode=0x40 if d % 2 else 0x00,
            reference_value=70.0,
            nbits=8,
        )

    decoded = doc_archives(
        spark, sf_dir, (17, 11, 500), build, _projected_cells,
        _PROJECTED_CELLS_SCHEMA,
    )
    return _projected_stats(decoded, ("doc_id", "grid_tmpl"))


def _grib1_rotated_cells_values_sql() -> str:
    """(doc_id, i, j, true lat/lon in µdeg) for every cell of each
    selected document's rotated record, from the direct trig
    formulation (_unrotate_trig) — the oracle-side second
    implementation of the codec's matrix unrotation."""
    rows = []
    for d in range(0, 500):
        if d % 17 != 3:
            continue
        ni, nj = 7 + d % 4, 4 + d % 3
        p = _rotated_params(d)
        la1, lo1 = 8.0 + d % 6, -(10.0 + d % 9)
        for j in range(nj):
            for i in range(ni):
                lat, lon = _unrotate_trig(
                    la1 - j * 0.5, lo1 + i * 0.5,
                    p["south_pole_lat"], p["south_pole_lon"], p["angle"],
                )
                rows.append(
                    f"({d}, {i}, {j}, "
                    f"{int(round(lat * 1e6))}, {int(round(lon * 1e6))})"
                )
    return ",\n       ".join(rows)


@query(
    "grid_grib1_rotated_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle=f"""
WITH g AS (
  SELECT doc_id,
         7 + doc_id % 4 AS ni,
         4 + doc_id % 3 AS nj
  FROM documents WHERE doc_id % 17 = 3 AND doc_id < 500
),
rot(doc_id, i, j, lat_udeg, lon_udeg) AS (
  VALUES {_grib1_rotated_cells_values_sql()}
),
cells1 AS (
  SELECT doc_id, 1 AS rn,
         60 + ((doc_id * 3 + i.i * 11 + j.j * 2) % 50) AS v,
         CAST((60000 - j.j * 1000) AS BIGINT) * 1000 AS lat_udeg,
         CAST(i.i * 1000 AS BIGINT) * 1000 AS lon_udeg
  FROM g,
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj - 1)) AS j) j
),
cells2 AS (
  SELECT g.doc_id, 2 AS rn,
         60 + ((g.doc_id * 3 + 7 + r.i * 11 + r.j * 2) % 50) AS v,
         r.lat_udeg, r.lon_udeg
  FROM g JOIN rot r ON r.doc_id = g.doc_id
),
cells AS (
  SELECT * FROM cells1 UNION ALL SELECT * FROM cells2
)
SELECT doc_id,
       CAST(rn AS INTEGER) AS record_number,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(v) AS BIGINT) AS vsum,
       CAST(SUM(v * lat_udeg) AS BIGINT) AS latvsum,
       CAST(SUM(v * lon_udeg) AS BIGINT) AS lonvsum
FROM cells
GROUP BY doc_id, rn
ORDER BY doc_id, rn
""",
)
def grid_grib1_rotated_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRIB EDITION-1 ROTATED lat/lon grids (data representation type
    10 — the COSMO/HIRLAM edition-1 form) through the REAL landing
    path and the unified CELL explode.  The type-0 axes are
    coordinates IN THE ROTATED SYSTEM; octets 33-42 append the south
    pole (signed-magnitude mdeg) and the rotation angle (IBM 32-bit
    float).  The record lands like the GRIB2 template-3.1 family:
    affine georef NULL — rotated axes never masquerade as geography —
    and true per-cell coordinates (the SAME cross-edition unrotation,
    grib2.rotated_unrotate) ride the cell arrays that ``grib1_cells``
    serves through the unified lat_udeg/lon_udeg columns, beside a
    regular lat/lon record witnessed closed-form.

    Witness independence: the oracle embeds EVERY rotated cell's true
    coordinates from the direct arcsin/atan2 spherical formulation;
    the payload-weighted ``latvsum``/``lonvsum`` pin each cell's
    coordinate-to-value assignment exactly (integer compare), so a row
    flip, a mis-tilted pole or a wrong IBM-float angle cannot cancel.

    Scale: the landing posture — decode + unrotation are one
    embarrassingly parallel Arrow stage (O(cells) vectorized trig);
    only per-record statistic rows shuffle.
    """
    import numpy as np

    from ..grid.grib1 import encode_grib1_message
    from ..sources.grib_source import grib1_cells

    def build(d: int) -> bytes:
        ni, nj = 7 + d % 4, 4 + d % 3
        i = np.arange(ni)[None, :]
        j = np.arange(nj)[:, None]

        def field(r: int) -> np.ndarray:
            return (
                60 + ((d * 3 + r * 7 + i * 11 + j * 2) % 50)
            ).astype(np.float64)

        enc = dict(reference_value=60.0, nbits=8)
        p = _rotated_params(d)
        msgs = [
            encode_grib1_message(
                field(0), **enc,
                lat_first_mdeg=60_000, dlat_mdeg=1_000,
            ),
            encode_grib1_message(
                field(1), **enc,
                lat_first_mdeg=(8 + d % 6) * 1000,
                lon_first_mdeg=-(10 + d % 9) * 1000,
                dlat_mdeg=500, dlon_mdeg=500,
                scanning_mode=0x40 if d % 2 else 0x00,
                rotated=p,
            ),
        ]
        return b"".join(msgs)

    cells = grib1_cells(landed_records(spark, sf_dir, (17, 3, 500), build))
    return (
        cells.groupBy(doc_id(), "record_number")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum(F.col("value").cast("bigint")).alias("vsum"),
            F.sum(F.col("value").cast("bigint") * F.col("lat_udeg")).alias(
                "latvsum"
            ),
            F.sum(F.col("value").cast("bigint") * F.col("lon_udeg")).alias(
                "lonvsum"
            ),
        )
        .orderBy("doc_id", "record_number")
    )


# --- spherical-harmonic (SPECTRAL) records, both editions --------------------
# Per selected document a triangular T-spectrum (T = 3 + d % 4) with
# integer coefficients, k = 0 .. (T+1)(T+2)/2 - 1 in mode-1 order:
#   re_k = ((d*7 + k*13) mod 101) - 50
#   im_k = 0 for k <= T (the m = 0 block of a real field), else
#          ((d*5 + k*11) mod 101) - 50
# encoded as BOTH editions' spectral form (GRIB1 GDS type 50 + the BDS
# spherical-harmonics flag; GRIB2 templates 3.50 + 5.50) in one mixed
# buffer.


def _spectral_coeffs(d: int, t: int, pa: int, pb: int, pc: int, pd_: int, mod: int):
    """The deterministic integer spectrum both the engine-side synth
    and the oracle SQL restate — the FIXTURE, not the witness."""
    import numpy as np

    npairs = (t + 1) * (t + 2) // 2
    k = np.arange(npairs)
    re = ((d * pa + k * pb) % mod) - mod // 2
    im = np.where(k <= t, 0, ((d * pc + k * pd_) % mod) - mod // 2)
    return (re + 1j * im).astype(complex)


@query(
    "grid_grib_spectral_roundtrip",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id, 3 + doc_id % 4 AS t
  FROM documents WHERE doc_id % 13 = 5 AND doc_id < 500
),
k AS (
  SELECT doc_id, t, k.k AS k,
         ((doc_id * 7 + k.k * 13) % 101) - 50 AS re,
         CASE WHEN k.k <= t THEN 0
              ELSE ((doc_id * 5 + k.k * 11) % 101) - 50 END AS im
  FROM g,
       LATERAL (
         SELECT unnest(generate_series(0, (t + 1) * (t + 2) // 2 - 1)) AS k
       ) k
)
SELECT k.doc_id,
       CAST(e.e AS INTEGER) AS edition,
       CAST(MIN(t) AS INTEGER) AS truncation,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(re) AS BIGINT) AS re_sum,
       CAST(SUM(im) AS BIGINT) AS im_sum,
       CAST(SUM((k + 1) * re) AS BIGINT) AS re_wsum,
       CAST(SUM((k + 1) * im) AS BIGINT) AS im_wsum
FROM k, UNNEST(generate_series(1, 2)) AS e(e)
GROUP BY k.doc_id, e.e
ORDER BY doc_id, edition
""",
)
def grid_grib_spectral_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPHERICAL-HARMONIC records decoded from BOTH GRIB editions —
    the spectral form ERA5/IFS native archives ship for dynamics
    variables (the boundary the engine previously rejected loudly;
    wgrib2 lists and extracts such records).  One mixed buffer per
    selected document holds the SAME triangular T-spectrum as a GRIB1
    message (GDS type 50, the BDS spherical-harmonics flag, the (0,0)
    real part unpacked as an IBM-32 float at BDS octets 12-15) and a
    GRIB2 message (grid template 3.50 + data representation 5.50, the
    (0,0) real part as an IEEE-32 in the template); the scan dispatches
    per message on the edition octet and recovers the complex
    coefficient sequence EXACTLY (integer coefficients, E = D = 0).

    Witness: per (document, edition) the coefficient count, plain and
    position-weighted sums of the real and imaginary parts — exact
    BIGINT compare, so a flipped re/im interleave, a dropped (0,0)
    coefficient, a wrong truncation or an edition-specific off-by-one
    in the unpacked-first-value layout cannot cancel.  Both editions
    must agree with the SAME closed form.

    Scale: codec-query posture — bytes stay executor-side in one Arrow
    stage, only per-record statistic rows shuffle; header cost is a
    few hundred bytes and the coefficient unpack is vectorized numpy.
    """
    from ..grid.grib1 import decode_grib1, encode_grib1_message
    from ..grid.grib2 import decode_grib2, encode_grib2_message
    from ..sources.grib_source import iter_grib_messages

    def build(d: int) -> bytes:
        t = 3 + d % 4
        c = _spectral_coeffs(d, t, 7, 13, 5, 11, 101)
        return encode_grib1_message(
            c, spectral=dict(truncation=t), nbits=8, parameter=80
        ) + encode_grib2_message(
            c, spectral=dict(truncation=t), nbits=8,
            category=3, number=9,
        )

    def decode(d: int, buf: bytes):
        for edition, msg in iter_grib_messages(buf):
            rec = (decode_grib1(msg) if edition == 1 else decode_grib2(msg))
            co = rec.spectral_coeffs
            yield {
                "edition": edition,
                "truncation": rec.spectral_truncation,
                "re": co.real.tolist(),
                "im": co.imag.tolist(),
            }

    decoded = doc_archives(
        spark, sf_dir, (13, 5, 500), build, decode,
        "edition int, truncation int, re array<double>, im array<double>",
    )
    pair = F.posexplode(F.arrays_zip("re", "im")).alias("k", "pair")
    return (
        decoded.select("doc_id", "edition", "truncation", pair)
        .select(
            "doc_id",
            "edition",
            "truncation",
            "k",
            F.col("pair.re").cast("bigint").alias("re"),
            F.col("pair.im").cast("bigint").alias("im"),
        )
        .groupBy("doc_id", "edition")
        .agg(
            F.min("truncation").alias("truncation"),
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("re").alias("re_sum"),
            F.sum("im").alias("im_sum"),
            F.sum((F.col("k") + 1) * F.col("re")).alias("re_wsum"),
            F.sum((F.col("k") + 1) * F.col("im")).alias("im_wsum"),
        )
        .orderBy("doc_id", "edition")
    )


def _synth_ref(d: int) -> tuple[float, float]:
    """(val_sum, val_wsum) of the document's synthesized 6×8 grid from
    the INDEPENDENT formulation: derivative-definition associated
    Legendre functions (numpy.polynomial.legendre supplies P_n and
    d^m/dmu^m; explicit factorial normalization) on numpy.leggauss
    quadrature latitudes, synthesized by the explicit triple loop —
    the oracle-side second implementation of grib2.spectral_legendre's
    recurrence + grib2.spectral_synthesis's vectorized transform (and
    of gaussian_latitudes' Newton/Bonnet roots), like the rotated
    queries' arcsin/atan2 restatement."""
    import math

    import numpy as np
    from numpy.polynomial import legendre as L

    t = 3 + d % 3
    c = _spectral_coeffs(d, t, 3, 7, 11, 5, 41)
    nodes, _ = np.polynomial.legendre.leggauss(6)
    mu = np.sort(nodes)[::-1]  # north -> south
    lon = np.radians(np.arange(8) * 45.0)

    def pbar(n, m, u):
        cn = np.zeros(n + 1)
        cn[n] = 1.0
        pnm = (1 - u * u) ** (m / 2.0) * L.legval(u, L.legder(cn, m))
        return math.sqrt(
            (2 * n + 1) * math.factorial(n - m) / math.factorial(n + m)
        ) * pnm

    vals = np.zeros((6, 8))
    pos = 0
    for m in range(t + 1):
        for n in range(m, t + 1):
            cc = c[pos]
            pos += 1
            for j in range(6):
                p = pbar(n, m, mu[j])
                for i in range(8):
                    if m == 0:
                        vals[j, i] += cc.real * p
                    else:
                        vals[j, i] += 2.0 * p * (
                            cc.real * math.cos(m * lon[i])
                            - cc.imag * math.sin(m * lon[i])
                        )
    w = np.arange(48).reshape(6, 8) + 1
    return float(vals.sum()), float((vals * w).sum())


def _synth_values_sql() -> str:
    rows = []
    for d in range(0, 500):
        if d % 17 != 6:
            continue
        s, ws = _synth_ref(d)
        rows.append(f"({d}, {s!r}, {ws!r})")
    return ",\n       ".join(rows)


@query(
    "grid_grib2_spectral_synthesis",
    tags=("grid", "codec", "python", "ingest"),
    oracle=f"""
WITH ref(doc_id, val_sum, val_wsum) AS (
  VALUES {_synth_values_sql()}
)
SELECT g.doc_id,
       CAST(3 + g.doc_id % 3 AS INTEGER) AS truncation,
       CAST(48 AS BIGINT) AS n_cells,
       ROUND(CAST(val_sum AS DOUBLE), 6) AS val_sum,
       ROUND(CAST(val_wsum AS DOUBLE), 6) AS val_wsum
FROM ref r
JOIN (
  SELECT doc_id FROM documents WHERE doc_id % 17 = 6 AND doc_id < 500
) g ON g.doc_id = r.doc_id
ORDER BY g.doc_id
""",
)
def grid_grib2_spectral_synthesis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical-harmonic SYNTHESIS end-to-end: spectral GRIB2 bytes →
    coefficient decode → inverse Legendre + Fourier transform onto the
    global 6-parallel Gaussian grid (grib2.spectral_synthesis) — the
    step that turns an ERA5/IFS native spectral archive into the
    lat/lon rasters every downstream operator consumes (the reference
    reaches the same gridpoint space through its external tools'
    spectral-to-grid conversion).

    Witness independence: the oracle embeds each document's grid SUM
    and position-weighted sum from a SECOND implementation path —
    derivative-definition Legendre functions with explicit factorial
    normalization on numpy.leggauss roots, explicit triple-loop
    synthesis — against the engine's Newton/Bonnet latitudes +
    recurrence Legendre + vectorized transform.  The position-weighted
    sum pins every cell's (latitude row, longitude) placement, so a
    flipped hemisphere, a conjugated imaginary part or a wrong
    normalization cannot cancel.

    Scale: synthesis is O(T²·nj) Legendre work + two rank-1 outer
    products per zonal wavenumber, vectorized in the Arrow stage; at
    archive scale each record synthesizes independently
    (embarrassingly parallel), and only statistic rows shuffle.
    """
    import numpy as np

    from ..grid.grib2 import (
        decode_grib2,
        encode_grib2_message,
        spectral_synthesis,
    )

    def build(d: int) -> bytes:
        t = 3 + d % 3
        c = _spectral_coeffs(d, t, 3, 7, 11, 5, 41)
        return encode_grib2_message(c, spectral=dict(truncation=t), nbits=8)

    w = np.arange(48).reshape(6, 8) + 1

    def synthesize(d: int, buf: bytes):
        rec = decode_grib2(buf)
        vals, _ = spectral_synthesis(
            rec.spectral_coeffs, rec.spectral_truncation, 6, 8
        )
        yield {
            "truncation": rec.spectral_truncation,
            "n_cells": int(vals.size),
            "val_sum": float(vals.sum()),
            "val_wsum": float((vals * w).sum()),
        }

    out = doc_archives(
        spark, sf_dir, (17, 6, 500), build, synthesize,
        "truncation int, n_cells bigint, val_sum double, val_wsum double",
    )
    return out.select(
        "doc_id",
        "truncation",
        "n_cells",
        F.round("val_sum", 6).alias("val_sum"),
        F.round("val_wsum", 6).alias("val_wsum"),
    ).orderBy("doc_id")


# --- mixed-archive inventory robustness ---------------------------------------
# Per selected document ONE archive with five records on a 4×3 grid:
#   rn=1  GRIB1 gridpoint, hour-unit lead 6·(1 + d%3)
#   rn=2  GRIB1 gridpoint whose time range indicator is patched to 2
#         (valid-between — reinterprets P1/P2)
#   rn=3  GRIB2 gridpoint whose lead unit octet is patched to 3 (month —
#         calendar-dependent, not whole-hour convertible)
#   rn=4  GRIB1 SPECTRAL (GDS type 50, T=3)
#   rn=5  GRIB2 SPECTRAL (templates 3.50 + 5.50, T=3)


@query(
    "grid_grib_inventory_robust_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id FROM documents WHERE doc_id % 23 = 4 AND doc_id < 500
),
r(rn, edition, parameter, category, number, ni, nj, fh_kind) AS (VALUES
  (1, 1, 11,   NULL, NULL, 4,    3,    1),
  (2, 1, 61,   NULL, NULL, 4,    3,    NULL),
  (3, 2, NULL, 0,    11,   4,    3,    NULL),
  (4, 1, 80,   NULL, NULL, NULL, NULL, 0),
  (5, 2, NULL, 3,    9,    NULL, NULL, 0))
SELECT doc_id,
       CAST(rn AS INTEGER) AS record_number,
       CAST(edition AS INTEGER) AS edition,
       CAST(parameter AS INTEGER) AS parameter,
       CAST(category AS INTEGER) AS category,
       CAST(number AS INTEGER) AS number,
       CAST(ni AS INTEGER) AS ni,
       CAST(nj AS INTEGER) AS nj,
       CAST(
         CASE WHEN fh_kind = 1 THEN 6 * (1 + doc_id % 3) ELSE fh_kind END
         AS INTEGER
       ) AS forecast_hours,
       CAST(1 AS INTEGER) AS level_type,
       CAST(0 AS INTEGER) AS level
FROM g, r
ORDER BY doc_id, record_number
""",
)
def grid_grib_inventory_robust_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-archive inventory ROBUSTNESS: real operational archives
    hold records the gridpoint pipeline can't (or shouldn't) fully
    decode — calendar-unit leads (monthly means), reinterpreting GRIB1
    time range indicators (valid-between, climatology codes) and
    SPECTRAL fields — and wgrib/wgrib2 still LIST every one of them.
    The header-only landing inventory must therefore never abort a
    file on such a record: a non-hour-convertible lead surfaces as
    NULL ``forecast_hours`` (inventory line ``:f-``, unselectable by a
    ``:f6$``-style match) and spherical-harmonic records list with
    NULL dimensions, while the hour-unit record beside them carries
    its converted lead.

    The oracle pins all five rows per document closed-form: the
    converted 6/12/18-hour lead on rn=1, NULL leads on the patched
    TRI-2 / month-unit records, zero leads + NULL ni/nj on the two
    spectral records — so a scan that aborted, skipped, or guessed a
    lead for ANY record hash-fails.  (The FULL decode path keeps the
    loud stop for the same records — tests pin both sides.)

    Scale: the 100 TB metadata pass — a few hundred header bytes per
    record, value bits never touched, one metadata row per record out.
    """
    import numpy as np

    from ..grid.grib1 import encode_grib1_message
    from ..grid.grib2 import encode_grib2_message

    v = np.arange(12, dtype=np.float64).reshape(3, 4)

    def build(d: int) -> bytes:
        enc = dict(reference_value=0.0, nbits=8)
        m1 = encode_grib1_message(
            v, parameter=11,
            forecast=dict(unit=1, value=6 * (1 + d % 3)), **enc,
        )
        m2 = bytearray(
            encode_grib1_message(
                v, parameter=61, forecast=dict(unit=1, value=6), **enc
            )
        )
        m2[8 + 20] = 2  # PDS octet 21: TRI -> 2 (valid-between)
        m3 = bytearray(
            encode_grib2_message(
                v, category=0, number=11,
                forecast=dict(unit=1, value=2), **enc,
            )
        )
        pos = 16
        while m3[pos + 4] != 4:
            pos += int.from_bytes(m3[pos : pos + 4], "big")
        m3[pos + 17] = 3  # section-4 octet 18: time unit -> month
        c = _spectral_coeffs(d, 3, 7, 13, 5, 11, 101)
        m4 = encode_grib1_message(
            c, spectral=dict(truncation=3), nbits=8, parameter=80
        )
        m5 = encode_grib2_message(
            c, spectral=dict(truncation=3), nbits=8,
            category=3, number=9,
        )
        return m1 + bytes(m2) + bytes(m3) + m4 + m5

    inv = landed_inventory(spark, sf_dir, (23, 4, 500), build)
    return inv.select(
        "doc_id",
        "record_number",
        "edition",
        "parameter",
        "category",
        "number",
        "ni",
        "nj",
        "forecast_hours",
        "level_type",
        "level",
    ).orderBy("doc_id", "record_number")


# --- wgrib2-style -match on the LEVEL field, codec level ----------------------
# Per selected document ONE GRIB2 buffer with four single-field messages
# on a 4×3 grid, record r's cell (i, j) = 100 + ((d*3 + r*7 + i*5 + j*2)
# mod 50):
#   r=0  LAYER l106/0-{2 + d%3} (soil layer, second fixed surface)
#   r=1  point l1/0 (surface)
#   r=2  point l100/{500 + 100·(d%2)} (isobaric)
#   r=3  point l103/10 whose section 5 is PATCHED to template 99 —
#        decoding it raises, so the queries below only succeed if the
#        match runs header-side (sections 0/1/4), never touching 5/7.


@query(
    "grid_grib2_match_level_decode",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id FROM documents WHERE doc_id % 29 = 3 AND doc_id < 500
),
m(pattern_id, r) AS (VALUES (1, 0), (2, 2)),
cells AS (
  SELECT doc_id, pattern_id, r,
         100 + ((doc_id * 3 + r * 7 + i.i * 5 + j.j * 2) % 50) AS v
  FROM g, m,
       UNNEST(generate_series(0, 3)) AS i(i),
       UNNEST(generate_series(0, 2)) AS j(j)
)
SELECT doc_id,
       CAST(pattern_id AS INTEGER) AS pattern_id,
       CAST(CASE WHEN pattern_id = 1 THEN 106 ELSE 100 END AS INTEGER)
         AS level_type,
       CAST(CASE WHEN pattern_id = 1 THEN 0
                 ELSE 500 + 100 * (doc_id % 2) END AS INTEGER) AS level,
       CAST(CASE WHEN pattern_id = 1 THEN 2 + doc_id % 3 END AS INTEGER)
         AS level2,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(v) AS BIGINT) AS vsum
FROM cells
GROUP BY doc_id, pattern_id
ORDER BY doc_id, pattern_id
""",
)
def grid_grib2_match_level_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wgrib2-style ``-match`` ON THE LEVEL FIELD at the CODEC level:
    the per-field inventory line (grid/grib2.py::_field_inventory) now
    renders ``l{type}/{level}[-{level2}]`` exactly like the landing
    scan's unified line, so level/layer selections — wgrib2's
    '"0-10 cm down"' / '"500 mb"' regexes, which the reference matches
    against wgrib2's own inventory (/root/reference/src/
    file-conversions.js:79-87) — have a codec-level target too.  Per
    document, pattern 1 selects the soil LAYER by its full bounds
    (``:l106/0-2:``) and pattern 2 any isobaric level (``:l100/``);
    each must pick exactly its record out of four.

    The strong witness: the fourth record's section 5 is patched to an
    unknown data-representation template, so it decodes loudly — the
    query only returns if ``match_records`` never parses sections 5/7
    of non-matching records (headers only, the wgrib2 contract).
    Level columns come from the DECODED records; sums pin payloads.

    Scale: matching costs a few hundred header bytes per record;
    non-matching raster bytes are never unpacked — the 100 TB
    archive-subsetting path.
    """
    import numpy as np

    from ..grid.grib2 import decode_grib2, encode_grib2_message, match_records

    i = np.arange(4)[None, :]
    j = np.arange(3)[:, None]

    def build(d: int) -> bytes:
        def field(r: int) -> np.ndarray:
            return (
                100 + ((d * 3 + r * 7 + i * 5 + j * 2) % 50)
            ).astype(np.float64)

        enc = dict(reference_value=100.0, nbits=8)
        msgs = [
            encode_grib2_message(
                field(0), level_type=106, level_value=0,
                level2=dict(type=106, value=2 + d % 3), **enc,
            ),
            encode_grib2_message(field(1), **enc),
            encode_grib2_message(
                field(2), level_type=100,
                level_value=500 + 100 * (d % 2), **enc,
            ),
            encode_grib2_message(
                field(3), level_type=103, level_value=10, **enc
            ),
        ]
        poison = bytearray(msgs[3])
        pos = 16
        while poison[pos + 4] != 5:
            pos += int.from_bytes(poison[pos : pos + 4], "big")
        poison[pos + 9 : pos + 11] = (99).to_bytes(2, "big")
        msgs[3] = bytes(poison)
        return b"".join(msgs)

    def match_decode(d: int, buf: bytes):
        patterns = ((1, f":l106/0-{2 + d % 3}:"), (2, ":l100/"))
        for pid, pattern in patterns:
            for msg in match_records(buf, pattern):
                rec = decode_grib2(msg)
                yield {
                    "pattern_id": pid,
                    "level_type": rec.level_type,
                    "level": rec.level_value,
                    "level2": rec.level2_value,
                    "values": rec.values.reshape(-1).tolist(),
                }

    decoded = doc_archives(
        spark, sf_dir, (29, 3, 500), build, match_decode,
        "pattern_id int, level_type int, level int, level2 int, "
        "values array<double>",
    )
    return decoded.select(
        "doc_id",
        "pattern_id",
        "level_type",
        "level",
        "level2",
        F.size("values").cast("bigint").alias("n_cells"),
        vsum(),
    ).orderBy("doc_id", "pattern_id")


@query(
    "grid_grib2_spectral_complex_decode",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id, 4 + doc_id % 3 AS t
  FROM documents WHERE doc_id % 19 = 7 AND doc_id < 500
),
k AS (
  SELECT doc_id, t, k.k AS k,
         ((doc_id * 7 + k.k * 13) % 101) - 50 AS re,
         CASE WHEN k.k <= t THEN 0
              ELSE ((doc_id * 5 + k.k * 11) % 101) - 50 END AS im
  FROM g,
       LATERAL (
         SELECT unnest(generate_series(0, (t + 1) * (t + 2) // 2 - 1)) AS k
       ) k
)
SELECT k.doc_id,
       CAST(p.p AS INTEGER) AS packing_template,
       CAST(MIN(t) AS INTEGER) AS truncation,
       CAST(CASE WHEN p.p = 51 THEN 1 + k.doc_id % 2 END AS INTEGER)
         AS sub_truncation,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(re) AS BIGINT) AS re_sum,
       CAST(SUM(im) AS BIGINT) AS im_sum,
       CAST(SUM((k + 1) * re) AS BIGINT) AS re_wsum,
       CAST(SUM((k + 1) * im) AS BIGINT) AS im_wsum
FROM k, (SELECT unnest([50, 51]) AS p) p
GROUP BY k.doc_id, p.p
ORDER BY doc_id, packing_template
""",
)
def grid_grib2_spectral_complex_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLEX spectral packing (data representation template 5.51 —
    the form operational IFS/ERA5 spectral archives actually ship,
    where 5.50 is the simple sibling): the low-wavenumber sub-spectrum
    (n ≤ TS, per-document TS) rides UNPACKED as IEEE-32 floats at the
    head of section 7 and every remaining value is multiplied by the
    Laplacian weight (n(n+1))^p before simple packing — flattening the
    n^-k amplitude decay so fixed-width increments keep precision.
    Per document the SAME integer spectrum encodes as one 5.50 and one
    5.51 message (p = 1: integer weights, so BOTH decode bit-exactly);
    the scan must recover identical coefficient sums from the two
    layouts, proving the sub-spectrum split, the weight application
    and its inverse, and the packed-count bookkeeping (section 5
    declares only the PACKED count on 5.51).

    Witness: per (document, packing template) the plain and
    position-weighted integer sums of real and imaginary parts — a
    sub-spectrum boundary off by one coefficient, a weight applied to
    the wrong side, or a swapped unpacked/packed order cannot cancel;
    the 5.51 rows also pin the per-document TS.

    Scale: codec posture — and the OPERATIONAL payoff: Laplacian
    weighting is why real spectral archives fit 16-bit packing, so
    supporting 5.51 is what makes a 100 TB ERA5 native-spectral scan
    read the bytes producers actually publish.
    """
    from ..grid.grib2 import decode_grib2, encode_grib2_message, iter_messages2

    def build(d: int) -> bytes:
        t = 4 + d % 3
        c = _spectral_coeffs(d, t, 7, 13, 5, 11, 101)
        return encode_grib2_message(
            c, spectral=dict(truncation=t), nbits=8
        ) + encode_grib2_message(
            c,
            spectral=dict(
                truncation=t,
                sub_truncation=1 + d % 2,
                laplacian=1.0,
            ),
            nbits=16,
        )

    def decode(d: int, buf: bytes):
        for msg in iter_messages2(buf):
            rec = decode_grib2(msg)
            co = rec.spectral_coeffs
            yield {
                "packing_template": rec.packing_template,
                "truncation": rec.spectral_truncation,
                "sub_truncation": rec.spectral_sub_truncation,
                "re": co.real.tolist(),
                "im": co.imag.tolist(),
            }

    decoded = doc_archives(
        spark, sf_dir, (19, 7, 500), build, decode,
        "packing_template int, truncation int, sub_truncation int, "
        "re array<double>, im array<double>",
    )
    pair = F.posexplode(F.arrays_zip("re", "im")).alias("k", "pair")
    return (
        decoded.select(
            "doc_id", "packing_template", "truncation", "sub_truncation", pair
        )
        .select(
            "doc_id",
            "packing_template",
            "truncation",
            "sub_truncation",
            "k",
            F.col("pair.re").cast("bigint").alias("re"),
            F.col("pair.im").cast("bigint").alias("im"),
        )
        .groupBy("doc_id", "packing_template")
        .agg(
            F.min("truncation").alias("truncation"),
            F.min("sub_truncation").alias("sub_truncation"),
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("re").alias("re_sum"),
            F.sum("im").alias("im_sum"),
            F.sum((F.col("k") + 1) * F.col("re")).alias("re_wsum"),
            F.sum((F.col("k") + 1) * F.col("im")).alias("im_wsum"),
        )
        .orderBy("doc_id", "packing_template")
    )


def _landing_synth_ref(d: int) -> list[tuple[int, float, float, float]]:
    """Per record (rn, val_sum, latw, lonw) of the document's
    synthesized 6×8 rasters from the INDEPENDENT formulation
    (derivative-definition Legendre on numpy.leggauss roots — see
    :func:`_synth_ref`), with the latitude weight taken from the
    MICRODEGREE-rounded quadrature value exactly as the landed
    ``lat_udeg`` column carries it."""
    import math

    import numpy as np
    from numpy.polynomial import legendre as L

    nodes, _ = np.polynomial.legendre.leggauss(6)
    mu = np.sort(nodes)[::-1]
    lat_w = np.round(np.degrees(np.arcsin(mu)) * 1e6) / 1e6
    lon_w = np.arange(8) * 45.0

    def pbar(n, m, u):
        cn = np.zeros(n + 1)
        cn[n] = 1.0
        pnm = (1 - u * u) ** (m / 2.0) * L.legval(u, L.legder(cn, m))
        return math.sqrt(
            (2 * n + 1) * math.factorial(n - m) / math.factorial(n + m)
        ) * pnm

    out = []
    for rn, seed in ((1, d), (2, d + 7)):
        t = 3 + d % 3
        c = _spectral_coeffs(seed, t, 3, 7, 11, 5, 41)
        vals = np.zeros((6, 8))
        pos = 0
        for m in range(t + 1):
            for n in range(m, t + 1):
                cc = c[pos]
                pos += 1
                for j in range(6):
                    p = pbar(n, m, mu[j])
                    for i in range(8):
                        if m == 0:
                            vals[j, i] += cc.real * p
                        else:
                            vals[j, i] += 2.0 * p * (
                                cc.real * math.cos(m * math.radians(lon_w[i]))
                                - cc.imag * math.sin(m * math.radians(lon_w[i]))
                            )
        out.append(
            (
                rn,
                float(vals.sum()),
                float((vals * lat_w[:, None]).sum()),
                float((vals * lon_w[None, :]).sum()),
            )
        )
    return out


def _landing_synth_values_sql() -> str:
    rows = []
    for d in range(0, 500):
        if d % 31 != 11:
            continue
        for rn, s, lw, lo in _landing_synth_ref(d):
            rows.append(f"({d}, {rn}, {s!r}, {lw!r}, {lo!r})")
    return ",\n       ".join(rows)


@query(
    "grid_grib_spectral_landing",
    tags=("grid", "codec", "python", "ingest"),
    oracle=f"""
WITH ref(doc_id, rn, val_sum, latw, lonw) AS (
  VALUES {_landing_synth_values_sql()}
)
SELECT g.doc_id,
       CAST(rn AS INTEGER) AS record_number,
       CAST(CASE WHEN rn = 1 THEN 1 ELSE 2 END AS INTEGER) AS edition,
       CAST(50 AS INTEGER) AS grid_template,
       CAST(48 AS BIGINT) AS n_cells,
       ROUND(CAST(val_sum AS DOUBLE), 5) AS val_sum,
       ROUND(CAST(latw AS DOUBLE), 3) AS latw,
       ROUND(CAST(lonw AS DOUBLE), 3) AS lonw
FROM ref r
JOIN (
  SELECT doc_id FROM documents WHERE doc_id % 31 = 11 AND doc_id < 500
) g ON g.doc_id = r.doc_id
ORDER BY g.doc_id, record_number
""",
)
def grid_grib_spectral_landing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPECTRAL records THROUGH the landing source with explicit
    opt-in synthesis (``synthesize_spectral=(nj, ni)``): a mixed
    archive of GRIB1 (GDS type 50, simple spectral) and GRIB2 (3.50 +
    COMPLEX 5.51) spherical-harmonic records lands as global Gaussian
    rasters — quadrature latitudes in exact microdegrees, the exact
    45-mdeg longitude step from 0°E, ``grid_template`` 50 marking each
    raster SYNTHESIZED — and the unified ``grib1_cells`` explode
    serves them like any native record.  This is the 100 TB path for
    ERA5/IFS NATIVE spectral archives: one scan, no external
    spectral-to-grid tool.

    Witness independence: the oracle embeds each record's grid sum and
    latitude/longitude-weighted sums from the derivative-formulation
    Legendre path on numpy's own quadrature roots (the latitude weight
    taken from the µdeg-rounded value exactly as ``lat_udeg`` lands),
    against the engine's Newton/Bonnet latitudes + recurrence Legendre
    + vectorized synthesis + JVM cell explode — a flipped hemisphere,
    a wrong longitude origin or a mis-assigned record cannot cancel.

    Scale: synthesis is per-record local numpy in the Arrow decode
    stage (O(T²·nj + T·nj·ni) flops); the explode and aggregation are
    pure JVM with map-side partial aggregation — nothing shuffles but
    statistic rows, same as every landing query.
    """
    from ..grid.grib1 import encode_grib1_message
    from ..grid.grib2 import encode_grib2_message
    from ..sources.grib_source import grib1_cells

    def build(d: int) -> bytes:
        t = 3 + d % 3
        return encode_grib1_message(
            _spectral_coeffs(d, t, 3, 7, 11, 5, 41),
            spectral=dict(truncation=t), nbits=8, parameter=80,
        ) + encode_grib2_message(
            _spectral_coeffs(d + 7, t, 3, 7, 11, 5, 41),
            spectral=dict(
                truncation=t, sub_truncation=1, laplacian=1.0
            ),
            nbits=16, category=3, number=9,
        )

    records = landed_records(
        spark, sf_dir, (31, 11, 500), build, synthesize_spectral=(6, 8)
    )
    cells = grib1_cells(records)
    return (
        cells.groupBy(doc_id(), "record_number")
        .agg(
            F.min("grid_template").alias("gt"),
            F.count(F.lit(1)).alias("n_cells"),
            F.round(F.sum("value"), 5).alias("val_sum"),
            F.round(
                F.sum(F.col("value") * F.col("lat_udeg") / F.lit(1e6)), 3
            ).alias("latw"),
            F.round(
                F.sum(F.col("value") * F.col("lon_udeg") / F.lit(1e6)), 3
            ).alias("lonw"),
        )
        .select(
            "doc_id",
            "record_number",
            F.when(F.col("record_number") == 1, 1).otherwise(2)
            .cast("int")
            .alias("edition"),
            F.col("gt").alias("grid_template"),
            "n_cells",
            "val_sum",
            "latw",
            "lonw",
        )
        .orderBy("doc_id", "record_number")
    )


def _unstretch_trig(rlat, rlon, st_lat, st_lon, c):
    """Stretched → true coordinates by the DIRECT great-circle
    formulation: colatitude about the pole of stretching from the
    spherical law of cosines, the Schmidt map as the tan-half-
    colatitude radial scaling tan(χ_t/2) = tan(χ'/2)/c, the bearing
    from the pole (unchanged by the map), and the destination-point
    formula — the oracle-side SECOND formulation of
    grib2.schmidt_unstretch's rotate/sin-form/rotate-back composition,
    like _unrotate_trig for the rotation family."""
    import math

    p1, l1 = math.radians(st_lat), math.radians(st_lon)
    p2, l2 = math.radians(rlat), math.radians(rlon)
    cosd = math.sin(p1) * math.sin(p2) + math.cos(p1) * math.cos(p2) * math.cos(
        l2 - l1
    )
    chi = math.acos(max(-1.0, min(1.0, cosd)))
    chi_t = 2.0 * math.atan(math.tan(chi / 2.0) / c)
    brg = math.atan2(
        math.sin(l2 - l1) * math.cos(p2),
        math.cos(p1) * math.sin(p2)
        - math.sin(p1) * math.cos(p2) * math.cos(l2 - l1),
    )
    lat_t = math.asin(
        math.sin(p1) * math.cos(chi_t)
        + math.cos(p1) * math.sin(chi_t) * math.cos(brg)
    )
    lon_t = l1 + math.atan2(
        math.sin(brg) * math.sin(chi_t) * math.cos(p1),
        math.cos(chi_t) - math.sin(p1) * math.sin(lat_t),
    )
    return math.degrees(lat_t), (math.degrees(lon_t) + 180.0) % 360.0 - 180.0


def _stretched_params(d: int) -> dict:
    return dict(
        pole_lat=30.0 + d % 30,
        pole_lon=float((d % 50) - 25),
        factor=1.0 + (d % 30) / 10.0,  # includes the c = 1 identity
    )


def _stretched_corner_values_sql() -> str:
    """(doc_id, grid_tmpl, anchor/far-corner true lat/lon in µdeg)
    from the direct great-circle formulation (composed with the
    direct-trig unrotation for template 3.3)."""
    rows = []
    for d in range(0, 500):
        if d % 37 != 9:
            continue
        ni, nj = 6 + d % 3, 4 + d % 2
        sp = _stretched_params(d)
        rp = _rotated_params(d)
        la1, lo1 = 8.0 + d % 6, -(10.0 + d % 9)
        for tmpl in (2, 3):
            a = _unstretch_trig(
                la1, lo1, sp["pole_lat"], sp["pole_lon"], sp["factor"]
            )
            k = _unstretch_trig(
                la1 - (nj - 1) * 0.5, lo1 + (ni - 1) * 0.5,
                sp["pole_lat"], sp["pole_lon"], sp["factor"],
            )
            if tmpl == 3:
                a = _unrotate_trig(
                    a[0], a[1],
                    rp["south_pole_lat"], rp["south_pole_lon"], rp["angle"],
                )
                k = _unrotate_trig(
                    k[0], k[1],
                    rp["south_pole_lat"], rp["south_pole_lon"], rp["angle"],
                )
            rows.append(
                f"({d}, {tmpl}, {int(round(a[0] * 1e6))}, "
                f"{int(round(a[1] * 1e6))}, {int(round(k[0] * 1e6))}, "
                f"{int(round(k[1] * 1e6))})"
            )
    return ",\n       ".join(rows)


@query(
    "grid_grib2_stretched_decode",
    tags=("grid", "codec", "python", "ingest"),
    oracle=f"""
WITH g AS (
  SELECT doc_id,
         6 + doc_id % 3 AS ni,
         4 + doc_id % 2 AS nj
  FROM documents WHERE doc_id % 37 = 9 AND doc_id < 500
),
corner(doc_id, grid_tmpl, a_lat_udeg, a_lon_udeg, c_lat_udeg, c_lon_udeg) AS (
  VALUES {_stretched_corner_values_sql()}
),
cells AS (
  SELECT doc_id, ni, nj, t.t AS grid_tmpl,
         80 + ((doc_id * 3 + t.t * 13 + i.i * 11 + j.j * 2) % 50) AS v,
         j.j * ni + i.i AS pos
  FROM g,
       (SELECT unnest([2, 3]) AS t) t,
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj - 1)) AS j) j
)
SELECT c.doc_id,
       CAST(c.grid_tmpl AS INTEGER) AS grid_tmpl,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(c.v) AS BIGINT) AS vsum,
       CAST(SUM(c.v * c.pos) AS BIGINT) AS wsum,
       CAST(MIN(k.a_lat_udeg) AS BIGINT) AS lat0_udeg,
       CAST(MIN(k.a_lon_udeg) AS BIGINT) AS lon0_udeg,
       CAST(MIN(k.c_lat_udeg) AS BIGINT) AS corner_lat_udeg,
       CAST(MIN(k.c_lon_udeg) AS BIGINT) AS corner_lon_udeg
FROM cells c
JOIN corner k ON k.doc_id = c.doc_id AND k.grid_tmpl = c.grid_tmpl
GROUP BY c.doc_id, c.grid_tmpl
ORDER BY c.doc_id, c.grid_tmpl
""",
)
def grid_grib2_stretched_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRIB2 STRETCHED lat/lon decode (grid templates 3.2 and 3.3 —
    the ARPEGE/ALADIN Schmidt geometry, completing the lat/lon family
    3.0/3.1/3.2/3.3): the 3.0 body's axes are coordinates in the
    stretched (and, for 3.3, rotated) system; the pole of stretching
    and the ×10^6 factor follow the body (3.2) or the rotation block
    (3.3).  Per document one 3.2 and one 3.3 record on per-document
    stretching poles and factors (including the c = 1 identity), half
    stored south-first; the engine recovers per-cell TRUE coordinates
    through the vectorized Schmidt unstretch
    (grid/grib2.py::schmidt_unstretch — rotate the pole of stretching
    to the north pole, apply the sin-form radial map, rotate back),
    composed with the shared unrotation for 3.3.

    Witness independence: the oracle embeds anchor and far-corner true
    coordinates from the DIRECT great-circle formulation (spherical
    law of cosines → tan-half-colatitude scaling → destination-point
    formula, composed with the direct arcsin/atan2 unrotation for
    3.3) in integer microdegrees; ``wsum`` keeps the payload
    raster-order sensitive, so a row flip, a mis-directed factor
    (concentrate-vs-dilute) or a wrong composition order cannot
    cancel.

    Scale: codec-query posture — bytes executor-side, statistic rows
    shuffle, O(cells) vectorized trig in the Arrow stage.
    """
    import numpy as np

    from ..grid.grib2 import encode_grib2_message

    def build(d: int) -> bytes:
        ni, nj = 6 + d % 3, 4 + d % 2
        i = np.arange(ni)[None, :]
        j = np.arange(nj)[:, None]
        msgs = []
        for tmpl in (2, 3):
            v = (
                80 + ((d * 3 + tmpl * 13 + i * 11 + j * 2) % 50)
            ).astype(np.float64)
            kw = dict(stretched=_stretched_params(d))
            if tmpl == 3:
                kw["rotated"] = _rotated_params(d)
            msgs.append(
                encode_grib2_message(
                    v,
                    lat_first_udeg=(8 + d % 6) * 1_000_000,
                    lon_first_udeg=-(10 + d % 9) * 1_000_000,
                    dlat_udeg=500_000,
                    dlon_udeg=500_000,
                    scanning_mode=0x40 if d % 2 else 0x00,
                    reference_value=80.0,
                    nbits=8,
                    **kw,
                )
            )
        return b"".join(msgs)

    decoded = doc_archives(
        spark, sf_dir, (37, 9, 500), build, _projected_cells,
        _PROJECTED_CELLS_SCHEMA,
    )
    return _projected_stats(decoded, ("doc_id", "grid_tmpl")).orderBy(
        "doc_id", "grid_tmpl"
    )


