"""Pure-Python GRIB edition-2 codec: sectioned messages, simple packing,
regex record matching — the reference's ``wgrib2`` input path.

The reference extracts GRIB2 records by inventory-string regex and count
limit (/root/reference/src/file-conversions.js:75-99: ``wgrib2 input
-match <regex> -limit <n> -grib out``). This module implements the
format surface that path needs, the same way ``grid/grib1.py`` covers
the ``wgrib`` edition-1 path:

* Section 0 (Indicator): "GRIB", discipline, edition 2, 64-bit length.
* Section 1 (Identification): centre, reference time (full 16-bit year).
* Section 3 (Grid definition): templates 3.0 (regular lat/lon, Ni×Nj,
  first point and increments in MICROdegrees — GRIB2's 10^-6
  resolution vs GRIB1's millidegrees — scanning modes 0x00/0x40),
  3.1/3.2/3.3 (ROTATED, STRETCHED and stretched+rotated lat/lon: the
  COSMO/HIRLAM and ARPEGE/ALADIN Schmidt geometries, per-cell
  coordinates through :func:`schmidt_unstretch` and
  :func:`rotated_unrotate`), 3.10 (MERCATOR), 3.20 (north POLAR
  STEREOGRAPHIC) and 3.30 (LAMBERT CONFORMAL conic, HRRR/NAM), whose
  per-cell coordinates come from the spherical Snyder inverses with
  values kept in storage order, 3.40 (global GAUSSIAN, ERA5's native
  geometry: Dj carries N and the rows are the roots of Legendre P_2N,
  :func:`gaussian_latitudes`, in the regular and the REDUCED form — Ni
  coded missing plus the points-per-parallel list, ragged values kept
  flat) and 3.50 (SPHERICAL HARMONIC coefficients, triangular
  truncation J = K = M in type-1 mode-1 order, paired with 5.50/5.51
  and never an implicit georef: :func:`spectral_synthesis` makes the
  grid).  Each is ONE entry of the ``_GDT`` table: the grid-family
  kwarg that selects it, its blocks of fields in octet order (shape of
  earth, Ni/Nj, the 3.0 body, the rotation and stretching blocks, the
  projected bodies, 3.50's J/K/M) and its geometry, the arithmetic
  that stays code.  The same packer and walker as sections 1, 4 and 5
  write and read it; the landing header reads Ni/Nj through the walk's
  head form.
* Section 4 (Product definition): templates 4.0-4.15 (the 4.0 family:
  ensemble members, derived-ensemble and cluster products,
  probability, percentile, analysis/forecast error, statistical
  intervals, spatio-statistical processing), 4.20 (radar), 4.30-4.34
  (satellite: observed, simulated, ensemble), 4.40-4.49 (atmospheric
  chemistry and aerosol) and 4.60/4.61 (ensemble reforecast).  Each is
  ONE entry of the ``_PDT`` table: its blocks of fields in octet order,
  each field with its width, kind (unsigned, sign-magnitude, scaled
  pair, date, counted list, ...) and error label — the octet-table form
  WMO-No. 306 and wgrib2 use.  The encoder picks the template from the
  product kwargs it was given and packs the blocks; the decoder and
  both inventories walk the same blocks, computing every offset from
  the widths before it.  A template outside the table raises.
* Section 5 (Data representation): templates 5.0 (simple packing with
  an IEEE 754 binary32 reference value — GRIB2 dropped GRIB1's IBM
  float), 5.2/5.3 (complex packing: general group splitting, with
  missing-value management 1 or 2 and, on 5.3, first- or second-order
  spatial differencing), 5.4 (raw IEEE floats), 5.40 (JPEG2000,
  grid/jpeg2000.py), 5.41 (PNG, grid/png.py), 5.42 (CCSDS / AEC,
  grid/aec.py), 5.50/5.51 (spectral simple/complex packing, paired
  with 3.50), 5.61 (simple packing of Z = ln(Y + B)) and 5.200 (run
  length with level values, the JMA radar-composite packing).  Each is
  ONE entry of the ``_DRT`` table: the packing kwarg (and spectral
  form) that selects it, its blocks of fields in octet order — most
  open with 5.0's R/E/D/nbits head — and its packing, the algorithm
  that maps the increments X to section-7 bytes and back.  The same
  packer and walker as section 4 read and write the blocks; every
  template with the head decodes through one rule,
  Y = (R + X·2^E)/10^D, with nbits 0 a constant field.
* Section 6 (Bitmap): indicator 255 = none, 0 = bitmap present, 254 =
  the previously defined bitmap applies (multi-field messages; resolved
  by substitution in ``_iter_field_sections``).
* Section 7 (Data): big-endian bit-packed increments,
  Y = (R + X·2^E) / 10^D — the same simple-packing formula as GRIB1;
  templates 7.2/7.3 carry grouped increments (+ initial values and the
  difference minimum for 7.3) as laid out above _complex_encode.
* Section 8: "7777".

Record matching parity: :func:`inventory_line` renders a wgrib2-style
``d{discipline}:c{category},n{number}:l{level type}/{level}[-{level2}]
:{YYYYMMDDHH}:f{lead hours}`` string per record (``-`` where a field
is coded missing or non-renderable; the authoritative rendering is
:func:`_field_inventory`) and :func:`match_records` selects by regex
with an optional count limit — ``wgrib2 -match -limit`` as a pure
function over the scanned file.

All encode/decode arithmetic is stated closed-form (see grib1.py's
module docstring); integer-valued grids with E=0, D=0 and an
integer-exact float32 reference decode BIT-EXACTLY.
"""

from __future__ import annotations

import functools
import math
import re
import struct
from dataclasses import dataclass
from typing import NamedTuple

import numpy as np

# GRIB2 shares GRIB1's bit packing — one implementation, two editions.
from .grib1 import _pack_bits, _unpack_bits
from .grib1 import iter_grib_messages, reduced_grid_cells, spectral_coeffs
from .grib1 import loud_truncation
from .grib1 import quantize_simple_packing

MAGIC = b"GRIB"
TERMINATOR = b"7777"
EDITION = 2


def _f32_encode(x: float) -> bytes:
    return struct.pack(">f", float(np.float32(x)))


def _f32_encode_floor(x: float) -> bytes:
    """Largest float32 ≤ x (see grib1.ibm32_encode_floor for why the
    reference value must round toward −∞)."""
    f = np.float32(x)
    if float(f) > x:
        f = np.nextafter(f, np.float32(-np.inf))
    return struct.pack(">f", float(f))


def _f32_decode(b: bytes) -> float:
    return struct.unpack(">f", b)[0]


def _rs32be(b: bytes, off: int) -> int:
    mag = ((b[off] & 0x7F) << 24) | (b[off + 1] << 16) | (b[off + 2] << 8) | b[off + 3]
    return -mag if b[off] & 0x80 else mag


@functools.lru_cache(maxsize=64)
def gaussian_latitudes(nj: int) -> np.ndarray:
    """Latitudes (degrees, north -> south) of the global regular
    Gaussian grid with ``nj`` parallels — arcsin of the roots of the
    Legendre polynomial P_nj, the quadrature nodes ECMWF F-grids (and
    ERA5's native grid) are built on.  Newton-Raphson from the
    classical cosine initial guess, P_n and P'_n by the Bonnet
    three-term recurrence; converges to ~1e-15 in a handful of steps.

    Memoized per grid (a landing scan decodes thousands of records on
    ONE grid); the returned array is read-only — copy before mutating.
    """
    if nj < 2 or nj % 2:
        raise ValueError("a global Gaussian grid has an even parallel count")
    n = int(nj)
    k = np.arange(1, n + 1, dtype=np.float64)
    x = np.cos(np.pi * (k - 0.25) / (n + 0.5))
    for _ in range(100):
        p_prev = np.ones_like(x)
        p_cur = x.copy()
        for m in range(2, n + 1):
            p_prev, p_cur = p_cur, ((2 * m - 1) * x * p_cur - (m - 1) * p_prev) / m
        deriv = n * (x * p_cur - p_prev) / (x * x - 1.0)
        step = p_cur / deriv
        x = x - step
        if float(np.max(np.abs(step))) < 1e-15:
            break
    lats = np.degrees(np.arcsin(x))  # k=1 root is nearest +1 -> north first
    lats.flags.writeable = False  # shared cached instance
    return lats


def _lambert_setup(lad_deg, latin1_deg, latin2_deg, radius_m):
    """Cone constant n, scaled F·R, and the rho at the LaD origin
    latitude of a spherical Lambert conformal conic (Snyder 1987
    eq. 15-1..15-4, tan-power form). Northern-cone only (n > 0); the
    LoV meridian offset applies in forward/inverse, not here."""
    p1 = math.radians(latin1_deg)
    p2 = math.radians(latin2_deg)
    if abs(p1 - p2) < 1e-12:
        n = math.sin(p1)
    else:
        n = math.log(math.cos(p1) / math.cos(p2)) / math.log(
            math.tan(math.pi / 4 + p2 / 2) / math.tan(math.pi / 4 + p1 / 2)
        )
    if n <= 0:
        raise ValueError("southern-cone Lambert grids not supported")
    rf = radius_m * math.cos(p1) * math.tan(math.pi / 4 + p1 / 2) ** n / n
    rho0 = rf / math.tan(math.pi / 4 + math.radians(lad_deg) / 2) ** n
    return n, rf, rho0


def lambert_forward(lat_deg, lon_deg, lad_deg, lov_deg, latin1_deg,
                    latin2_deg, radius_m):
    """(lat, lon) degrees -> projected (x, y) metres with the origin at
    (LaD, LoV).  Accepts scalars or numpy arrays."""
    n, rf, rho0 = _lambert_setup(lad_deg, latin1_deg, latin2_deg, radius_m)
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    dlon = np.radians(
        (np.asarray(lon_deg, dtype=np.float64) - lov_deg + 180.0) % 360.0 - 180.0
    )
    rho = rf / np.tan(np.pi / 4 + lat / 2) ** n
    theta = n * dlon
    return rho * np.sin(theta), rho0 - rho * np.cos(theta)


def lambert_inverse(x_m, y_m, lad_deg, lov_deg, latin1_deg, latin2_deg,
                    radius_m):
    """Projected (x, y) metres -> (lat, lon) degrees; exact inverse of
    :func:`lambert_forward` (Snyder eq. 14-9..14-11)."""
    n, rf, rho0 = _lambert_setup(lad_deg, latin1_deg, latin2_deg, radius_m)
    x = np.asarray(x_m, dtype=np.float64)
    y = np.asarray(y_m, dtype=np.float64)
    rho = np.hypot(x, rho0 - y)
    theta = np.arctan2(x, rho0 - y)
    with np.errstate(divide="ignore"):
        lat = 2.0 * np.arctan((rf / rho) ** (1.0 / n)) - np.pi / 2
    lat = np.where(rho == 0.0, np.pi / 2, lat)  # the pole itself
    lon = lov_deg + np.degrees(theta / n)
    lon = (lon + 180.0) % 360.0 - 180.0
    return np.degrees(lat), lon


def polar_stereo_forward(lat_deg, lon_deg, lad_deg, lov_deg, radius_m):
    """(lat, lon) degrees -> north-polar stereographic (x, y) metres,
    true scale at LaD, y axis along LoV away from the pole (Snyder
    eq. 21-1..21-4, tangent-half-angle form)."""
    k2 = 1.0 + math.sin(math.radians(lad_deg))  # = 2·k0
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    dlon = np.radians(
        (np.asarray(lon_deg, dtype=np.float64) - lov_deg + 180.0) % 360.0 - 180.0
    )
    rho = radius_m * k2 * np.tan(np.pi / 4 - lat / 2)
    return rho * np.sin(dlon), -rho * np.cos(dlon)


def polar_stereo_inverse(x_m, y_m, lad_deg, lov_deg, radius_m):
    """Exact inverse of :func:`polar_stereo_forward` (Snyder
    eq. 20-14..20-16, polar aspect)."""
    k2 = 1.0 + math.sin(math.radians(lad_deg))
    x = np.asarray(x_m, dtype=np.float64)
    y = np.asarray(y_m, dtype=np.float64)
    rho = np.hypot(x, y)
    lat = np.pi / 2 - 2.0 * np.arctan(rho / (radius_m * k2))
    lon = lov_deg + np.degrees(np.arctan2(x, -y))
    lon = (lon + 180.0) % 360.0 - 180.0
    return np.degrees(lat), lon


def mercator_forward(lat_deg, lon_deg, lad_deg, radius_m):
    """(lat, lon) degrees -> spherical Mercator (x, y) metres, true
    scale at LaD (x = R cos(LaD) dλ, y = R cos(LaD) ψ with ψ the
    isometric latitude)."""
    k = radius_m * math.cos(math.radians(lad_deg))
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    x = k * np.radians(np.asarray(lon_deg, dtype=np.float64))
    y = k * np.log(np.tan(np.pi / 4 + lat / 2))
    return x, y


def mercator_inverse(x_m, y_m, lad_deg, radius_m):
    """Exact inverse of :func:`mercator_forward` (exp/atan form)."""
    k = radius_m * math.cos(math.radians(lad_deg))
    lat = 2.0 * np.arctan(np.exp(np.asarray(y_m, dtype=np.float64) / k)) - np.pi / 2
    lon = np.degrees(np.asarray(x_m, dtype=np.float64) / k)
    lon = (lon + 180.0) % 360.0 - 180.0
    return np.degrees(lat), lon


def rotated_unrotate(rlats_deg, rlons_deg, sp_lat_deg, sp_lon_deg, angle_deg):
    """ROTATED lat/lon grid (GDT 3.1 — the COSMO/HIRLAM regional
    geometry): rotated coordinates → true coordinates, vectorized.

    Convention (the standard eccodes/COSMO/wgrib2 one, documented
    because GRIB only codes the pole, not the composition order): the
    rotated system's NORTH pole sits at the antipode of the coded
    SOUTHERN pole — (φ_N, λ_N) = (−sp_lat, sp_lon + 180°) — the angle
    of rotation γ turns the grid about the rotated polar axis
    (counterclockwise seen from the rotated north pole) BEFORE the
    pole tilt, and true longitudes come out measured from the coded
    southern-pole longitude itself.  An unrotated grid is therefore
    (sp_lat, sp_lon, γ) = (−90°, 0°, 0).  Matrix formulation
    v_true = Rz(sp_lon) · Ry(φ_N − 90°) · Rz(γ) · v_rot — anchored by
    the standard transform example: rotated (0°, 0°) under a coded
    southern pole of (−40°, 10°E) is true (50°N, 10°E).  The query
    oracle restates the same convention through the direct
    arcsin/atan2 spherical formulas — formulation-level independence,
    like the Snyder-vs-isometric Lambert pair."""
    phi = np.radians(np.asarray(rlats_deg, dtype=np.float64))
    lam = np.radians(np.asarray(rlons_deg, dtype=np.float64))
    x = np.cos(phi) * np.cos(lam)
    y = np.cos(phi) * np.sin(lam)
    z = np.sin(phi)
    g = math.radians(angle_deg)
    xg = x * math.cos(g) - y * math.sin(g)
    yg = x * math.sin(g) + y * math.cos(g)
    phi_n = math.radians(-sp_lat_deg)
    lam_p = math.radians(sp_lon_deg)
    xt = xg * math.sin(phi_n) - z * math.cos(phi_n)
    zt = xg * math.cos(phi_n) + z * math.sin(phi_n)
    xr = xt * math.cos(lam_p) - yg * math.sin(lam_p)
    yr = xt * math.sin(lam_p) + yg * math.cos(lam_p)
    lat = np.degrees(np.arcsin(np.clip(zt, -1.0, 1.0)))
    lon = np.degrees(np.arctan2(yr, xr))
    lon = (lon + 180.0) % 360.0 - 180.0
    return lat, lon


def spectral_legendre(truncation: int, mu) -> np.ndarray:
    """Fully-normalized associated Legendre functions P̄_n^m(μ) for all
    0 ≤ m ≤ n ≤ T at the points ``mu`` — the normalization spectral
    GRIB data uses (code table 3.6 representation type 1):
    P̄_n^m = sqrt((2n+1)·(n−m)!/(n+m)!) · P_n^m WITHOUT the
    Condon–Shortley phase, so ∫₋₁¹ (P̄_n^m)² dμ = 2 and P̄_0^0 ≡ 1.
    Computed by the stable diagonal-then-upward three-term recurrence
    (sectoral seed, then increasing degree at fixed order — the
    classic spectral-model scheme); the query oracle recomputes the
    same functions from the DERIVATIVE definition
    P_n^m = (1−μ²)^{m/2} dᵐPₙ/dμᵐ with explicit factorials —
    formulation-level independence, like the Snyder/isometric pair.

    Returns shape (T+1, T+1, len(mu)) indexed [m, n, point]; entries
    with n < m are zero."""
    mu = np.asarray(mu, dtype=np.float64).reshape(-1)
    t = int(truncation)
    out = np.zeros((t + 1, t + 1, mu.size))
    s = np.sqrt(np.maximum(0.0, 1.0 - mu * mu))
    pmm = np.ones_like(mu)  # P̄_0^0
    for m in range(t + 1):
        out[m, m] = pmm
        if m + 1 <= t:
            out[m, m + 1] = math.sqrt(2.0 * m + 3.0) * mu * pmm
        for n in range(m + 2, t + 1):
            a = math.sqrt((4.0 * n * n - 1.0) / (n * n - m * m))
            b = math.sqrt(
                ((n - 1.0) ** 2 - m * m) / (4.0 * (n - 1.0) ** 2 - 1.0)
            )
            out[m, n] = a * (mu * out[m, n - 1] - b * out[m, n - 2])
        if m + 1 <= t:
            pmm = math.sqrt((2.0 * m + 3.0) / (2.0 * m + 2.0)) * s * pmm
    return out


def schmidt_unstretch(lats_deg, lons_deg, sp_lat_deg, sp_lon_deg, factor):
    """STRETCHED lat/lon grid (GDT 3.2/3.3 — the ARPEGE/ALADIN Schmidt
    geometry): stretched coordinates → true coordinates, vectorized.

    Convention (documented because GRIB codes only the pole of
    stretching and the factor): the Schmidt (1977) transformation is a
    RADIAL SCALING of the polar stereographic projection about the
    pole of stretching — a point at stereographic radius r in the
    stretched (computational) system sits at radius r/c in the true
    system, so a factor c > 1 CONCENTRATES true resolution near the
    pole of stretching (the ARPEGE direction: a uniform computational
    grid is fine over the pole region, coarse at the antipode).  In
    the pole frame that is the half-angle colatitude form
        tan(χ_true/2) = tan(χ'/2) / c
    (equivalently the closed sin form sin φ_t =
    ((c²−1)+(c²+1)·sin φ')/((c²+1)+(c²−1)·sin φ'), which is
    ill-conditioned within ~1e-4° of the pole — see the inline note)
    with longitudes unchanged; for a general pole the engine rotates
    the pole of stretching to the north pole by 3-D matrix
    composition, applies the 1-D colatitude map, and rotates back —
    c = 1 is the identity everywhere.  The query oracle reaches the
    same map through independent machinery — spherical law of cosines
    for the colatitude, bearing-from-pole, destination-point formula
    (plans/grid_spectral_q.py::_unstretch_trig) — formulation independence in
    the composition, like the rotation/Lambert pairs."""
    phi = np.radians(np.asarray(lats_deg, dtype=np.float64))
    lam = np.radians(np.asarray(lons_deg, dtype=np.float64))
    c = float(factor)
    if not c > 0.0:
        raise ValueError(f"stretching factor {factor} must be positive")
    x = np.cos(phi) * np.cos(lam)
    y = np.cos(phi) * np.sin(lam)
    z = np.sin(phi)
    # rotate the pole of stretching to the north pole:
    # Ry(90°−φ_s) · Rz(−λ_s)
    lam_s = math.radians(sp_lon_deg)
    th = math.radians(90.0 - sp_lat_deg)
    x1 = x * math.cos(lam_s) + y * math.sin(lam_s)
    y1 = -x * math.sin(lam_s) + y * math.cos(lam_s)
    x2 = x1 * math.cos(th) - z * math.sin(th)
    z2 = x1 * math.sin(th) + z * math.cos(th)
    # Schmidt latitude map in the pole frame via the HALF-ANGLE
    # colatitude form: χ = 2·atan2(hypot, 1+z) (exact on the unit
    # sphere), tan(χ_t/2) = tan(χ/2)/c, then z = cos(χ_t) and the
    # in-plane rescale sin(χ_t)/sin(χ) → 1/c as χ → 0 — perfectly
    # conditioned at the pole of stretching.  The closed sin form
    # (sin φ_t = ((c²−1)+(c²+1)s)/((c²+1)+(c²−1)s)) is the SAME map,
    # but reconstructing the in-plane components from sqrt(1−s²)
    # cancels catastrophically within ~1e-4° of the pole (the r11
    # property-test failure); the half-angle form round-trips to
    # <1e-12° everywhere including at the pole itself.
    # tan(χ/2) by the branch that never cancels: sinχ/(1+cosχ) on the
    # pole hemisphere, (1−cosχ)/sinχ on the antipode hemisphere; then
    # sin/cos of χ_t reconstructed RATIONALLY from t' = tan(χ/2)/c (or
    # its reciprocal u, so u ∈ [0,1]) — no trig of near-π arguments.
    horiz = np.hypot(x2, y1)
    horiz_safe = np.where(horiz > 0.0, horiz, 1.0)
    north = z2 >= 0.0
    t = np.where(
        north,
        horiz / np.where(north, 1.0 + z2, 1.0),
        (1.0 - z2) / horiz_safe,
    )
    # exact antipode of the pole of stretching (horiz = 0, z = −1):
    # χ = π, a fixed point of the map
    t = np.where(~north & (horiz == 0.0), np.inf, t)
    t_new = t / c
    big = t_new > 1.0
    u = np.where(big, 1.0 / np.where(big, t_new, 1.0), t_new)
    den = 1.0 + u * u
    sin_t = 2.0 * u / den
    cos_t = np.where(big, -1.0, 1.0) * (1.0 - u * u) / den
    scale = np.where(horiz > 0.0, sin_t / horiz_safe, 0.0)
    x2, y1, z2 = x2 * scale, y1 * scale, cos_t
    # rotate back: Rz(λ_s) · Ry(−(90°−φ_s))
    x3 = x2 * math.cos(th) + z2 * math.sin(th)
    z3 = -x2 * math.sin(th) + z2 * math.cos(th)
    xr = x3 * math.cos(lam_s) - y1 * math.sin(lam_s)
    yr = x3 * math.sin(lam_s) + y1 * math.cos(lam_s)
    # arctan2(z, in-plane) rather than arcsin(z): near the geographic
    # poles z saturates at 1 (cos of a ~1e-8 rad colatitude rounds to
    # 1.0) while the in-plane components still carry the colatitude at
    # full relative precision
    lat = np.degrees(np.arctan2(z3, np.hypot(xr, yr)))
    lon = np.degrees(np.arctan2(yr, xr))
    lon = (lon + 180.0) % 360.0 - 180.0
    return lat, lon


def _spectral_degrees(t: int) -> np.ndarray:
    """Per-VALUE spherical-harmonic degree n of the triangular mode-1
    REAL sequence (re/im interleaved): for m = 0..T, n = m..T, two
    entries per complex coefficient — the array Laplacian scaling
    (template 5.51) applies along."""
    deg = np.concatenate([np.arange(m, t + 1) for m in range(t + 1)])
    return np.repeat(deg, 2)


def spectral_synthesis(coeffs, truncation: int, nj: int, ni: int):
    """Spherical-harmonic SYNTHESIS (the inverse Legendre + Fourier
    transform): mode-1 triangular coefficients → gridpoint values on
    the global regular Gaussian grid with ``nj`` parallels
    (:func:`gaussian_latitudes`) and ``ni`` equally spaced longitudes
    from 0°E — how a spectral archive (ERA5/IFS dynamics fields)
    becomes the lat/lon raster every downstream operator consumes.

    ``coeffs`` is the complex array a spectral record decodes to
    (:attr:`Grib2Record.spectral_coeffs`): C_n^m for m = 0..T,
    n = m..T in that order.  The field is real, so
    f(μ, λ) = Σ_n Re(C_n^0)·P̄_n^0(μ)
            + 2·Σ_{m=1}^{T} Σ_{n=m}^{T} P̄_n^m(μ)·
              [Re(C_n^m)·cos(mλ) − Im(C_n^m)·sin(mλ)]
    with the P̄ of :func:`spectral_legendre`.  Vectorized per zonal
    wavenumber: the Legendre sum contracts over degree for all
    latitudes at once, then the Fourier sum is two rank-1 outer
    products per m — O(T²·nj + T·nj·ni), no Python-per-cell work.

    Returns ``(values (nj, ni) north→south, latitudes_deg)``."""
    t = int(truncation)
    c = np.asarray(coeffs)
    npairs = (t + 1) * (t + 2) // 2
    if c.ndim != 1 or len(c) != npairs:
        raise ValueError(
            f"triangular T{t} spectrum has {npairs} coefficients, got "
            f"{c.shape}"
        )
    if ni < 1 or nj < 2:
        raise ValueError("synthesis grid needs nj >= 2 parallels, ni >= 1")
    # A REAL field has Im(C_n^0) ≡ 0.  The encoder validates that
    # exactly; a packed DECODE can carry ~quantization-sized residue
    # (Im encodes as (0−R)·2⁻ᴱ rounded), so the synthesis drops the
    # imaginary part — but a MEANINGFULLY nonzero Im(C_n^0) means a
    # mis-produced (or mis-parsed) file, and dropping it silently
    # would synthesize a subtly different field.  Warn loudly, scaled
    # against the spectrum magnitude so packing residue stays quiet.
    im0 = float(np.abs(c[: t + 1].imag).max(initial=0.0))
    ref = float(np.abs(c).max(initial=0.0))
    if im0 > 1e-6 * max(ref, np.finfo(np.float64).tiny):
        import warnings

        warnings.warn(
            f"spectral m=0 coefficients carry nonzero imaginary parts "
            f"(max |Im| {im0:.3e} vs spectrum max {ref:.3e}); a real "
            "field has Im(C_n^0) = 0 — synthesis uses the real parts "
            "only, so the producer file is suspect",
            RuntimeWarning,
            stacklevel=2,
        )
    lats = gaussian_latitudes(nj)
    mu = np.sin(np.radians(lats))
    p = spectral_legendre(t, mu)  # (m, n, nj)
    lon = np.radians(np.arange(ni) * 360.0 / ni)
    out = np.zeros((nj, ni))
    pos = 0
    for m in range(t + 1):
        cnt = t - m + 1
        cm = c[pos : pos + cnt]
        pos += cnt
        sm = (cm[:, None] * p[m, m : t + 1, :]).sum(axis=0)  # (nj,) complex
        if m == 0:
            # every C_n^0 of a real field is real (the decoder stores —
            # and the encoder validates — zero imaginary parts)
            out += sm.real[:, None]
        else:
            out += 2.0 * (
                np.outer(sm.real, np.cos(m * lon))
                - np.outer(sm.imag, np.sin(m * lon))
            )
    return out, lats


# Shape-of-earth octet (code table 3.2) -> sphere radius in metres for
# the codes the codec emits/accepts.
_EARTH_RADIUS_M = {0: 6_367_470.0, 6: 6_371_229.0}

@dataclass
class Grib2Record:
    """One decoded GRIB2 message."""

    discipline: int
    category: int
    number: int
    reftime: tuple[int, int, int, int, int]  # (year, month, day, hour, minute)
    ni: int | None  # None on reduced Gaussian grids (per-row counts)
    nj: int
    lat_first_udeg: int
    lon_first_udeg: int
    dlat_udeg: int
    dlon_udeg: int
    decimal_scale: int
    binary_scale: int
    reference_value: float
    nbits: int
    values: np.ndarray  # (nj, ni) float64, NaN where the bitmap masks
    # Template 4.0 first fixed surface (None when coded missing 0xFF):
    level_type: int | None = None
    level_scale: int | None = None
    level_value: int | None = None
    # Second fixed surface (octets 29-34): the BOTTOM of a layer
    # product (soil layers, cloud layers, the max-wind layer); None —
    # the usual case — on point-level products.
    level2_type: int | None = None
    level2_scale: int | None = None
    level2_value: int | None = None
    packing_template: int = 0  # data representation template (5.N)
    # Template 4.8 (statistical processing over a time interval):
    # code-table-4.10 process (0 = average, 1 = accumulation, ...) and
    # the end of the overall interval; None for instantaneous (4.0).
    statistical_process: int | None = None
    interval_end: tuple[int, int, int, int, int] | None = None
    # Templates 4.1/4.11 (individual ensemble member): code-table-4.6
    # type, perturbation number, ensemble size; None on 4.0/4.8.
    # ensemble_size is shared with 4.2/4.12 (number of forecasts the
    # derived product was computed from).
    ensemble_type: int | None = None
    ensemble_member: int | None = None
    ensemble_size: int | None = None
    # Templates 4.2/4.12 (derived forecast from ALL ensemble members):
    # code-table-4.7 type (0 unweighted mean, 2 std dev, 4 spread, ...);
    # None on every other template.
    derived_forecast: int | None = None
    # Templates 4.5/4.9 (probability forecasts): probability index /
    # total, code-table-4.9 type (0 below lower, 1 above upper,
    # 2 between, 3 above lower, 4 below upper) and the decoded
    # threshold limits — None where the type doesn't bound that side.
    probability_number: int | None = None
    probability_total: int | None = None
    probability_type: int | None = None
    prob_lower_limit: float | None = None
    prob_upper_limit: float | None = None
    # Templates 4.3/4.4 (derived forecasts from a CLUSTER of ensemble
    # members — rectangular / circular cluster domains) and their
    # 4.13/4.14 statistical siblings: the cluster
    # identifier, total number of clusters, code-table-4.8 clustering
    # method, number of forecasts in THIS cluster, the member numbers
    # themselves, and the decoded in-cluster standard deviation and
    # distance from the ensemble mean.  derived_forecast /
    # ensemble_size (octets 35-36) are shared with the 4.2 family.
    # The control-cluster numbers (octets 38-39) and the domain
    # geometry (octets 42-57 rect / 42-53 circ) are length-validated
    # but not surfaced.  None on every other template.
    cluster_identifier: int | None = None
    cluster_total: int | None = None
    cluster_method: int | None = None
    cluster_size: int | None = None
    cluster_members: tuple[int, ...] | None = None
    cluster_stddev: float | None = None
    cluster_mean_distance: float | None = None
    # Templates 4.6/4.10 (percentile forecasts): the percentile
    # (0-100) this field represents; None on every other template.
    percentile_value: int | None = None
    # Template 4.15 (spatio-statistical processing — smoothed /
    # re-gridded products): the code-table-4.10 statistic applied over
    # the SPATIAL area, the code-table-4.15 processing type and the
    # number of points used; None on every other template.  Distinct
    # from statistical_process, which is a TIME-interval statistic.
    spatial_statistical_process: int | None = None
    spatial_process_type: int | None = None
    spatial_points: int | None = None
    # Templates 4.40-4.43 (atmospheric chemical constituents — the
    # CAMS chemistry family: 4.40 analysis/forecast, 4.41 ensemble
    # member, 4.42 statistical, 4.43 ensemble statistical): the
    # code-table-4.230 constituent type (ozone, NO2, PM2.5, ...).
    # Each template is its 4.0-family base with this one 2-octet field
    # inserted after the parameter number; None on every other
    # template (0xFFFF = coded missing also lands None).
    constituent_type: int | None = None
    # Templates 4.44-4.48 (aerosol family): the code-table-4.233
    # aerosol type, the code-table-4.91 size-interval type with its
    # decoded bounds in metres (value·10^-scale, either side None when
    # coded missing), and — template 4.48 only — the optical
    # wavelength interval likewise.  None on every other template.
    aerosol_type: int | None = None
    aerosol_size_interval: int | None = None
    aerosol_first_size_m: float | None = None
    aerosol_second_size_m: float | None = None
    aerosol_wavelength_interval: int | None = None
    aerosol_first_wavelength_m: float | None = None
    aerosol_second_wavelength_m: float | None = None
    # Templates 4.60/4.61 (individual ensemble REFORECAST — the GEFS
    # v12 reforecast archive form): the model-version date appended
    # after the ensemble octets, (year, month, day, hour, minute);
    # None on every other template.  A reforecast archive mixes runs
    # of several model versions over decades of reference times — the
    # column is what separates them.
    model_version: tuple[int, int, int, int, int] | None = None
    # Templates 4.31 (satellite product — observational imagery, the
    # non-deprecated successor of 4.30), 4.32 (simulated/synthetic
    # satellite imagery — the GOES-brightness-temperature products
    # NCEP publishes from GFS/NAM) and the ensemble-simulated forms
    # 4.33/4.34 (whose three 4.1-style ensemble octets follow the band
    # list, landing in the shared ensemble_* fields): number of
    # contributing spectral bands plus the per-band satellite series /
    # satellite number / instrument type and the central wave number
    # in m^-1 (decoded from each band's (scale factor, scaled value)
    # pair).  None on every other template.  These templates carry NO
    # fixed surfaces (a satellite view has no level — the level fields
    # stay None) and 4.31 carries no forecast-time octets either (the
    # field is an observation at the reference time — forecast_hours
    # is None).
    satellite_bands: int | None = None
    satellite_series: tuple[int, ...] | None = None
    satellite_numbers: tuple[int, ...] | None = None
    satellite_instruments: tuple[int, ...] | None = None
    central_wavenumbers: tuple[float | None, ...] | None = None
    # Template 4.20 (radar product): site-based metadata — the number
    # of radar sites used, the site's coordinates (degrees), elevation
    # (m), CCITT-IA5 and numeric identifiers and code-table-4.12
    # operating mode.  None on every non-radar product; radar products
    # have no fixed surfaces and no forecast-time octets (an
    # observation at the reference time), so the level columns and
    # forecast_hours stay None.
    radar_sites: int | None = None
    radar_site_id: str | None = None
    radar_site_number: int | None = None
    radar_site_lat: float | None = None
    radar_site_lon: float | None = None
    radar_elevation_m: int | None = None
    radar_operating_mode: int | None = None
    # Forecast lead time (octets 18-22, whole 4.0 family) converted to
    # WHOLE hours; 0 for analysis fields; None on templates 4.31
    # (observational satellite — no lead octets) and 4.20 (radar).
    forecast_hours: int | None = 0
    # 4.8-family statistical sections: number of time-range
    # specifications.  Only the FIRST (outermost) spec's process is
    # surfaced as statistical_process, so count > 1 marks a COMPOUND
    # statistic ("average of daily maxima") that would otherwise
    # masquerade as a plain one.
    time_range_count: int | None = None
    # Template 3.40 (Gaussian grid): N = parallels pole-to-equator and
    # the actual latitude of every row (north -> south); None for the
    # regular lat/lon template 3.0, where dlat_udeg applies instead.
    gaussian_n: int | None = None
    latitudes_deg: np.ndarray | None = None
    # REDUCED Gaussian grid (3.40 with Ni coded missing + the section-3
    # points-per-row list — ERA5's native archive layout): number of
    # points on each parallel, north -> south.  When set, ``ni`` is
    # None, ``values`` stays a FLAT (sum(row_ni),) array in storage
    # order (ragged rows can't reshape), and every row starts at
    # lon_first with spacing 360/row_ni[j].
    row_ni: np.ndarray | None = None
    # Templates 3.20 (polar stereographic) / 3.30 (Lambert conformal):
    # grid_template pins which grid family produced the record;
    # lambert_params (kind: "lcc" | "ps") carries the projection
    # (lad/lov/latin1/latin2/radius_m) plus the precomputed anchor
    # (x1, y1), mesh steps and the scan-derived y sign. Projected grids
    # have no affine lat/lon axes, so dlat/dlon_udeg are 0 and values
    # are NOT row-normalized.
    grid_template: int = 0
    lambert_params: dict | None = None
    # Which 4.x product definition template produced the record — the
    # field that makes template 4.7 (analysis/forecast ERROR, whose
    # octet layout is identical to 4.0's) distinguishable from the
    # analysis itself, and lets consumers select whole product
    # families (all statistical forms, all ensemble-derived forms)
    # the way wgrib2 prints the template number.
    product_template: int = 0
    # Template 3.50 (spherical harmonic coefficients): the triangular
    # truncation T (J = K = M).  ``values`` is then the FLAT real
    # sequence re/im interleaved in mode-1 order (m = 0..T, n = m..T),
    # ``nj`` the complex-coefficient count (T+1)(T+2)/2, ``ni`` None,
    # and every geographic field zero — spectral data HAS no grid
    # until an explicit :func:`spectral_synthesis` produces one.
    spectral_truncation: int | None = None
    # Template 5.51 only: the triangular sub-truncation TS of the
    # unpacked low-wavenumber subset (None on 5.50 / gridded records).
    spectral_sub_truncation: int | None = None

    spectral_coeffs = property(spectral_coeffs)

    # Per-cell geographic coordinates (nj, ni) IN STORAGE ORDER —
    # computed lazily on first access (consumers like the landing
    # source reject projected grids before ever needing O(cells) trig).
    def _lambert_cells(self):
        cells = getattr(self, "_cells", None)
        if cells is None:
            lp = self.lambert_params
            if lp["kind"] in ("rotated", "stretched", "stretched_rotated"):
                # The affine fields hold the ROTATED and/or STRETCHED
                # axes (already row-normalized north-first in that
                # system's latitude); the Schmidt unstretch — the pole
                # of stretching is coded in the same system as the axes
                # — then (for the rotated forms) the unrotation yield
                # true coordinates per cell.
                rlats = (
                    self.lat_first_udeg
                    - self.dlat_udeg * np.arange(self.nj)[:, None]
                ) / 1e6
                rlons = (
                    self.lon_first_udeg
                    + self.dlon_udeg * np.arange(self.ni)[None, :]
                ) / 1e6
                shape = (self.nj, self.ni)
                lats = np.broadcast_to(rlats, shape)
                lons = np.broadcast_to(rlons, shape)
                if lp["kind"] in ("stretched", "stretched_rotated"):
                    lats, lons = schmidt_unstretch(
                        lats, lons, lp["st_lat"], lp["st_lon"], lp["st_c"]
                    )
                if lp["kind"] in ("rotated", "stretched_rotated"):
                    lats, lons = rotated_unrotate(
                        lats, lons, lp["sp_lat"], lp["sp_lon"], lp["angle"]
                    )
                self._cells = (lats, lons)
                return self._cells
            xs = lp["x1"] + lp["dx_m"] * np.arange(self.ni)[None, :]
            ys = lp["y1"] + lp["sj"] * lp["dy_m"] * np.arange(self.nj)[:, None]
            xg = np.broadcast_to(xs, (self.nj, self.ni))
            yg = np.broadcast_to(ys, (self.nj, self.ni))
            if lp["kind"] == "ps":
                cells = polar_stereo_inverse(
                    xg, yg, lp["lad"], lp["lov"], lp["radius_m"]
                )
            elif lp["kind"] == "mercator":
                cells = mercator_inverse(xg, yg, lp["lad"], lp["radius_m"])
            else:
                cells = lambert_inverse(
                    xg, yg, lp["lad"], lp["lov"], lp["latin1"],
                    lp["latin2"], lp["radius_m"],
                )
            self._cells = cells
        return cells

    def _reduced_cells(self):
        return reduced_grid_cells(self, self.lon_first_udeg / 1e6)

    @property
    def cell_lats_deg(self) -> np.ndarray | None:
        if self.lambert_params is not None:
            return self._lambert_cells()[0]
        if self.row_ni is not None:
            return self._reduced_cells()[0]
        return None

    @property
    def cell_lons_deg(self) -> np.ndarray | None:
        if self.lambert_params is not None:
            return self._lambert_cells()[1]
        if self.row_ni is not None:
            return self._reduced_cells()[1]
        return None


# --- complex packing (templates 5.2 / 5.3) --------------------------------
#
# Layout per WMO FM 92 GRIB2 and mirrored by NCEP's public g2clib
# (comunpack/compack): section 7 holds, in order, [5.3 only: the
# ``order`` initial scaled values then the overall minimum of the
# differences, each ``ww`` octets signed-magnitude], then NG group
# reference values (``nbits`` each, byte-aligned after the run), NG
# group-width increments (``wbits`` each, byte-aligned), NG scaled
# group lengths (``len_bits`` each, byte-aligned; the LAST group's
# length always comes from the template's true-length field), then
# every group's values packed CONTINUOUSLY at that group's width.
# Missing-value management 1 reserves the all-ones pattern at group
# width (and, for width-0 groups, the all-ones group reference) as the
# primary-missing marker.

_PRIMARY_MISSING_SUBSTITUTE = 9.999e20  # conventional float substitute


def _pack_varwidth(chunks) -> bytes:
    """Pack (uint64 array, width) runs into one continuous big-endian
    bit stream (no alignment between runs), zero-padded to a byte."""
    bit_arrays = []
    for vals, w in chunks:
        if w == 0 or len(vals) == 0:
            continue
        v = vals.astype(np.uint64)
        b = np.zeros(len(v) * w, dtype=np.uint8)
        for k in range(w):
            b[k::w] = (v >> np.uint64(w - 1 - k)) & np.uint64(1)
        bit_arrays.append(b)
    if not bit_arrays:
        return b""
    return np.packbits(np.concatenate(bit_arrays)).tobytes()


def _signed_magnitude(v: int, width: int) -> bytes:
    mag = abs(int(v))
    if mag >= 1 << (8 * width - 1):
        raise ValueError("signed-magnitude field overflow")
    b = bytearray(mag.to_bytes(width, "big"))
    if v < 0:
        b[0] |= 0x80
    return bytes(b)


def _complex_encode(vals: np.ndarray, p: dict):
    """Templates 5.2/5.3: quantize every point the masks leave, split
    the increments into ``group_len`` runs and describe them in ``p``;
    returns the section-7 emitter.  ``p["order"]`` is None on 5.2 and
    the differencing order on 5.3.  A ``secondary`` mask raises
    missing-value management to 2 (code table 5.5): the top TWO codes
    of every group width become the primary / secondary markers, an
    all-secondary group codes as the all-ones-minus-1 group reference,
    and the secondary substitute rides in section 5 for the consumer to
    land at those points."""
    missing, sec = p["missing"], p["secondary"]
    group_len, spatial_order = p["group_len"], p["order"]
    n = len(vals)
    mvm = 2 if sec is not None else (1 if missing is not None else 0)
    if mvm == 2 and missing is None:
        missing = np.zeros(n, dtype=bool)
    miss_any = (
        None if mvm == 0 else (missing if sec is None else (missing | sec))
    )
    x = _quantize(
        vals if miss_any is None else vals[~miss_any], p, 64
    ).astype(np.int64)
    if miss_any is not None:
        x_full = np.zeros(n, dtype=np.int64)
        x_full[~miss_any] = x
        x = x_full
    if group_len < 1:
        raise ValueError("group_len must be >= 1")
    reserve = mvm  # marker codes at the top of every width
    extra = b""
    ww = 0
    if spatial_order is not None and spatial_order not in (1, 2):
        raise ValueError(
            f"unsupported spatial differencing order {spatial_order}"
        )
    if spatial_order:
        # mvm composes with spatial differencing by differencing the
        # NON-MISSING subsequence only (the g2clib convention NCEP
        # precipitation products encode under): missing points pack as
        # group markers exactly as on 5.2, and the descriptors
        # describe the present subsequence.  The dense (no-mvm) case
        # is the SAME arithmetic with every point present.
        pres_idx = (
            np.arange(n) if miss_any is None else np.flatnonzero(~miss_any)
        )
        if len(pres_idx) < spatial_order:
            raise ValueError(
                "not enough present points for spatial differencing"
            )
        d = x[pres_idx].copy()
        ivals = [int(v) for v in d[:spatial_order]]
        if spatial_order == 1:
            d[1:] = np.diff(d)
        else:
            d[2:] = d[2:] - 2 * d[1:-1] + d[:-2] if len(d) > 2 else d[2:]
            d[1] = 0
        d[0] = 0
        gmin = int(d.min()) if len(d) else 0
        d -= gmin
        x[pres_idx] = d
        if miss_any is not None:
            # entries at missing positions never pack as values (the
            # group loop writes the marker codes); zero them so the
            # group references stay tight
            x[miss_any] = 0
        ww = 1
        while any(abs(v) >= 1 << (8 * ww - 1) for v in ivals + [gmin]):
            ww += 1
        extra = b"".join(_signed_magnitude(v, ww) for v in ivals + [gmin])

    starts = list(range(0, n, group_len))
    ng = len(starts)
    refs = np.zeros(ng, dtype=np.int64)
    widths = np.zeros(ng, dtype=np.int64)
    group_vals: list[tuple[np.ndarray, int]] = []
    all_missing = np.zeros(ng, dtype=bool)
    all_secondary = np.zeros(ng, dtype=bool)
    for gi, s0 in enumerate(starts):
        sl = slice(s0, min(s0 + group_len, n))
        gx = x[sl]
        gm = missing[sl] if mvm else None
        gs = sec[sl] if sec is not None else None
        gall = None
        if gm is not None:
            gall = gm if gs is None else (gm | gs)
        if gall is not None and gall.all():
            if gs is not None and gm.any() and gs.any():
                # MIXED all-missing group: no constant-reference
                # marker codes two kinds — use the width path with the
                # per-value markers; at w = 1 they are 1 (all-ones,
                # primary) and 0 (all-ones − 1, secondary), and no
                # value codes are needed
                w = 1
                vals = np.where(gm, (1 << w) - 1, (1 << w) - 2)
                refs[gi] = 0
                widths[gi] = w
                group_vals.append((vals.astype(np.uint64), w))
                continue
            all_missing[gi] = True
            all_secondary[gi] = gs is not None and bool(gs.all())
            group_vals.append((np.zeros(0, dtype=np.uint64), 0))
            continue
        pres = gx if gall is None else gx[~gall]
        ref = int(pres.min())
        maxd = int(pres.max()) - ref
        w = maxd.bit_length()
        if gall is not None and gall.any():
            # the top ``reserve`` codes at group width are the
            # primary / (mvm=2) secondary markers
            w = max(w, 1)
            while maxd >= (1 << w) - reserve:
                w += 1
            vals = np.where(gm, (1 << w) - 1, gx - ref)
            if gs is not None:
                vals = np.where(gs, (1 << w) - 2, vals)
        elif gall is not None:
            # mvm is on: the marker codes are reserved at group width
            # in EVERY group (decoders can't know which groups carry
            # missing) — bump the width when the max present delta
            # collides.
            while w and maxd >= (1 << w) - reserve:
                w += 1
            vals = gx - ref
        else:
            vals = gx - ref
        refs[gi] = ref
        widths[gi] = w
        group_vals.append((vals.astype(np.uint64), w))

    real_refs = refs[~all_missing]
    max_ref = int(real_refs.max()) if len(real_refs) else 0
    nbits_ref = max(max_ref.bit_length(), 1)
    if mvm:
        # the all-ones group REFERENCE is the all-primary-missing
        # marker for width-0 groups in EVERY message (mvm=2 also
        # reserves all-ones-minus-1 for all-secondary), whether or not
        # this one has such a group — an unreserved constant group
        # whose ref lands on a marker would decode as entirely missing.
        while max_ref >= (1 << nbits_ref) - reserve:
            nbits_ref += 1
        refs[all_missing & ~all_secondary] = (1 << nbits_ref) - 1
        refs[all_missing & all_secondary] = (1 << nbits_ref) - 2
    wref = int(widths.min()) if ng else 0
    wbits = int(int(widths.max()) - wref).bit_length() if ng else 0
    len_bits = 0  # every group is group_len; the last comes from true-length
    p.update(
        nbits=nbits_ref, mvm=mvm, ng=ng, width_ref=wref, width_bits=wbits,
        length_ref=group_len, length_inc=1,
        last_length=(n - starts[-1]) if ng else 0, length_bits=len_bits,
        primary_substitute=_PRIMARY_MISSING_SUBSTITUTE if mvm else None,
        ww=ww,
    )
    return lambda: (
        extra
        + _pack_varwidth([(refs.astype(np.uint64), nbits_ref)])
        + _pack_varwidth([((widths - wref).astype(np.uint64), wbits)])
        + _pack_varwidth([(np.zeros(ng, dtype=np.uint64), len_bits)])
        + _pack_varwidth(group_vals)
    )


def _rle_pack(levels: np.ndarray, nbits: int, mv: int) -> np.ndarray:
    """Template 7.200 run-length stream (the JMA radar-composite
    packing; convention per JMA Technical Information No. 215, the
    published decoding wgrib2 implements): the stream is ``nbits``-wide
    codes where a code ≤ MV is a LEVEL value (one occurrence) and a
    code > MV is a RUN-LENGTH DIGIT extending the preceding level's
    run — consecutive digits d₁..dₖ (stream order = least significant
    first) add Σ (dᵢ − MV − 1) · LNGU^(i−1) occurrences, with
    LNGU = 2^nbits − 1 − MV the digit base.  A run of n therefore
    encodes as the level once plus the base-LNGU digits of n − 1
    (no digits when n = 1)."""
    lngu = (1 << nbits) - 1 - mv
    out: list[int] = []
    i = 0
    n = len(levels)
    while i < n:
        lv = int(levels[i])
        run = 1
        while i + run < n and levels[i + run] == lv:
            run += 1
        if lngu < 2:
            # MV fills the code space to within one value: the lone
            # digit code (if any) carries base-1 positional weight 0,
            # so runs are unencodable — emit the level per occurrence
            # (decodes identically; base-1 "digits" would loop forever)
            out.extend([lv] * run)
            i += run
            continue
        out.append(lv)
        rem = run - 1
        while rem > 0:
            out.append(mv + 1 + rem % lngu)
            rem //= lngu
        i += run
    return np.asarray(out, dtype=np.int64)


def _rle_unpack(
    codes: np.ndarray, nbits: int, mv: int, total: int
) -> np.ndarray:
    """Inverse of :func:`_rle_pack` → ``total`` level values.  The
    byte-padding of section 7 can form up to ``floor(7/nbits)`` phantom
    all-zero codes past the last run — accepted ONLY as such (all zero,
    fewer than 8 bits); anything else past the grid is loud."""
    codes = np.asarray(codes, dtype=np.int64)
    lngu = (1 << nbits) - 1 - mv
    if codes.size == 0:
        if total:
            raise ValueError("empty run-length stream for a non-empty grid")
        return np.zeros(0, dtype=np.int64)
    is_level = codes <= mv
    if not is_level[0]:
        raise ValueError(
            "run-length stream opens with a run digit (no level to repeat)"
        )
    lp = np.flatnonzero(is_level)
    levels = codes[lp]
    bounds = np.append(lp, len(codes))
    runs = np.ones(len(lp), dtype=np.int64)
    didx = np.flatnonzero(~is_level)
    if didx.size:
        # vectorized digit accumulation: each digit belongs to the
        # nearest preceding level, its significance is its distance
        # past that level (LSB first) — no per-run Python loop (a
        # 1-km national composite carries ~10^6 codes)
        grp = np.searchsorted(lp, didx) - 1
        within = didx - lp[grp] - 1
        if lngu >= 2 and int(within.max()) * math.log2(lngu) > 62:
            # lngu^significance past 2^62 outruns any grid — a longer
            # digit chain is corrupt, and letting it through would
            # overflow the int64 base powers into garbage run lengths
            raise ValueError(
                "run-length digit chain exceeds any decodable run"
            )
        contrib = (codes[didx] - mv - 1) * lngu ** within
        np.add.at(runs, grp, contrib)
    cum = np.cumsum(runs)
    if cum[-1] < total:
        raise ValueError(
            f"run-length stream decodes {int(cum[-1])} cells, "
            f"grid has {total}"
        )
    k = int(np.searchsorted(cum, total))
    if cum[k] != total:
        raise ValueError("run-length run crosses the end of the grid")
    extra = codes[bounds[k + 1] :]
    if extra.size * nbits >= 8 or extra.any():
        raise ValueError(
            "trailing data past the grid in the run-length stream"
        )
    return np.repeat(levels[: k + 1], runs[: k + 1])


def _complex_decode(data: bytes, p: dict) -> np.ndarray:
    """Decode a template 7.2/7.3 data section against its 5.2/5.3
    descriptor → the values: Y = (R + X·2^E)/10^D, NaN at primary
    missing points and the section-5 secondary substitute (NaN when
    coded missing) at secondary ones.  Under missing-value management
    2 the top TWO codes of every group width (and of the reference
    width, for constant groups) are the primary / secondary markers.
    Spatial differencing (7.3) is integrated here.  ``nbits`` is the
    group-reference width, so 0 is no constant field: the group widths
    still carry values.

    Native-codec swap-in point: like the JPEG2000 path (see
    grid/jpeg2000.py module docstring), this pure-Python group
    unpacker is the per-record CPU constant at 100 TB; it runs inside
    the landing source's ``mapInPandas`` stage, which is the
    replaceable unit.  A native GRIB library (eccodes/g2clib) drops in
    at this function's bytes→values contract without touching
    the scan, the pushdown, or the record schema."""
    nbits_ref, mvm, ng, n_points = p["nbits"], p["mvm"], p["ng"], p["n_present"]
    if mvm not in (0, 1, 2):
        raise ValueError(f"unsupported missing value management {mvm}")
    order = p.get("order")  # None: 5.2, no differencing
    if order is not None and order not in (1, 2):
        raise ValueError(f"unsupported spatial differencing order {order}")

    off = 0
    ivals: list[int] = []
    gmin = 0
    if order:
        ww = p["ww"]
        if ww < 1:
            raise ValueError("missing extra-descriptor width (ww)")
        for _ in range(order + 1):
            raw = int.from_bytes(data[off : off + ww], "big")
            mag = raw & ((1 << (8 * ww - 1)) - 1)
            ivals.append(-mag if raw >> (8 * ww - 1) else mag)
            off += ww
        gmin = ivals.pop()

    allbits = np.unpackbits(np.frombuffer(data, dtype=np.uint8))
    bitpos = off * 8

    def take(count: int, width: int) -> np.ndarray:
        nonlocal bitpos
        if width > 63:
            # a uint64 weight shift of >= 64 wraps to zero (and bit 63
            # would wrap negative through the int64 view) — corrupt
            # width octets must stop loudly, not decode garbage
            raise ValueError(
                f"{width}-bit complex-packing field width is not decodable"
            )
        if width == 0 or count == 0:
            return np.zeros(count, dtype=np.int64)
        end = bitpos + count * width
        if end > len(allbits):
            raise ValueError("truncated complex-packing data section")
        seg = allbits[bitpos:end].reshape(count, width).astype(np.uint64)
        bitpos = end
        w = np.uint64(1) << np.arange(width - 1, -1, -1, dtype=np.uint64)
        return (seg @ w).astype(np.int64)

    def align() -> None:
        nonlocal bitpos
        bitpos = (bitpos + 7) // 8 * 8

    refs = take(ng, nbits_ref)
    align()
    widths = p["width_ref"] + take(ng, p["width_bits"])
    align()
    lengths = p["length_ref"] + p["length_inc"] * take(ng, p["length_bits"])
    align()
    if ng:
        lengths[-1] = p["last_length"]
    if int(lengths.sum()) != n_points:
        raise ValueError(
            f"group lengths sum to {int(lengths.sum())}, expected {n_points}"
        )

    x = np.zeros(n_points, dtype=np.int64)
    miss = np.zeros(n_points, dtype=bool)
    miss2 = np.zeros(n_points, dtype=bool)
    ref_marker = (1 << nbits_ref) - 1
    pos = 0
    for gi in range(ng):
        length, w, ref = int(lengths[gi]), int(widths[gi]), int(refs[gi])
        if w == 0:
            if mvm and ref == ref_marker:
                miss[pos : pos + length] = True
            elif mvm == 2 and ref == ref_marker - 1:
                miss2[pos : pos + length] = True
            else:
                x[pos : pos + length] = ref
        else:
            vals = take(length, w)
            if mvm:
                mm = vals == (1 << w) - 1
                mm2 = (
                    vals == (1 << w) - 2
                    if mvm == 2
                    else np.zeros(length, dtype=bool)
                )
                miss[pos : pos + length] = mm
                miss2[pos : pos + length] = mm2
                vals = np.where(mm | mm2, 0, ref + vals)
                x[pos : pos + length] = vals
            else:
                x[pos : pos + length] = ref + vals
        pos += length

    if order:
        # With missing-value management the differencing ran over the
        # NON-MISSING subsequence only (g2clib's comunpack
        # convention): reconstruct on that subsequence — second
        # differences → first differences → values — and scatter back;
        # missing points stay missing.  The dense (mvm = 0) case is
        # the SAME arithmetic with every point present.
        pres_idx = (
            np.arange(n_points)
            if not mvm
            else np.flatnonzero(~(miss | miss2))
        )
        d = x[pres_idx] + gmin  # entries below ``order`` overwritten next
        m = len(pres_idx)
        sub = np.empty(m, dtype=np.int64)
        if order == 1:
            if m > 0:
                sub[0] = ivals[0]
            if m > 1:
                sub[1:] = ivals[0] + np.cumsum(d[1:])
        else:
            if m > 0:
                sub[0] = ivals[0]
            if m > 1:
                sub[1] = ivals[1]
            if m > 2:
                g1 = (ivals[1] - ivals[0]) + np.cumsum(d[2:])
                sub[2:] = ivals[1] + np.cumsum(g1)
        x = np.zeros(n_points, dtype=np.int64)
        x[pres_idx] = sub
    y = _scale(p, x)
    y[miss] = np.nan
    # SECONDARY missing (mvm=2): the producer's declared substitute is
    # what those points MEAN (e.g. "below detection threshold" radar
    # returns) — landing it preserves information NaN would destroy.
    sub2 = p["secondary_substitute"]
    y[miss2] = np.nan if sub2 is None else sub2
    return y


# --- sections 1, 4 and 5 as octet tables -----------------------------------
#
# WMO-No. 306 (Manual on Codes, Vol. I.2) defines every product
# definition and data representation template as an octet table, and
# wgrib2 reads each one from a table.  So does this module: _PDT and
# _DRT map each template number to its blocks in octet order, and one
# packer (_pack_section) and one walker (_parse_section) serve the
# encoder, the full decode and both inventories; section 1 is a lead
# without a template.  No offset is written down: the walker computes
# each one from the widths before it, which is why a block that follows
# a counted list (4.13/4.14 after the cluster members, 4.34 after the
# bands) needs no special case.

_REQUIRED = object()  # no default: the source dict must carry the key


class _F(NamedTuple):
    """One section field.  ``name`` is the key it decodes to (None: not
    surfaced), ``key`` the dotted path the encoder reads in its source
    dict (None: the source itself), ``width`` its octets (per item for a
    list) and ``label`` what its errors call it.  ``missing``: the
    all-ones word is coded missing, None both ways.  ``arg`` is the
    kind's parameter: a constant's bytes, an unsigned field's ceiling, a
    signed field's (lo, hi, divisor) (None: the plain integer), a
    scaled pair's non-negative flag, the phrase an empty count reports,
    a list's item fields."""

    name: str | None
    key: str | None
    width: int
    kind: str
    label: object = ""
    missing: bool = False
    default: object = _REQUIRED
    arg: object = None


def _const(raw: bytes) -> _F:
    return _F(None, None, len(raw), "const", arg=raw)


def _code(name, key, label, **kw) -> _F:
    """One code-table octet: 0-254, 255 is coded missing.  ``& 0xFF``
    masking would encode an out-of-range value as a DIFFERENT code, so
    it stops loudly instead."""
    return _F(name, key, 1, "u", label, missing=True, **kw)


def _items(name, key, label, items) -> _F:
    """A list whose length is the last count field read.  ``name``
    "columns" surfaces one tuple per named item field, "first" only the
    first item's fields."""
    return _F(name, key, sum(f.width for f in items), "list", label, arg=items)


_PARAM = (
    _F("category", "category", 1, "u", "parameter category"),
    _F("number", "number", 1, "u", "parameter number"),
)
# Generating process (forecast), background/forecast process ids,
# cutoff hours/minutes, then the lead in code-table-4.4 units: GFS
# f000-f384 products differ ONLY in the lead.
_LEAD = (
    _const(b"\x02\x00\x00\x00\x00\x00"),
    _F("forecast_hours", "forecast", 5, "lead", "forecast time", default=None),
)
# The second surface is the BOTTOM of a layer product (0-10 cm soil,
# cloud layers); coded missing on a point level.
_SURFACES = (
    _F("level", "level", 6, "surface", ("fixed surface type", "fixed-surface")),
    _F("level2", "level2", 6, "surface",
       ("second fixed surface type", "second-surface"), missing=True),
)
_FAMILY = (_PARAM, _LEAD, _SURFACES)
_ENSEMBLE = (
    _code("ensemble_type", "ensemble.type", "ensemble type"),
    _code("ensemble_member", "ensemble.member", "ensemble member"),
    _code("ensemble_size", "ensemble.size", "ensemble size"),
)
_DERIVED = (
    _code("derived_forecast", "derived.type", "derived forecast type"),
    _code("ensemble_size", "derived.size", "ensemble size"),
)


def _cluster(domain: tuple) -> tuple:
    """4.3/4.4: the 4.2 octets, the cluster block, the domain geometry,
    the in-cluster spread as scaled pairs, then the NC member numbers
    (NC = len(members); without it the list length is unknowable)."""
    return (
        _code("derived_forecast", "cluster.type", "derived forecast type"),
        _code("ensemble_size", "cluster.size", "ensemble size"),
        _code("cluster_identifier", "cluster.identifier", "cluster identifier"),
        _code(None, "cluster.hires", "high-resolution cluster", default=None),
        _code(None, "cluster.lores", "low-resolution cluster", default=None),
        _code("cluster_total", "cluster.total", "total number of clusters"),
        _code("cluster_method", "cluster.method", "clustering method"),
        *domain,
        _F("cluster_size", "cluster.members", 1, "count",
           "cluster member count", arg="forecasts in the cluster"),
        _F("cluster_stddev", "cluster.stddev", 5, "pair",
           "cluster standard deviation", default=None),
        _F("cluster_mean_distance", "cluster.distance", 5, "pair",
           "cluster distance from the mean", default=None),
        _items("columns", "cluster.members", "cluster members",
               (_code("cluster_members", None, "cluster member"),)),
    )


_CLUSTER_RECTANGLE = _cluster(tuple(
    _F(None, f"cluster.bounds.{i}", 4, "sm", f"cluster domain {side}")
    for i, side in enumerate(("north", "south", "east", "west"))
))
_CLUSTER_CIRCLE = _cluster(tuple(
    _F(None, f"cluster.center.{i}", 4, "sm", f"cluster domain {part}")
    for i, part in enumerate(("centre latitude", "centre longitude", "radius"))
))
_PROBABILITY = (
    _code("probability_number", "probability.number",
          "forecast probability number"),
    _code("probability_total", "probability.total",
          "total forecast probabilities"),
    _code("probability_type", "probability.type", "probability type"),
    _F("prob_lower_limit", "probability.lower", 5, "pair", "threshold",
       default=None),
    _F("prob_upper_limit", "probability.upper", 5, "pair", "threshold",
       default=None),
)
_PERCENTILE = (
    _F("percentile_value", "percentile", 1, "u", "percentile value",
       missing=True, arg=100),
)
# 4.15 is an AREA statistic: statistical_process/interval_end stay None.
_SPATIAL = (
    _code("spatial_statistical_process", "spatial.stat",
          "spatial statistical process"),
    _code("spatial_process_type", "spatial.type", "spatial processing type"),
    _code("spatial_points", "spatial.points", "spatial data-point count"),
)
# The statistical block: interval end, n time-range specifications
# (n > 1 nests statistics, "average of daily maxima"; only the
# outermost process surfaces, so n rides along), each an hourly range
# of successive fields with continuous processing.
_STATISTICAL = (
    _F("interval_end", "statistical.interval_end", 7, "date",
       "statistical interval end"),
    _F("time_range_count", "statistical.specs", 1, "count",
       "time-range specification count", arg="time-range specifications"),
    _const(b"\x00\x00\x00\x00"),  # no missing values in the interval
    _items("first", "statistical.specs", "time-range specifications", (
        _code("statistical_process", "process", "statistical process"),
        _const(b"\x02\x01"),  # increment type: successive fields; unit: hour
        _F(None, "range_hours", 4, "u", "statistical range hours"),
        _const(b"\x01\x00\x00\x00\x00"),  # increment unit: hour; continuous
    )),
)
_MODEL_VERSION = (
    _F("model_version", "model_version", 7, "date", "model version date"),
)
_CHEMISTRY = (
    _F("constituent_type", "chemistry", 2, "u", "chemical constituent type",
       missing=True),
)
_AEROSOL = (
    _F("aerosol_type", "aerosol.type", 2, "u", "aerosol type", missing=True),
    _code("aerosol_size_interval", "aerosol.size_interval",
          "aerosol size-interval type", default=None),
    _F("aerosol_first_size_m", "aerosol.first_size", 5, "pair",
       "aerosol first size", default=None),
    _F("aerosol_second_size_m", "aerosol.second_size", 5, "pair",
       "aerosol second size", default=None),
)
_AEROSOL_WAVELENGTH = _AEROSOL + (
    _code("aerosol_wavelength_interval", "aerosol.wavelength_interval",
          "aerosol wavelength-interval type", default=None),
    _F("aerosol_first_wavelength_m", "aerosol.first_wavelength", 5, "pair",
       "aerosol first wavelength", default=None),
    _F("aerosol_second_wavelength_m", "aerosol.second_wavelength", 5, "pair",
       "aerosol second wavelength", default=None),
)
# 4.20 and 4.30/4.31 are observations at the reference time: no lead
# octets, no fixed surfaces.
_RADAR = (
    _const(b"\x08"),  # type of generating process: observation
    _code("radar_sites", "radar.sites", "radar site count", default=1),
    _const(b"\x01"),  # unit of time range: hour
    _F("radar_site_lat", "radar.lat_udeg", 4, "sm", "radar site latitude",
       missing=True, default=None, arg=(-90_000_000, 90_000_000, 1e6)),
    _F("radar_site_lon", "radar.lon_udeg", 4, "sm", "radar site longitude",
       missing=True, default=None, arg=(-180_000_000, 360_000_000, 1e6)),
    _F("radar_elevation_m", "radar.elevation_m", 2, "u", "radar site elevation",
       missing=True, default=0),
    _F("radar_site_id", "radar.site_id", 4, "ascii", "radar site id",
       default="XXXX"),
    _F("radar_site_number", "radar.site_number", 2, "u", "radar site number",
       missing=True, default=0),
    _code("radar_operating_mode", "radar.mode", "radar operating mode",
          default=0),
    _code(None, "radar.calibration", "reflectivity calibration constant",
          default=0),
    _code(None, "radar.qc", "quality control indicator", default=0),
    _code(None, "radar.clutter", "clutter filter indicator", default=0),
    _code(None, "radar.antenna_elevation", "constant antenna elevation angle",
          default=0),
    _F(None, "radar.accumulation_minutes", 2, "u", "radar accumulation minutes",
       default=0),
    _code(None, "radar.echo_top_reference",
          "reference reflectivity for echo top", default=0),
    _F(None, "radar.bin_spacing_m", 3, "u", "radar bin spacing", default=0),
    _F(None, "radar.radial_spacing", 2, "u", "radar radial spacing", default=0),
)
_OBSERVED = (
    _const(b"\x08"),  # type of generating process: observation
    _code(None, "satellite.process",
          "observation generating process identifier", default=0),
)


def _bands(instrument: _F) -> tuple:
    """The contributing spectral bands: NB, then per band the satellite
    series, number, instrument type and central wave number (m^-1, an
    exact scaled pair; a magnitude, so never negative)."""
    return (
        _F("satellite_bands", "satellite.bands", 1, "count",
           "spectral band count", arg="contributing spectral bands"),
        _items("columns", "satellite.bands", "spectral bands", (
            _F("satellite_series", "series", 2, "u", "satellite series"),
            _F("satellite_numbers", "number", 2, "u", "satellite number"),
            instrument,
            _F("central_wavenumbers", "wave", 5, "pair", "central-wave-number",
               arg=True),
        )),
    )


_BANDS = _bands(
    _F("satellite_instruments", "instrument", 2, "u", "instrument type")
)

# Template number -> (the product kwargs that select it, its blocks).
_PDT = {
    0: ((), _FAMILY),
    1: (("ensemble",), (*_FAMILY, _ENSEMBLE)),
    2: (("derived",), (*_FAMILY, _DERIVED)),
    3: (("cluster", "bounds"), (*_FAMILY, _CLUSTER_RECTANGLE)),
    4: (("cluster", "center"), (*_FAMILY, _CLUSTER_CIRCLE)),
    5: (("probability",), (*_FAMILY, _PROBABILITY)),
    6: (("percentile",), (*_FAMILY, _PERCENTILE)),
    # Analysis/forecast ERROR: 4.0's layout exactly, so only the
    # template number tells an error field from the analysis.
    7: (("error",), _FAMILY),
    8: (("statistical",), (*_FAMILY, _STATISTICAL)),
    9: (("probability", "statistical"), (*_FAMILY, _PROBABILITY, _STATISTICAL)),
    10: (("percentile", "statistical"), (*_FAMILY, _PERCENTILE, _STATISTICAL)),
    11: (("ensemble", "statistical"), (*_FAMILY, _ENSEMBLE, _STATISTICAL)),
    12: (("derived", "statistical"), (*_FAMILY, _DERIVED, _STATISTICAL)),
    # 4.13/4.14: the statistical block sits at a VARIABLE offset, after
    # the NC member numbers.
    13: (("cluster", "bounds", "statistical"),
         (*_FAMILY, _CLUSTER_RECTANGLE, _STATISTICAL)),
    14: (("cluster", "center", "statistical"),
         (*_FAMILY, _CLUSTER_CIRCLE, _STATISTICAL)),
    15: (("spatial",), (*_FAMILY, _SPATIAL)),
    20: (("radar",), (_PARAM, _RADAR)),
    # 4.30, the deprecated form of 4.31 that pre-2003 archives carry:
    # each band's instrument type is ONE octet, so a band is 10 octets.
    30: (("satellite", "deprecated"), (_PARAM, _OBSERVED, _bands(
        _code("satellite_instruments", "instrument", "instrument type")))),
    31: (("satellite",), (_PARAM, _OBSERVED, _BANDS)),
    32: (("satellite", "simulated"), (_PARAM, _LEAD, _BANDS)),
    # 4.33/4.34: the ensemble octets (and 4.34's statistical block)
    # follow the NB-long band list.
    33: (("satellite", "simulated", "ensemble"),
         (_PARAM, _LEAD, _BANDS, _ENSEMBLE)),
    34: (("satellite", "simulated", "ensemble", "statistical"),
         (_PARAM, _LEAD, _BANDS, _ENSEMBLE, _STATISTICAL)),
    # 4.40-4.49: the 4.0/4.1/4.8/4.11 layouts with the chemical
    # constituent or aerosol insert after the parameter number.
    40: (("chemistry",), (_PARAM, _CHEMISTRY, _LEAD, _SURFACES)),
    41: (("chemistry", "ensemble"),
         (_PARAM, _CHEMISTRY, _LEAD, _SURFACES, _ENSEMBLE)),
    42: (("chemistry", "statistical"),
         (_PARAM, _CHEMISTRY, _LEAD, _SURFACES, _STATISTICAL)),
    43: (("chemistry", "ensemble", "statistical"),
         (_PARAM, _CHEMISTRY, _LEAD, _SURFACES, _ENSEMBLE, _STATISTICAL)),
    44: (("aerosol",), (_PARAM, _AEROSOL, _LEAD, _SURFACES)),
    45: (("aerosol", "ensemble"),
         (_PARAM, _AEROSOL, _LEAD, _SURFACES, _ENSEMBLE)),
    46: (("aerosol", "statistical"),
         (_PARAM, _AEROSOL, _LEAD, _SURFACES, _STATISTICAL)),
    47: (("aerosol", "ensemble", "statistical"),
         (_PARAM, _AEROSOL, _LEAD, _SURFACES, _ENSEMBLE, _STATISTICAL)),
    48: (("aerosol", "wavelength"),
         (_PARAM, _AEROSOL_WAVELENGTH, _LEAD, _SURFACES)),
    49: (("aerosol", "wavelength", "ensemble"),
         (_PARAM, _AEROSOL_WAVELENGTH, _LEAD, _SURFACES, _ENSEMBLE)),
    # Ensemble REFORECAST (the GEFS v12 archive form): the model-version
    # date follows the ensemble octets.
    60: (("ensemble", "model_version"), (*_FAMILY, _ENSEMBLE, _MODEL_VERSION)),
    61: (("ensemble", "model_version", "statistical"),
         (*_FAMILY, _ENSEMBLE, _MODEL_VERSION, _STATISTICAL)),
}
_PDT_BY_KEY = {frozenset(key): t for t, (key, _) in _PDT.items()}
# What the inventories read: category, number, the insert they skip,
# the lead and both surfaces, every one ahead of the first other block.
_HEAD_BLOCKS = (
    _PARAM, _CHEMISTRY, _AEROSOL, _AEROSOL_WAVELENGTH, _LEAD, _SURFACES,
)


def _lookup(src, path: tuple, default):
    for part in path:
        if not isinstance(src, dict):
            src = src[int(part)]
        elif part in src or default is _REQUIRED:
            src = src[part]
        else:
            return default
    return src


def _pack_u(f: _F, v) -> bytes:
    """An unsigned integer; a fraction would truncate silently, so it stops."""
    if v is None and f.missing:
        return b"\xff" * f.width
    if int(v) != v:
        raise ValueError(f"{f.label} {v} is not an integer")
    v = int(v)
    hi = f.arg if f.arg is not None else 256 ** f.width - 1 - f.missing
    if not 0 <= v <= hi:
        sentinel = (
            f" ({hi + 1} is the missing sentinel)"
            if f.missing and f.arg is None else ""
        )
        raise ValueError(f"{f.label} {v} out of range 0-{hi}{sentinel}")
    return v.to_bytes(f.width, "big")


def _parse_u(f: _F, buf: bytes, off: int):
    v = int.from_bytes(buf[off : off + f.width], "big")
    if f.missing and v == 256 ** f.width - 1:
        return None
    if f.arg is not None and v > f.arg:
        raise ValueError(f"{f.label} {v} out of range 0-{f.arg}")
    return v


def _pack_sm(f: _F, v) -> bytes:
    if v is None and f.missing:
        return b"\xff" * f.width
    top = 1 << (8 * f.width - 1)
    lo, hi = f.arg[:2] if f.arg else (1 - top, top - 1)
    if not lo <= int(v) <= hi:
        raise ValueError(f"{f.label} {int(v)} out of range")
    return _signed_magnitude(int(v), f.width)


def _sm_read(raw: bytes) -> int:
    v, top = int.from_bytes(raw, "big"), 1 << (8 * len(raw) - 1)
    return top - v if v & top else v


def _parse_sm(f: _F, buf: bytes, off: int):
    raw = buf[off : off + f.width]
    if f.missing and raw == b"\xff" * f.width:
        return None
    v = _sm_read(raw)
    if f.arg is None:
        return v
    lo, hi, div = f.arg
    if not lo <= v <= hi:
        raise ValueError(f"{f.label} {v / div} out of range")
    return v / div


def _pack_pair(label: str, v, nonneg: bool = False) -> bytes:
    """(scale factor, scaled value) -> 1 + 4 signed-magnitude octets;
    None -> coded missing.  Scale -127 and value -(2^31 - 1) are the
    all-ones words, so they would decode as missing: both stop."""
    if v is None:
        return b"\xff" * 5
    scale, value = int(v[0]), int(v[1])
    if not -126 <= scale <= 127:
        raise ValueError(
            f"{label} scale factor {scale} out of signed-magnitude range"
        )
    if nonneg and value < 0:
        raise ValueError(f"{label} value {value} out of range")
    if abs(value) >= 1 << 31:
        raise ValueError(
            f"{label} value {value} out of range (signed-magnitude 32-bit overflow)"
        )
    if value == 1 - (1 << 31):
        raise ValueError(
            f"{label} scaled value collides with the coded-missing sentinel"
        )
    return _signed_magnitude(scale, 1) + _signed_magnitude(value, 4)


def _pack_surface(f: _F, v) -> bytes:
    """Type 0-255 (255 = missing, legal to ask for on the first
    surface), then the scaled level."""
    if v is None and f.missing:
        return b"\xff" * 6
    t = _pack_u(f._replace(width=1, label=f.label[0], arg=None), v["type"])
    return t + _pack_pair(f.label[1], (v.get("scale", 0), v["value"]))


def _parse_surface(f: _F, buf: bytes, off: int) -> dict:
    """A coded-missing type blanks the whole surface; so does an
    all-ones part.  Values are signed-MAGNITUDE (a -2 PVU surface is
    wire 0x80000002)."""
    t = buf[off] if buf[off] != 0xFF else None
    sc, raw = buf[off + 1 : off + 2], buf[off + 2 : off + 6]
    scale = None if t is None or sc == b"\xff" else _sm_read(sc)
    value = None if t is None or raw == b"\xff" * 4 else _sm_read(raw)
    return {f"{f.name}_type": t, f"{f.name}_scale": scale, f"{f.name}_value": value}


def _date_ok(p: tuple) -> bool:
    return (
        len(p) == 6 and 0 <= p[0] <= 0xFFFF and 1 <= p[1] <= 12
        and 1 <= p[2] <= 31 and 0 <= p[3] < 24 and 0 <= p[4] < 60 and 0 <= p[5] < 60
    )


def _pack_date(f: _F, v) -> bytes:
    """(year, month, day, hour, minute[, second = 0])."""
    p = tuple(int(x) for x in v) + (0,) * (len(v) == 5)
    if not _date_ok(p):
        raise ValueError(f"{f.label} {v} out of range")
    return struct.pack(">HBBBBB", *p)


def _parse_date(f: _F, buf: bytes, off: int) -> tuple:
    p = struct.unpack_from(">HBBBBB", buf, off)
    if not _date_ok(p):
        raise ValueError(f"{f.label} {p[:5]} out of range")
    return p[:5]


def _pack_lead(f: _F, v) -> bytes:
    """Only units the decoder turns into whole hours encode: a calendar
    unit would make a message the engine itself rejects."""
    unit, value = (1, 0) if v is None else (int(v["unit"]), int(v["value"]))
    if not 0 <= value < 1 << 31:
        raise ValueError(f"{f.label} {value} out of range")
    _forecast_hours(unit, value)
    return bytes([unit]) + value.to_bytes(4, "big")


def _pack_ascii(f: _F, v) -> bytes:
    if len(str(v)) != f.width or not str(v).isascii():
        raise ValueError(
            f"{f.label} {str(v)!r} must be {f.width} CCITT IA5 characters"
        )
    return str(v).encode("ascii")


def _parse_ascii(f: _F, buf: bytes, off: int):
    raw = buf[off : off + f.width]
    if raw == b"\xff" * f.width:
        return None
    try:
        return raw.decode("ascii").strip("\x00 ") or None
    except UnicodeDecodeError:
        raise ValueError(f"{f.label} is not CCITT IA5 (ASCII)") from None


def _pack_count(f: _F, v) -> bytes:
    """A list's length: 0 and the all-ones word are refused both ways."""
    hi = 256 ** f.width - 2
    if not 1 <= len(v) <= hi:
        raise ValueError(f"{f.label} {len(v)} out of range 1-{hi}")
    return len(v).to_bytes(f.width, "big")


def _pack_f32(f: _F, v) -> bytes:
    """IEEE 754 binary32, rounded to nearest; past its range is loud."""
    if v is None and f.missing:
        return b"\xff" * 4
    try:
        return struct.pack(">f", float(v))
    except OverflowError:
        raise ValueError(f"{f.label} {v} out of range") from None


def _parse_f32(f: _F, buf: bytes, off: int):
    if f.missing and buf[off : off + 4] == b"\xff" * 4:
        return None
    return _f32_decode(buf[off : off + 4])


_PACK = {
    "const": lambda f, v: f.arg,
    "u": _pack_u,
    "sm": _pack_sm,
    "pair": lambda f, v: _pack_pair(f.label, v, bool(f.arg)),
    "surface": _pack_surface,
    "date": _pack_date,
    "lead": _pack_lead,
    "ascii": _pack_ascii,
    "count": _pack_count,
    "f32": _pack_f32,
}
_PARSE = {
    "u": _parse_u,
    "sm": _parse_sm,
    "pair": lambda f, buf, off: _scaled_limit(buf, off),
    "date": _parse_date,
    "lead": lambda f, buf, off: _forecast_hours(buf[off], _rs32be(buf, off + 1)),
    "ascii": _parse_ascii,
    "f32": _parse_f32,
    "surface": _parse_surface,
    "count": lambda f, buf, off: int.from_bytes(buf[off : off + f.width], "big"),
}


def _pack_plan(fields) -> tuple:
    """Per field: the field, its source key split into a path, and its
    kind's packer or, for a list, its items' plan — laid out once, so
    packing neither splits a key nor looks up a kind."""
    return tuple(
        (f, tuple(f.key.split(".")) if f.key else (),
         _pack_plan(f.arg) if f.kind == "list" else _PACK[f.kind])
        for f in fields
    )


def _pack_fields(plan, src) -> bytes:
    out = []
    for f, path, pack in plan:
        v = _lookup(src, path, f.default)
        if f.kind == "list":
            out.extend(_pack_fields(pack, item) for item in v)
        else:
            out.append(pack(f, v))
    return b"".join(out)


class _Block(NamedTuple):
    """A block laid out for the walker once, when its table is built:
    its plain integers (1, 2 or 4 octets, no bounds) read with one
    struct unpack (``ints`` is the format, not a compiled Struct, which
    would not pickle into the functions Spark ships), with the (name,
    all-ones word if coded missing, sign bit if signed-magnitude) of
    those that need a fix-up; every other surfaced field with its
    parser and its offset in the block (name None for a surface, whose
    parse is several fields); the octets before any list; the count
    that sizes the list and the list itself (always the block's last
    field)."""

    ints: str
    names: tuple
    fix: tuple
    ops: tuple
    width: int
    count: _F | None
    items: _F | None
    in_head: bool
    check: bool = True


def _block(fields: tuple, in_head: bool, check: bool = True) -> _Block:
    fmt, names, fix, ops, at, count, items = ">", [], [], [], 0, None, None
    for f in fields:
        if items is not None:
            raise TypeError(f"{items.label}: a list must end its block")
        if f.kind == "list":
            items = f
            continue
        if f.kind == "count":
            count = f
        plain = f.width in (1, 2, 4) and (
            f.kind == "count" or f.kind in ("u", "sm") and f.arg is None
        )
        if f.name is not None and plain:
            fmt += " BH I"[f.width]
            names.append(f.name)
            if f.missing or f.kind == "sm":
                fix.append((
                    f.name, 256 ** f.width - 1 if f.missing else None,
                    1 << (8 * f.width - 1) if f.kind == "sm" else 0,
                ))
        else:
            fmt += f"{f.width}x"
            if f.name is not None:
                name = None if f.kind == "surface" else f.name
                ops.append((name, _PARSE[f.kind], f, at))
        at += f.width
    return _Block(
        fmt, tuple(names), tuple(fix), tuple(ops), at, count,
        items, in_head, check,
    )


class _Section:
    """One section's layout after its 5-octet header.  ``lead`` is the
    fields every message carries; on a templated section its last field
    is the 2-octet template number, and ``table`` maps that number to an
    entry whose second item is its blocks, which follow the lead.
    ``blank`` names the fields that read None when the template has no
    such block; ``head`` is the blocks a head read walks before it
    stops; ``noun`` is what the errors call a template.  ``plans`` holds
    each template's walk and ``packs`` its pack plan, both laid out
    once."""

    def __init__(self, number, noun, lead, table=None, blank=(), head=()):
        self.number, self.noun, self.lead = number, noun, lead
        self.table, self.blank = table, blank
        # A short lead fails the template number's read (section 1: the
        # date's), a torn record loud_truncation names.
        whole = _block(lead, True, check=False)
        self.at = 3 + whole.width  # the template number's offset
        self.plans = {None: (whole,)}
        self.packs = {None: _pack_plan(lead)}
        if table is not None:
            # The walk reads the template number once, before the lead.
            skip = _block((*lead[:-1], lead[-1]._replace(name=None)), True, False)
            self.plans = {
                t: (skip, *(_block(b, b in head) for b in entry[1]))
                for t, entry in table.items()
            }
            self.packs = {
                t: _pack_plan(lead + sum(entry[1], ()))
                for t, entry in table.items()
            }


def _frame(number: int, body: bytes) -> bytes:
    return struct.pack(">IB", 5 + len(body), number) + body


def _pack_section(sec: _Section, src: dict) -> bytes:
    """The lead and, on a templated section, the blocks of the template
    whose number ``src`` carries under the lead's last key."""
    t = None if sec.table is None else src[sec.lead[-1].key]
    return _frame(sec.number, _pack_fields(sec.packs[t], src))


def _template_number(sec: _Section, raw: bytes) -> int:
    (t,) = struct.unpack_from(">H", raw, sec.at)
    if t not in sec.table:
        raise ValueError(f"unsupported {sec.noun} template {t}")
    return t


def _parse_section(
    sec: _Section, raw: bytes, head: bool = False, t: int | None = None
) -> dict:
    """A section (5-octet header included) -> its fields by name, walking
    the lead and the template's blocks with a running offset.  Loud on
    every defect: an unknown template, a truncated block, an empty
    count, an out-of-range field.  ``t``: the template number, when the
    caller has read it already.  ``head`` reads only ``sec.head`` blocks
    (the inventory fields) and a lead the hours column cannot hold as
    None, the way wgrib2 still lists such a record."""
    out = dict.fromkeys(sec.blank)
    if sec.table is not None:
        if t is None:
            t = _template_number(sec, raw)
        out[sec.lead[-1].name] = t
    off = 5
    for b in sec.plans[t]:
        if head and not b.in_head:
            break
        if b.check and len(raw) < off + b.width:
            raise ValueError(f"truncated {sec.noun} template {sec.number}.{t}")
        if b.names:
            out.update(zip(b.names, struct.unpack_from(b.ints, raw, off)))
            for name, missing, sign in b.fix:
                v = out[name]
                if v == missing:
                    out[name] = None
                elif v & sign:
                    out[name] = sign - v
        for name, parse, f, at in b.ops:
            try:
                v = parse(f, raw, off + at)
            except ValueError:
                if head and f.kind == "lead":
                    continue
                raise
            if name is None:
                out.update(v)
            else:
                out[name] = v
        off += b.width
        count = 0
        if b.count is not None:
            count = out[b.count.name]
            if count in (0, 256 ** b.count.width - 1):
                raise ValueError(
                    f"{sec.noun} template {sec.number}.{t} with no {b.count.arg}"
                )
        f = b.items
        if f is None:
            continue
        if len(raw) < off + count * f.width:
            raise ValueError(
                f"truncated {sec.noun} template {sec.number}.{t} ({count} {f.label})"
            )
        cols = {}
        at = off
        for i in f.arg:
            if i.name is not None:
                cols[i.name] = tuple(
                    _PARSE[i.kind](i, raw, at + r * f.width) for r in range(count)
                )
            at += i.width
        if f.name == "first":
            cols = {k: c[0] for k, c in cols.items()}
        out.update(cols)
        off += count * f.width
    return out


def _field(name: str, width: int, kind: str, label: str, **kw) -> _F:
    """A field whose decoded name is also its source key."""
    return _F(name, name, width, kind, label, **kw)


_DISCIPLINE = _F(None, None, 1, "u", "discipline")  # section 0's one field
# Section 1: centre 74, subcentre 0, master/local tables 2/1, the
# reference time is the start of the forecast; after it, production
# status 0 (operational) and data type 1 (forecast).
_S1 = _Section(1, "identification", (
    _const(struct.pack(">HHBBB", 74, 0, 2, 1, 1)),
    _field("reftime", 7, "date", "reference time"),
    _const(b"\x00\x01"),
))
_S4 = _Section(
    4,
    "product definition",
    (
        _const(b"\x00\x00"),  # no coordinate values follow the template
        _field("product_template", 2, "u", "product definition template"),
    ),
    _PDT,
    # No lead or no surfaces on the template: None, never 4.0's lead 0.
    blank=(
        "forecast_hours", "level_type", "level_scale", "level_value",
        "level2_type", "level2_scale", "level2_value",
    ),
    head=_HEAD_BLOCKS,
)


# --- section 3: grid definition templates ----------------------------------
#
# _GDT maps each grid definition template to the grid-family kwargs that
# select it, its blocks in octet order, and its geometry, which stays
# code because it is arithmetic.  ``encode(values, p)`` checks the
# family's kwargs (``p`` holds them with the lat/lon and scanning
# kwargs), fills the section-3 fields into ``p`` (Ni/Nj, the point
# count and the template's wire integers) and returns the float64
# values; ``decode(g, raw)`` turns the walker's dict ``g`` into the
# record's grid fields.  Angles ride in microdegrees and projected
# increments in millimetres, signed-magnitude where they can be
# negative.  A coded-missing Ni is a reduced grid, legal only on a
# template that carries the points-per-row list.

_EARTH = (
    # Code table 3.2 (the encoder writes 6, a sphere of radius
    # 6371229 m), then the radius and axes it implies: not given.
    _field("earth", 1, "u", "shape of earth", default=6),
    _const(b"\xff" * 15),
)
_NINJ = (
    _field("ni", 4, "u", "Ni", missing=True),
    _field("nj", 4, "u", "Nj", missing=True),
)
# The 3.0 body: basic angle 0 with no subdivisions (coordinates in
# microdegrees), La1/Lo1, the resolution flags (0x30: both increments
# given), La2/Lo2, Di/Dj and the scanning mode (0x00 = +i,−j; 0x40 =
# +i,+j, south row first).  3.40 shares it, with N (parallels pole to
# equator) where 3.0 has Dj.
_LATLON = (
    _field("basic_angle", 4, "u", "basic angle", default=0),
    _field("subdivisions", 4, "u", "basic angle subdivisions", default=0xFFFFFFFF),
    _field("la1", 4, "sm", "La1"),
    _field("lo1", 4, "sm", "Lo1"),
    _field("flags", 1, "u", "resolution and component flags"),
    _field("la2", 4, "sm", "La2"),
    _field("lo2", 4, "sm", "Lo2"),
    _field("di", 4, "u", "Di"),
    _field("dj", 4, "u", "Dj"),
    _field("scan", 1, "u", "scanning mode"),
)
# 3.1/3.3: the southern pole of projection and the angle of rotation.
_ROTATION = (
    _field("sp_lat", 4, "sm", "southern pole latitude"),
    _field("sp_lon", 4, "sm", "southern pole longitude"),
    _field("angle", 4, "sm", "angle of rotation"),
)
# 3.2/3.3: the pole of stretching and the stretching factor ×10^6.
_STRETCHING = (
    _field("st_lat", 4, "sm", "pole-of-stretching latitude"),
    _field("st_lon", 4, "sm", "pole-of-stretching longitude"),
    _field("st_c", 4, "u", "stretching factor"),
)
# The projected grids open alike: La1/Lo1 of cell (0, 0), the flags
# (0x08: u/v relative to the grid) and LaD, where Di/Dj hold.
_ANCHOR = (
    _field("la1", 4, "sm", "La1"),
    _field("lo1", 4, "sm", "Lo1"),
    _const(b"\x08"),
    _field("lad", 4, "sm", "LaD"),
)
# 3.10: La2/Lo2 (the encoder derives them from the mesh), the scanning
# mode, the grid orientation (0: not rotated) and Di/Dj.
_MERCATOR = (
    _field("la2", 4, "sm", "La2"),
    _field("lo2", 4, "sm", "Lo2"),
    _field("scan", 1, "u", "scanning mode"),
    _field("orientation", 4, "u", "Mercator grid orientation", default=0),
    _field("dx", 4, "u", "Di"),
    _field("dy", 4, "u", "Dj"),
)
# 3.20, and 3.30 up to its standard parallels: LoV, Dx/Dy, the
# projection-centre flag (0: north pole on the plane), the scanning mode.
_POLAR = (
    _field("lov", 4, "sm", "LoV"),
    _field("dx", 4, "u", "Dx"),
    _field("dy", 4, "u", "Dy"),
    _field("centre", 1, "u", "projection centre flag", default=0),
    _field("scan", 1, "u", "scanning mode"),
)
# 3.30: the two standard parallels, then the south pole of projection
# (-90°, 0°).
_CONE = (
    _field("latin1", 4, "sm", "Latin1"),
    _field("latin2", 4, "sm", "Latin2"),
    _const(_signed_magnitude(-90_000_000, 4) + bytes(4)),
)
# 3.50: the J/K/M pentagonal resolution (triangular: each is T), the
# representation type (1: associated Legendre of the first kind) and
# mode (1: the complex ordering m = 0..M, n = m..J).
_SPECTRAL = (
    _F("J", "truncation", 4, "u", "J"),
    _F("K", "truncation", 4, "u", "K"),
    _F("M", "truncation", 4, "u", "M"),
    _field("spectral_type", 1, "u", "spectral representation type", default=1),
    _field("spectral_mode", 1, "u", "spectral representation mode", default=1),
)
# 3.40's points-per-row list (north -> south) after the template body.
# Its length is Nj, not a count field, so the walker reads none of it;
# _gaussian_decode reads it at the lead's entry width.
_ROWS = (
    _F(None, "row_ni", 2, "list", "points per row", default=(),
       arg=(_F(None, None, 2, "u", "points per row"),)),
)


def _e6(x) -> int:
    """×10^6, rounded: microdegrees, or the stretching factor's octets."""
    return int(round(float(x) * 1e6))


def _grid_values(values, p: dict) -> np.ndarray:
    """A (nj, ni) raster in a scanning mode the codec writes."""
    vals = np.asarray(values, dtype=np.float64)
    if vals.ndim != 2:
        raise ValueError("values must be (nj, ni)")
    if p["scan"] not in (0x00, 0x40):
        raise ValueError(f"unsupported scanning mode 0x{p['scan']:02x}")
    p["nj"], p["ni"] = vals.shape
    p["npoints"] = vals.size
    return vals


def _latlon_encode(values, p: dict) -> np.ndarray:
    """3.0-3.3: rows step down from ``lat_first_udeg`` (the northern
    edge) by ``dlat_udeg``; under 0x40 La1 is the southern edge.  The
    axes of a rotated or stretched grid are coordinates in that system."""
    vals = _grid_values(values, p)
    rot, st = p["rotated"], p["stretched"]
    if rot is not None:
        if not -90.0 <= float(rot["south_pole_lat"]) <= 90.0:
            raise ValueError("rotated-grid southern pole latitude out of range")
        p.update(
            sp_lat=_e6(rot["south_pole_lat"]), sp_lon=_e6(rot["south_pole_lon"]),
            angle=_e6(rot.get("angle", 0.0)),
        )
    if st is not None:
        if not -90.0 <= float(st["pole_lat"]) <= 90.0:
            raise ValueError("pole-of-stretching latitude out of range")
        if not 0.0 < float(st["factor"]) < 4000.0:
            raise ValueError(f"stretching factor {st['factor']} out of range")
        p.update(
            st_lat=_e6(st["pole_lat"]), st_lon=_e6(st["pole_lon"]),
            st_c=_e6(st["factor"]),
        )
    north, south = p["la1"], p["la1"] - (p["nj"] - 1) * p["dj"]
    p.update(
        la1=south if p["scan"] else north, la2=north if p["scan"] else south,
        lo2=p["lo1"] + (p["ni"] - 1) * p["di"], flags=0x30,
    )
    return vals


def _gaussian_encode(values, p: dict) -> np.ndarray:
    """3.40: the rows are the Gaussian latitudes, so La1/La2 are the
    first and last of them, Dj holds N and the lat/dlat kwargs do not
    apply.  ``reduced_ni`` (the points-per-parallel list, ``values`` the
    flat ragged rows) codes Ni and Di missing and carries the list."""
    rows = p["reduced_ni"]
    if rows is None:
        vals = _grid_values(values, p)
        if p["scan"] != 0x00:
            raise ValueError("Gaussian grids are encoded north-first only")
        p.update(flags=0x30, lo2=p["lo1"] + (p["ni"] - 1) * p["di"])
    else:
        rows = np.asarray(rows, dtype=np.int64)
        vals = np.asarray(values, dtype=np.float64)
        if vals.ndim != 1 or len(vals) != int(rows.sum()):
            raise ValueError(
                "reduced-grid values must be flat with sum(reduced_ni) points"
            )
        if len(rows) % 2 or len(rows) < 2 or (rows <= 0).any():
            raise ValueError(
                "a global reduced Gaussian grid has an even positive parallel count"
            )
        if (rows > 0xFFFF).any():
            raise ValueError("points-per-row exceeds the 2-octet list width")
        if p["scan"] != 0x00:
            raise ValueError("Gaussian grids are encoded north-first only")
        bm = p["bitmap"]
        if bm is not None and (np.ndim(bm) != 1 or len(bm) != len(vals)):
            # the bitmap of the flat ragged rows is the same flat mask
            raise ValueError(
                "a reduced-grid bitmap must be flat with sum(reduced_ni) points"
            )
        if p["missing_mask"] is not None:
            raise ValueError(
                "missing_mask not supported on reduced grids (use a bitmap)"
            )
        nmax = int(rows.max())
        p.update(
            ni=None, nj=len(rows), npoints=int(rows.sum()), list_width=2,
            list_kind=1, flags=0x00, di=0xFFFFFFFF, row_ni=rows,
            lo2=p["lo1"] + int(round((nmax - 1) * 360e6 / nmax)),
        )
    lats = gaussian_latitudes(p["nj"])
    p.update(la1=_e6(lats[0]), la2=_e6(lats[-1]), dj=p["nj"] // 2)
    return vals


def _anchor(p: dict, kw: dict) -> None:
    """The projected grids' shared octets from the family's degrees and
    metres (``kw`` keys la1, lo1 of cell (0, 0), lad, dx_m, dy_m)."""
    p.update(
        la1=_e6(kw["la1"]), lo1=_e6(kw["lo1"]), lad=_e6(kw["lad"]),
        dx=int(round(kw["dx_m"] * 1e3)), dy=int(round(kw["dy_m"] * 1e3)),
    )


def _mercator_encode(values, p: dict) -> np.ndarray:
    """3.10, true scale at LaD: La2/Lo2 are the far corner of the mesh,
    through the Snyder forward/inverse pair."""
    vals, mc = _grid_values(values, p), p["mercator"]
    if not -90.0 < mc["lad"] < 90.0:
        raise ValueError("degenerate Mercator true-scale latitude")
    _anchor(p, mc)
    radius = _EARTH_RADIUS_M[6]
    x1, y1 = mercator_forward(mc["la1"], mc["lo1"], mc["lad"], radius)
    sj = 1.0 if p["scan"] & 0x40 else -1.0
    la2, lo2 = mercator_inverse(
        float(x1) + (p["ni"] - 1) * mc["dx_m"],
        float(y1) + sj * (p["nj"] - 1) * mc["dy_m"], mc["lad"], radius,
    )
    p.update(la2=_e6(la2), lo2=_e6(lo2))
    return vals


def _polar_encode(values, p: dict) -> np.ndarray:
    """3.20, north aspect (``polar_stereo`` adds lov, the orientation)."""
    vals, ps = _grid_values(values, p), p["polar_stereo"]
    if ps["lad"] <= -90.0:
        raise ValueError("degenerate polar-stereographic true-scale latitude")
    _anchor(p, ps)
    p["lov"] = _e6(ps["lov"])
    return vals


def _lambert_encode(values, p: dict) -> np.ndarray:
    """3.30 (``lambert`` adds lov, latin1, latin2): the cone is checked
    here, so a southern cone stops at encode."""
    vals, lc = _grid_values(values, p), p["lambert"]
    _lambert_setup(lc["lad"], lc["latin1"], lc["latin2"], _EARTH_RADIUS_M[6])
    _anchor(p, lc)
    p.update(lov=_e6(lc["lov"]), latin1=_e6(lc["latin1"]), latin2=_e6(lc["latin2"]))
    return vals


def _spectral_grid_encode(values, p: dict) -> np.ndarray:
    """3.50: ``values`` is the 1-D complex C_n^m, m = 0..T, n = m..T;
    the field is real, so every m = 0 coefficient has a zero imaginary
    part (a synthesis would silently drop it).  The point count holds
    the complex coefficients; the values return re/im interleaved."""
    t = int(p["spectral"]["truncation"])
    if t < 1:
        raise ValueError("spectral truncation must be >= 1")
    if p["bitmap"] is not None or p["missing_mask"] is not None:
        raise ValueError("spectral data carries no bitmap/missing mask")
    if p["scan"] != 0x00:
        raise ValueError("spectral data has no scanning mode")
    c = np.asarray(values)
    npairs = (t + 1) * (t + 2) // 2
    if c.ndim != 1 or len(c) != npairs or not np.iscomplexobj(c):
        raise ValueError(
            f"triangular T{t} spectrum is a 1-D complex array of "
            f"{npairs} coefficients (m = 0..T, n = m..T)"
        )
    if len(c) and float(np.abs(c[: t + 1].imag).max()) != 0.0:
        raise ValueError(
            "m = 0 coefficients of a real field have zero imaginary part"
        )
    vals = np.empty(2 * npairs, dtype=np.float64)
    vals[0::2] = c.real
    vals[1::2] = c.imag
    p.update(truncation=t, ni=None, nj=npairs, npoints=npairs)
    return vals


def _grid_shape(g: dict) -> tuple:
    """(Ni, Nj).  Ni may be coded missing only on a template with the
    points-per-row list (a reduced grid); any other sentinel dimension
    has no per-row machinery, and decoding it would be silent geography
    corruption (or overflow the landing's int32 column)."""
    t, ni, nj = g["grid_template"], g["ni"], g["nj"]
    if nj is None or (ni is None and _ROWS not in _GDT[t].blocks):
        raise ValueError(f"grid dimensions coded missing on template {t}")
    return ni, nj


def _south_first(t: int, scan) -> bool:
    """0x40 stores a lat/lon grid's rows south-first, and the codec's
    values are north-first.  Projected grids have no latitude axis:
    their values keep storage order, the scan bit orienting y."""
    return scan == 0x40 and _LATLON in _GDT[t].blocks


def _check_scan(scan: int) -> None:
    """The same loud stop as grib1: any other mode reorders cells, and
    reading it as row-major would be silent geography corruption."""
    if scan not in (0x00, 0x40):
        raise ValueError(
            f"unsupported scanning mode 0x{scan:02x} (only +i,±j row-major)"
        )


def _affine(g: dict, flags: int) -> None:
    """The 3.0 body's checks, shared with 3.40.  A non-default basic
    angle re-scales every coordinate (a millidegree unit read as
    microdegrees is 1000x off), so only basic angle 0 / coded missing or
    the explicit 1/10^6 decodes.  An increment whose resolution flag
    (``flags``) is unset holds the all-ones sentinel."""
    _check_scan(g["scan"])
    basic, subdiv = g["basic_angle"], g["subdivisions"]
    if not (basic in (0, 0xFFFFFFFF) or (basic == 1 and subdiv == 1_000_000)):
        raise ValueError(
            f"non-default basic angle {basic}/{subdiv} not "
            "supported (coordinates would not be microdegrees)"
        )
    if (g["flags"] & flags) != flags:
        raise ValueError("direction increments not given (resolution flags)")


def _latlon_decode(g: dict, raw: bytes) -> dict:
    """3.0-3.3.  A rotated or stretched grid keeps its axes (already
    north-first in that system) in the affine fields; lambert_params
    carries the pole, angle and factor the lazy per-cell unstretch and
    unrotation need, so no consumer reads those axes as geography."""
    ni, nj = _grid_shape(g)
    _affine(g, 0x30)
    lp = None
    if "sp_lat" in g:
        lp = {
            "kind": "rotated", "sp_lat": g["sp_lat"] / 1e6,
            "sp_lon": g["sp_lon"] / 1e6, "angle": g["angle"] / 1e6,
        }
        if not -90.0 <= lp["sp_lat"] <= 90.0:
            raise ValueError("rotated-grid southern pole latitude out of range")
    if "st_c" in g:
        if g["st_c"] in (0, 0xFFFFFFFF):
            raise ValueError("stretching factor missing or zero")
        st = {
            "st_lat": g["st_lat"] / 1e6, "st_lon": g["st_lon"] / 1e6,
            "st_c": g["st_c"] / 1e6,
        }
        if not -90.0 <= st["st_lat"] <= 90.0:
            raise ValueError("pole-of-stretching latitude out of range")
        lp = {"kind": "stretched", **st} if lp is None else {
            **lp, "kind": "stretched_rotated", **st,
        }
    la1, dlat = g["la1"], g["dj"]
    if g["scan"] == 0x40:
        la1 += (nj - 1) * dlat  # La1 was the southern edge
    return dict(
        ni=ni, nj=nj, lat_first_udeg=la1, lon_first_udeg=g["lo1"],
        dlat_udeg=dlat, dlon_udeg=g["di"], lambert_params=lp,
    )


def _gaussian_decode(g: dict, raw: bytes) -> dict:
    """3.40, the global grid only (nj = 2N): a latitude subset would
    need La1/La2 root matching, and assuming global would misplace rows.
    Ni coded missing is the REDUCED grid (ERA5's native layout): the
    section-3 optional list (interpretation 1, points per full
    parallel) gives each row's count, and there is no common Di."""
    ni, nj = _grid_shape(g)
    row_ni = None
    if ni is None:
        w = g["list_width"]
        if w == 0 or g["list_kind"] != 1:
            raise ValueError(
                "reduced grid without a points-per-row list "
                f"(list octets {w}, interpretation {g['list_kind']})"
            )
        off = 5 + sum(b.width for b in _S3.plans[g["grid_template"]])
        if len(raw) < off + nj * w:
            raise ValueError("truncated points-per-row list")
        row_ni = np.array(
            [int.from_bytes(raw[off + k * w : off + (k + 1) * w], "big") for k in range(nj)],
            dtype=np.int64,
        )
        if int(row_ni.sum()) != g["npoints"] or (row_ni <= 0).any():
            raise ValueError(
                "points-per-row list disagrees with the section-3 point count"
            )
    _affine(g, 0x20 if row_ni is None else 0x00)
    n = g["dj"]
    if g["scan"] != 0x00:
        raise ValueError("Gaussian grids support north-first scanning only")
    if nj != 2 * n:
        raise ValueError(
            f"non-global Gaussian grid (nj={nj}, N={n}) not supported"
        )
    return dict(
        ni=ni, nj=nj, lat_first_udeg=g["la1"], lon_first_udeg=g["lo1"],
        dlat_udeg=0, dlon_udeg=g["di"] if row_ni is None else 0,
        gaussian_n=n, latitudes_deg=gaussian_latitudes(nj), row_ni=row_ni,
    )


def _increment(v: int) -> float:
    """Di/Dj of a projected grid, mm -> m.  Producers often leave the
    increments-given flags unset on projected grids although Di/Dj mean
    something (HRRR ships flags 0x08), so the guard is on the all-ones
    sentinel itself: 4294967.295 m would scatter cells silently."""
    if v in (0, 0xFFFFFFFF):
        raise ValueError("projected-grid Di/Dj increment missing or zero")
    return v / 1e3


def _projection(g: dict, kind: str) -> dict:
    """The projected grids' shared reading into lambert_params: a
    spherical earth, a northern single cone (the centre flag's bit 0x80
    is the south pole on the plane, 0x40 a bi-polar projection), the
    scanning mode, no grid rotation, La1/Lo1/LaD (and LoV) in degrees
    and Di/Dj in metres."""
    _grid_shape(g)
    if g["earth"] not in _EARTH_RADIUS_M:
        raise ValueError(
            f"unsupported shape of earth {g['earth']} for projected grids"
        )
    if g.get("centre", 0) & 0xC0:
        raise ValueError(
            f"unsupported Lambert projection centre flag 0x{g['centre']:02x} "
            "(southern / bi-polar cones not supported)"
        )
    _check_scan(g["scan"])
    if g.get("orientation"):
        raise ValueError(
            f"non-zero Mercator grid orientation {g['orientation']} not supported"
        )
    lp = {"kind": kind, **{k: g[k] / 1e6 for k in ("la1", "lo1", "lad", "lov") if k in g}}
    lp.update(
        dx_m=_increment(g["dx"]), dy_m=_increment(g["dy"]),
        radius_m=_EARTH_RADIUS_M[g["earth"]],
    )
    return lp


def _anchored(g: dict, lp: dict, x1, y1) -> dict:
    """The record of a projected grid: the anchor (x1, y1) and the mesh
    orientation resolved now (+i east along a row; 0x40: +j steps +y),
    the O(cells) inverse left to the first cell_lats/lons_deg access.
    No affine lat/lon axes."""
    lp.update(x1=float(x1), y1=float(y1), sj=1.0 if g["scan"] & 0x40 else -1.0)
    return dict(
        ni=g["ni"], nj=g["nj"], lat_first_udeg=g["la1"], lon_first_udeg=g["lo1"],
        dlat_udeg=0, dlon_udeg=0, lambert_params=lp,
    )


def _mercator_decode(g: dict, raw: bytes) -> dict:
    """3.10.  The Di/Dj-derived far corner must match the stated La2/Lo2
    (to µdeg corner and mm increment rounding across the mesh), or the
    record would decode with silently increment-derived geometry."""
    lp = _projection(g, "mercator")
    if not -90.0 < lp["lad"] < 90.0:
        raise ValueError("degenerate Mercator true-scale latitude")
    out = _anchored(g, lp, *mercator_forward(
        lp["la1"], lp["lo1"], lp["lad"], lp["radius_m"]
    ))
    la2, lo2 = g["la2"] / 1e6, g["lo2"] / 1e6
    la2_mesh, lo2_mesh = mercator_inverse(
        lp["x1"] + (g["ni"] - 1) * lp["dx_m"],
        lp["y1"] + lp["sj"] * (g["nj"] - 1) * lp["dy_m"],
        lp["lad"], lp["radius_m"],
    )
    dlon_wrap = abs((float(lo2_mesh) - lo2 + 180.0) % 360.0 - 180.0)
    if abs(float(la2_mesh) - la2) > 1e-3 or dlon_wrap > 1e-3:
        raise ValueError(
            "Mercator grid increments disagree with the stated far "
            f"corner: Di/Dj-derived ({float(la2_mesh):.6f}, "
            f"{float(lo2_mesh):.6f}) vs La2/Lo2 ({la2:.6f}, {lo2:.6f})"
        )
    return out


def _polar_decode(g: dict, raw: bytes) -> dict:
    lp = _projection(g, "ps")
    if lp["lad"] <= -90.0:
        raise ValueError("degenerate polar-stereographic true-scale latitude")
    return _anchored(g, lp, *polar_stereo_forward(
        lp["la1"], lp["lo1"], lp["lad"], lp["lov"], lp["radius_m"]
    ))


def _lambert_decode(g: dict, raw: bytes) -> dict:
    lp = _projection(g, "lcc")
    lp.update(latin1=g["latin1"] / 1e6, latin2=g["latin2"] / 1e6)
    return _anchored(g, lp, *lambert_forward(
        lp["la1"], lp["lo1"], lp["lad"], lp["lov"], lp["latin1"],
        lp["latin2"], lp["radius_m"],
    ))


def _spectral_grid_decode(g: dict, raw: bytes) -> dict:
    """3.50: only the triangular J = K = M truncation in type-1 mode-1
    ordering; anything else reorders or redefines the coefficient
    sequence, and guessing would synthesize a garbage field.  There is
    no grid: ni is None, nj the complex-coefficient count, the affine
    fields zero; synthesis to a Gaussian grid (spectral_synthesis) is
    an explicit step, never an implicit georef."""
    t = g["J"]
    if not g["J"] == g["K"] == g["M"] or t < 1:
        raise ValueError(
            f"only triangular spectral truncation supported "
            f"(J={g['J']}, K={g['K']}, M={g['M']})"
        )
    if g["spectral_type"] != 1 or g["spectral_mode"] != 1:
        raise ValueError(
            f"unsupported spectral representation type {g['spectral_type']} / "
            f"mode {g['spectral_mode']}"
        )
    npairs = (t + 1) * (t + 2) // 2
    if g["npoints"] != npairs:
        raise ValueError(
            f"T{t} spectrum has {npairs} complex coefficients, "
            f"section 3 declares {g['npoints']}"
        )
    return dict(
        ni=None, nj=npairs, lat_first_udeg=0, lon_first_udeg=0, dlat_udeg=0,
        dlon_udeg=0, spectral_truncation=t,
    )


class _Gdt(NamedTuple):
    """One grid definition template (see the section comment)."""

    select: tuple  # each item: the grid-family kwargs that select it
    blocks: tuple
    encode: object
    decode: object


_GDT = {
    0: _Gdt(((),), (_EARTH, _NINJ, _LATLON), _latlon_encode, _latlon_decode),
    # Rotated (COSMO/HIRLAM), stretched (the ARPEGE/ALADIN Schmidt
    # geometry) and stretched+rotated lat/lon: the 3.0 body, then the
    # rotation block, the stretching block or both, in that order.
    1: _Gdt((("rotated",),), (_EARTH, _NINJ, _LATLON, _ROTATION),
            _latlon_encode, _latlon_decode),
    2: _Gdt((("stretched",),), (_EARTH, _NINJ, _LATLON, _STRETCHING),
            _latlon_encode, _latlon_decode),
    3: _Gdt((("rotated", "stretched"),),
            (_EARTH, _NINJ, _LATLON, _ROTATION, _STRETCHING),
            _latlon_encode, _latlon_decode),
    # Mercator (tropical products).
    10: _Gdt((("mercator",),), (_EARTH, _NINJ, _ANCHOR, _MERCATOR),
             _mercator_encode, _mercator_decode),
    # North polar stereographic (sea ice, Arctic products): the Lambert
    # layout without the standard parallels.
    20: _Gdt((("polar_stereo",),), (_EARTH, _NINJ, _ANCHOR, _POLAR),
             _polar_encode, _polar_decode),
    # Lambert conformal conic (HRRR/NAM regional archives).
    30: _Gdt((("lambert",),), (_EARTH, _NINJ, _ANCHOR, _POLAR, _CONE),
             _lambert_encode, _lambert_decode),
    # Global Gaussian (ECMWF F-grids, ERA5's native geometry), regular
    # or reduced.
    40: _Gdt((("gaussian",), ("reduced_ni",)), (_EARTH, _NINJ, _LATLON, _ROWS),
             _gaussian_encode, _gaussian_decode),
    # Spherical harmonic coefficients (ERA5/IFS spectral archives),
    # paired with 5.50/5.51: no grid, no earth.
    50: _Gdt((("spectral",),), (_SPECTRAL,),
             _spectral_grid_encode, _spectral_grid_decode),
}
_GDT_BY_KEY = {frozenset(key): t for t, d in _GDT.items() for key in d.select}
_S3 = _Section(
    3,
    "grid definition",
    (
        _const(b"\x00"),  # source: a grid definition template
        _field("npoints", 4, "u", "number of data points"),
        _field("list_width", 1, "u", "optional list entry width", default=0),
        _field("list_kind", 1, "u", "optional list interpretation", default=0),
        _field("grid_template", 2, "u", "grid definition template"),
    ),
    _GDT,
    head=(_EARTH, _NINJ),  # what the landing header reads: Ni/Nj
)


# --- section 5: data representation templates ------------------------------
#
# _DRT maps each template number to the (packing, spectral form) keys
# that select it, with the parameters a key fixes; its blocks in octet
# order; and its packing, which stays code because it is an algorithm.
# ``encode(values, p)`` fills the section-5 fields into ``p`` and
# returns the emitter of section 7's bytes, so section 5 packs first and
# a bad width stops before any bit packing; ``decode(data, p)`` maps
# section 7's data back to the values, ``p`` being the walker's dict.
# Both sides add what the grid says: the spectral truncation, whether a
# bitmap applies, and the grid shape (encode) or cell count (decode).
# Every template that packs an X opens with 5.0's R/E/D/nbits head and
# decodes it through _scale, Y = (R + X·2^E)/10^D; all but 5.2/5.3
# (whose nbits is the group-reference width) go through _unscale, where
# nbits 0 is a constant field.

_SIMPLE_HEAD = (
    _field("reference_value", 4, "f32", "reference value"),
    _field("binary_scale", 2, "sm", "binary scale factor"),
    _field("decimal_scale", 2, "sm", "decimal scale factor"),
    _field("nbits", 1, "u", "nbits"),
)
_FLOAT = (_const(b"\x00"),)  # type of original field values: floating point
# Group splitting method 1 (general), missing-value management (code
# table 5.5) with its primary and secondary substitutes, then the group
# descriptors: the reference and bit count of the widths and of the
# lengths (the last group's length stands alone).
_GROUPS = (
    _const(b"\x01"),
    _field("mvm", 1, "u", "missing value management"),
    _F(None, "primary_substitute", 4, "f32", missing=True),
    _field("secondary_substitute", 4, "f32", "secondary substitute",
           missing=True),
    _field("ng", 4, "u", "number of groups"),
    _field("width_ref", 1, "u", "group width reference"),
    _field("width_bits", 1, "u", "group width bits"),
    _field("length_ref", 4, "u", "group length reference"),
    _field("length_inc", 1, "u", "group length increment"),
    _field("last_length", 4, "u", "last group length"),
    _field("length_bits", 1, "u", "group length bits"),
)
# The differencing order and the octets each extra descriptor (the
# initial values and the overall minimum) takes at the head of section 7.
_DIFFERENCING = (
    _field("order", 1, "u", "spatial differencing order"),
    _field("ww", 1, "u", "extra descriptor octets"),
)
_PRECISION = (_field("precision", 1, "u", "IEEE precision"),)
# Compression type (0 lossless, the one form decoded), then no target
# compression ratio.
_JPEG2000 = (
    _field("compression", 1, "u", "JPEG2000 compression type", default=0),
    _const(b"\xff"),
)
_AEC = (
    _field("aec_flags", 1, "u", "AEC flags"),
    _field("aec_block_size", 1, "u", "AEC block size"),
    _field("aec_rsi", 2, "u", "AEC reference sample interval"),
)
_REAL_00 = (_field("real_00", 4, "f32", "real part of the (0,0) coefficient"),)
# The Laplacian exponent P ×10^6, the JS/KS/MS sub-truncation and the
# precision of the unpacked subset (code table 5.7).
_LAPLACIAN = (
    _F("laplacian", "laplacian_e6", 4, "sm", "Laplacian scaling exponent",
       arg=(1 - (1 << 31), (1 << 31) - 1, 1e6)),
    _field("js", 2, "u", "JS"),
    _field("ks", 2, "u", "KS"),
    _field("ms", 2, "u", "MS"),
    _field("subset_precision", 1, "u", "unpacked-subset precision"),
)
_LOG = (_field("log_offset", 4, "f32", "pre-processing parameter B"),)
# The code width, MV (the highest level the field uses), MVL and the
# table's decimal scale, then the MVL scaled representative values.
_RUN_LENGTH = (
    _field("nbits", 1, "u", "nbits"),
    _field("mv", 2, "u", "MV"),
    _F("mvl", "rle_table", 2, "count", "level table size", arg="level values"),
    _field("decimal_scale", 1, "sm", "decimal scale factor"),
    _items("columns", "rle_table", "level values",
           (_F("rle_table", None, 2, "u", "level value"),)),
)


def _quantize(vals: np.ndarray, p: dict, nbits: int) -> np.ndarray:
    """Simple-packing quantization at ``nbits``: the stored R goes into
    ``p``, the increments X come back."""
    _, p["reference_value"], x = quantize_simple_packing(
        vals, p["decimal_scale"], p["binary_scale"], nbits,
        p["reference_value"], _f32_encode, _f32_encode_floor, _f32_decode,
    )
    return x


def _scale(p: dict, x: np.ndarray) -> np.ndarray:
    """Y = (R + X·2^E) / 10^D."""
    return (
        float(p["reference_value"])
        + x.astype(np.float64) * (2.0 ** p["binary_scale"])
    ) / (10.0 ** p["decimal_scale"])


def _unscale(p: dict, read) -> np.ndarray:
    """:func:`_scale` over the X ``read()`` returns.  A zero width is a
    constant field whose stream is empty: every value is R / 10^D, and
    ``read`` is never called."""
    if p["nbits"] == 0:
        return np.full(
            p["n_present"],
            float(p["reference_value"]) / (10.0 ** p["decimal_scale"]),
        )
    return _scale(p, read())


def _simple_encode(vals: np.ndarray, p: dict):
    x = _quantize(vals, p, p["nbits"])
    return lambda: _pack_bits(x, p["nbits"])


def _simple_decode(data: bytes, p: dict) -> np.ndarray:
    return _unscale(p, lambda: _unpack_bits(data, p["n_present"], p["nbits"]))


def _log_encode(vals: np.ndarray, p: dict):
    """Z = ln(Y + B) simple-packs, so every present cell needs
    Y + B > 0.  The transform uses the float32-ROUNDED B the wire
    carries — like the reference value, which quantizes against its
    f32-decoded form; a full-precision transform would leave a constant
    |B - f32(B)| bias no nbits increase could remove."""
    b = 0.0 if p["log_offset"] is None else float(np.float32(p["log_offset"]))
    if np.isnan(vals).any():
        raise ValueError(
            "NaN cells need a bitmap (log packing transforms every "
            "present cell)"
        )
    if (vals + b <= 0.0).any():
        raise ValueError(
            f"log packing needs Y + B > 0 for every present cell (B = {b})"
        )
    p["log_offset"] = b
    return _simple_encode(np.log(vals + b), p)


def _log_decode(data: bytes, p: dict) -> np.ndarray:
    return np.exp(_simple_decode(data, p)) - float(p["log_offset"])


def _aec_encode(vals: np.ndarray, p: dict):
    """The increments CCSDS-encode with the GRIB-conventional parameters
    (MSB, preprocessor on).  Quantizing at the caller's width matters:
    nbits=0 with non-constant data must stop there, or the empty-stream
    constant field would silently flatten it."""
    from .aec import FLAG_MSB, FLAG_PREPROCESS, aec_encode

    x = _quantize(vals, p, p["nbits"])
    p["aec_flags"] = FLAG_MSB | FLAG_PREPROCESS
    return lambda: b"" if p["nbits"] == 0 else aec_encode(
        x, p["nbits"], flags=p["aec_flags"],
        block_size=p["aec_block_size"], rsi=p["aec_rsi"],
    )


def _aec_decode(data: bytes, p: dict) -> np.ndarray:
    from .aec import aec_decode

    return _unscale(p, lambda: aec_decode(
        bytes(data), p["n_present"], p["nbits"], flags=p["aec_flags"],
        block_size=p["aec_block_size"], rsi=p["aec_rsi"],
    ))


def _spectral_encode(vals: np.ndarray, p: dict):
    p["real_00"] = float(vals[0])
    p["n_present"] = len(vals) - 1
    return _simple_encode(vals[1:], p)


def _spectral_decode(data: bytes, p: dict) -> np.ndarray:
    if p["n_present"] != p["cells"] - 1:
        raise ValueError(
            f"T{p['truncation']} spectrum packs {p['cells'] - 1} values, "
            f"section 5 declares {p['n_present']}"
        )
    return np.concatenate(([float(p["real_00"])], _simple_decode(data, p)))


def _spectral_complex_encode(vals: np.ndarray, p: dict):
    """The n <= TS sub-spectrum rides unpacked as IEEE-32 floats at the
    head of section 7; every other value is multiplied by the Laplacian
    weight (n(n+1))^P before simple packing — the weight flattens the
    n^-k decay of spectral amplitudes, so fixed-width increments lose
    far less precision.  The sub-spectrum holds n = 0, where the weight
    is zero."""
    ts = p["sub_truncation"]
    deg2 = _spectral_degrees(p["truncation"])
    sub = deg2 <= ts
    dn = deg2[~sub].astype(np.float64)
    rest = vals[~sub] * (dn * (dn + 1.0)) ** p["laplacian"]
    p.update(
        laplacian_e6=int(round(p["laplacian"] * 1e6)), js=ts, ks=ts, ms=ts,
        subset_precision=1, n_present=len(rest),
    )
    emit = _simple_encode(rest, p)
    return lambda: b"".join(_f32_encode(float(v)) for v in vals[sub]) + emit()


def _spectral_complex_decode(data: bytes, p: dict) -> np.ndarray:
    t, ts = p["truncation"], p["js"]
    if not p["js"] == p["ks"] == p["ms"] or ts >= t:
        raise ValueError(
            f"only triangular sub-truncation below T supported "
            f"(JS={p['js']}, KS={p['ks']}, MS={p['ms']}, T={t})"
        )
    if p["subset_precision"] != 1:
        raise ValueError(
            f"unsupported unpacked-subset precision {p['subset_precision']} "
            "(only IEEE 32-bit)"
        )
    deg2 = _spectral_degrees(t)
    sub = deg2 <= ts
    n_sub = int(sub.sum())
    if p["n_present"] != p["cells"] - n_sub:
        raise ValueError(
            f"TS={ts} sub-spectrum leaves {p['cells'] - n_sub} "
            f"packed values, section 5 declares {p['n_present']}"
        )
    if len(data) < 4 * n_sub:
        raise ValueError("truncated spectral sub-spectrum in section 7")
    out = np.empty(p["cells"])
    out[sub] = np.frombuffer(data, dtype=">f4", count=n_sub).astype(np.float64)
    rest = _unscale(
        p, lambda: _unpack_bits(data[4 * n_sub :], p["n_present"], p["nbits"])
    )
    dn = deg2[~sub].astype(np.float64)
    out[~sub] = rest * (dn * (dn + 1.0)) ** (-p["laplacian"])
    return out


def _ieee_encode(vals: np.ndarray, p: dict):
    """Values ride RAW: float32 precision loss is the caller's explicit
    choice of packing, not a silent quantization, and NaN present cells
    are as illegal as everywhere else (missing needs a bitmap)."""
    if np.isnan(vals).any():
        raise ValueError(
            "NaN cells need a bitmap (template 5.4 packs raw floats)"
        )
    data = np.ascontiguousarray(vals, dtype=f">f{4 * p['precision']}").tobytes()
    return lambda: data


def _ieee_decode(data: bytes, p: dict) -> np.ndarray:
    prec = p["precision"]
    if prec not in (1, 2):
        raise ValueError(
            f"unsupported IEEE precision {prec} "
            "(code table 5.7: 1 = binary32, 2 = binary64)"
        )
    p["nbits"] = 32 * prec
    if len(data) < 4 * prec * p["n_present"]:
        raise ValueError("truncated IEEE floating-point data section")
    return np.frombuffer(
        data, dtype=f">f{4 * prec}", count=p["n_present"]
    ).astype(np.float64)


def _raster_shape(p: dict, n: int) -> tuple:
    """g2clib's jpcpack/pngpack layout: the full grid is the image; with
    a bitmap the present values ride as one scanline."""
    if p["shape"][1] is None:
        raise ValueError(
            "raster packings need a rectangular grid; use simple/complex"
        )
    return (1, n) if p["bitmap"] else p["shape"]


def _raster_samples(what: str, samples: np.ndarray, n: int) -> np.ndarray:
    x = samples.reshape(-1)
    if len(x) != n:
        raise ValueError(f"{what} raster holds {len(x)} samples, expected {n}")
    return x


def _j2k_encode(vals: np.ndarray, p: dict):
    """One lossless raw JPEG2000 codestream (grid/jpeg2000.py).  An
    all-masked field has no raster: nbits 0 and an empty section 7, the
    constant-field convention."""
    from .jpeg2000 import j2k_encode

    shape = _raster_shape(p, len(vals))
    x = _quantize(vals, p, 64)
    need = 0 if len(vals) == 0 else max(int(x.max()).bit_length(), 1)
    if need > 29:
        raise ValueError(
            f"increment range needs {need} bits — JPEG2000 packing caps at 29"
        )
    p["nbits"] = need
    return lambda: b"" if need == 0 else j2k_encode(
        x.reshape(shape).astype(np.int64), need
    )


def _j2k_decode(data: bytes, p: dict) -> np.ndarray:
    from .jpeg2000 import j2k_decode

    if p["compression"] != 0:
        raise ValueError(
            f"lossy JPEG2000 compression type {p['compression']} not supported"
        )
    return _unscale(p, lambda: _raster_samples(
        "JPEG2000", j2k_decode(bytes(data))[0], p["n_present"]
    ))


def _png_encode(vals: np.ndarray, p: dict):
    """One PNG image (grid/png.py): grayscale 8/16-bit, RGB for 24, RGBA
    for 32, big-endian pixels — the g2clib/wgrib2 convention.  An
    all-masked field is the constant field, as on 5.40."""
    from .png import png_encode

    shape = _raster_shape(p, len(vals))
    x = _quantize(vals, p, 64)
    need = int(x.max()).bit_length() if len(x) else 1
    if need > 32:
        raise ValueError(
            f"increment range needs {need} bits — PNG packing caps at 32"
        )
    p["nbits"] = 0 if len(vals) == 0 else next(
        b for b in (8, 16, 24, 32) if b >= max(need, 1)
    )
    return lambda: b"" if p["nbits"] == 0 else png_encode(
        x.reshape(shape), p["nbits"]
    )


def _png_decode(data: bytes, p: dict) -> np.ndarray:
    from .png import png_decode

    return _unscale(p, lambda: _raster_samples(
        "PNG", png_decode(bytes(data))[0], p["n_present"]
    ))


def _rle_encode(vals: np.ndarray, p: dict):
    """No R/E/D quantization: the level table holds the MVL scaled
    representative values (2-octet unsigned, physical = value /
    10^decimal_scale), every present cell must BE a table value
    exactly, NaN is level 0, and MV is the highest level this field
    uses (the remaining code space 2^nbits − 1 − MV is the run-digit
    base)."""
    nbits, decimal_scale = p["nbits"], p["decimal_scale"]
    if p["bitmap"]:
        raise ValueError(
            "run-length packing carries missing cells as level 0 "
            "(no bitmap / missing-value management)"
        )
    if not 2 <= nbits <= 16:
        raise ValueError(
            f"run-length packing needs 2-16 bits per code, got {nbits}"
        )
    if not -126 <= decimal_scale <= 126:
        raise ValueError(
            f"decimal scale {decimal_scale} out of the one-octet "
            "signed-magnitude range"
        )
    tbl = [int(t) for t in p["rle_table"]]
    mvl = len(tbl)
    if not 1 <= mvl <= (1 << nbits) - 2:
        raise ValueError(
            f"level table size {mvl} out of range 1-{(1 << nbits) - 2} "
            f"for {nbits}-bit codes (one code is level 0, at least "
            "one must remain for run digits)"
        )
    if any(not 0 <= t <= 0xFFFF for t in tbl):
        raise ValueError("level-table entries are 2-octet unsigned")
    if len(set(tbl)) != mvl:
        raise ValueError("level-table entries must be distinct")
    lookup = {t: k + 1 for k, t in enumerate(tbl)}
    levels = np.zeros(len(vals), dtype=np.int64)
    pres_mask = ~np.isnan(vals)
    scaled = np.round(vals[pres_mask] * (10.0 ** decimal_scale))
    exact = np.abs(vals[pres_mask] * (10.0 ** decimal_scale) - scaled)
    if exact.size and float(exact.max()) > 1e-6:
        raise ValueError(
            "run-length packing is a LEVEL code: every present cell "
            "must equal a table value exactly at the declared "
            "decimal scale"
        )
    try:
        levels[pres_mask] = [lookup[int(s)] for s in scaled]
    except KeyError as exc:
        raise ValueError(
            f"cell value {int(exc.args[0])}/10^{decimal_scale} is "
            "not in the level table"
        ) from None
    p.update(mv=int(levels.max()), rle_table=tbl)
    codes = _rle_pack(levels, nbits, p["mv"])
    return lambda: _pack_bits(codes, nbits)


def _rle_decode(data: bytes, p: dict) -> np.ndarray:
    nbits, mv, cells = p["nbits"], p["mv"], p["cells"]
    if not 1 <= nbits <= 16:
        raise ValueError(f"run-length code width {nbits} out of range 1-16")
    # MV is the highest level THIS FIELD uses (codes above it are run
    # digits); the table may define more levels than the field touches,
    # so MVL >= MV is the usual shape — but a level the table can't
    # resolve is checked after the stream decodes.
    if mv > (1 << nbits) - 1:
        raise ValueError(f"MV={mv} does not fit {nbits}-bit codes")
    if p["bitmap"]:
        # outside the JMA convention, and guessing the composition
        # order would be silent corruption
        raise ValueError(
            "run-length packing (5.200) carries missing cells as "
            "level 0, not a bitmap"
        )
    # the whole stream is nbits-wide codes; trailing byte-padding forms
    # at most floor(7/nbits) phantom zero codes, which _rle_unpack
    # accepts only as padding
    codes = _unpack_bits(data, len(data) * 8 // nbits, nbits)
    levels = _rle_unpack(codes, nbits, mv, cells)
    if int(levels.max(initial=0)) > p["mvl"]:
        raise ValueError(
            f"run-length level {int(levels.max())} exceeds the "
            f"{p['mvl']}-entry table"
        )
    out = np.full(cells, np.nan)
    nz = levels > 0
    table = np.asarray(p["rle_table"], dtype=np.float64)
    out[nz] = table[levels[nz] - 1] / (10.0 ** p["decimal_scale"])
    if p["n_present"] != cells:
        raise ValueError(
            f"section 5 declares {p['n_present']} points, the "
            f"run-length grid has {cells}"
        )
    return out


class _Drt(NamedTuple):
    """One data representation template (see the section comment)."""

    select: dict  # (packing, spectral form) -> the parameters it fixes
    blocks: tuple
    encode: object
    decode: object


_DRT = {
    # Simple packing.
    0: _Drt({("simple", None): {}}, (_SIMPLE_HEAD, _FLOAT),
            _simple_encode, _simple_decode),
    # Complex packing (general group splitting in ``group_len`` runs,
    # optional missing-value management): 5.2 is 5.3 without the
    # spatial differencing, the packing GFS and most operational GRIB2
    # archives use.
    2: _Drt({("complex", None): {"order": None}},
            (_SIMPLE_HEAD, _FLOAT, _GROUPS), _complex_encode, _complex_decode),
    3: _Drt({("complex_diff", None): {}},
            (_SIMPLE_HEAD, _FLOAT, _GROUPS, _DIFFERENCING),
            _complex_encode, _complex_decode),
    # IEEE floating point: no reference value, scales or width; the
    # precision (code table 5.7: 1 = binary32, 2 = binary64) is the
    # whole template.
    4: _Drt({("ieee32", None): {"precision": 1},
             ("ieee64", None): {"precision": 2}},
            (_PRECISION,), _ieee_encode, _ieee_decode),
    # JPEG2000 and PNG: the scaled integer field as one image.
    40: _Drt({("jpeg2000", None): {}}, (_SIMPLE_HEAD, _FLOAT, _JPEG2000),
             _j2k_encode, _j2k_decode),
    41: _Drt({("png", None): {}}, (_SIMPLE_HEAD, _FLOAT),
             _png_encode, _png_decode),
    # CCSDS 121.0 / AEC (grid/aec.py), the packing post-2022 NCEP GFS
    # output ships: flags, block size, reference sample interval.
    42: _Drt({("aec", None): {}}, (_SIMPLE_HEAD, _AEC),
             _aec_encode, _aec_decode),
    # Spectral simple packing, paired with grid 3.50 only: the (0,0)
    # real part rides unpacked where 5.0 has the field-type octet.
    50: _Drt({("simple", "truncation"): {}}, (_SIMPLE_HEAD, _REAL_00),
             _spectral_encode, _spectral_decode),
    # Spectral COMPLEX packing, the form operational IFS/ERA5 spectral
    # archives use: a spectral dict with a sub_truncation selects it.
    51: _Drt({("simple", "sub_truncation"): {}}, (_SIMPLE_HEAD, _LAPLACIAN),
             _spectral_complex_encode, _spectral_complex_decode),
    # Simple packing with logarithm pre-processing, the ECMWF
    # precipitation form: B replaces the field-type octet.
    61: _Drt({("log", None): {}}, (_SIMPLE_HEAD, _LOG),
             _log_encode, _log_decode),
    # Run length with level values, the JMA radar-composite packing
    # (JMA Technical Information No. 215): no R/E/D head at all.
    200: _Drt({("runlength", None): {}}, (_RUN_LENGTH,),
              _rle_encode, _rle_decode),
}
_DRT_BY_KEY = {
    key: (t, fixed) for t, d in _DRT.items() for key, fixed in d.select.items()
}
# The templates a spectral dict selects pair with grid 3.50 and nothing
# else: their value sequence only means anything against its ordering.
_SPECTRAL_DRT = frozenset(
    t for t, d in _DRT.items() if any(form for _, form in d.select)
)
_S5 = _Section(5, "data representation", (
    _field("n_present", 4, "u", "number of packed values"),
    _field("packing_template", 2, "u", "data representation template"),
), _DRT)


def encode_grib2_message(
    values: np.ndarray,
    *,
    discipline: int = 0,  # meteorological
    category: int = 0,  # temperature
    number: int = 0,  # TMP
    reftime: tuple[int, int, int, int, int] = (2020, 1, 1, 0, 0),
    lat_first_udeg: int = 90_000_000,
    lon_first_udeg: int = 0,
    dlat_udeg: int = 1_000_000,
    dlon_udeg: int = 1_000_000,
    decimal_scale: int = 0,
    binary_scale: int = 0,
    nbits: int = 16,
    bitmap: np.ndarray | None = None,
    reference_value: float | None = None,
    scanning_mode: int = 0x00,
    level_type: int = 1,  # ground surface
    level_scale: int = 0,
    level_value: int = 0,
    level2: dict | None = None,
    packing: str = "simple",
    group_len: int = 20,
    spatial_diff_order: int = 2,
    missing_mask: np.ndarray | None = None,
    secondary_mask: np.ndarray | None = None,
    secondary_substitute: float | None = None,
    log_offset: float | None = None,
    aec_block_size: int = 32,
    aec_rsi: int = 128,
    rle_table=None,
    gaussian: bool = False,
    reduced_ni=None,
    lambert: dict | None = None,
    polar_stereo: dict | None = None,
    mercator: dict | None = None,
    rotated: dict | None = None,
    stretched: dict | None = None,
    spectral: dict | None = None,
    statistical: dict | None = None,
    ensemble: dict | None = None,
    derived: dict | None = None,
    probability: dict | None = None,
    percentile: int | None = None,
    spatial: dict | None = None,
    cluster: dict | None = None,
    error: bool = False,
    forecast: dict | None = None,
    satellite: dict | None = None,
    radar: dict | None = None,
    chemistry: int | None = None,
    aerosol: dict | None = None,
    model_version: tuple | None = None,
) -> bytes:
    """Encode a (nj, ni) grid as one GRIB2 message.

    ``values`` row 0 is ALWAYS the northernmost row regardless of
    ``scanning_mode`` (0x40 stores rows south-first — see grib1).
    ``level_type``/``level_scale``/``level_value`` populate template
    4.0's first fixed surface (type, scale factor, scaled value);
    ``level2`` (keys ``type``, ``value``, optional ``scale``) populates
    the SECOND fixed surface (octets 29-34) making the field a LAYER
    product — omitted, the second surface is coded missing (a point
    level).

    ``packing`` selects the data-representation template: ``"simple"``
    (5.0), ``"complex"`` (5.2, general group splitting in fixed
    ``group_len`` runs), ``"complex_diff"`` (5.3 with
    ``spatial_diff_order`` 1 or 2), ``"png"`` (5.41: the scaled
    integer field as one PNG image — grayscale 8/16-bit, RGB for 24,
    RGBA for 32, big-endian pixels, the g2clib/wgrib2 convention), or
    ``"jpeg2000"`` (5.40: the scaled integer field as one lossless raw
    JPEG2000 codestream, grid/jpeg2000.py — the packing most NCEP
    GRIB2 products, e.g. GFS, actually ship), ``"ieee32"``/``"ieee64"``
    (5.4), ``"aec"`` (5.42, with ``aec_block_size``/``aec_rsi``),
    ``"log"`` (5.61, with ``log_offset`` as B) or ``"runlength"``
    (5.200, with ``rle_table``); ``_DRT`` lists what selects each.
    ``missing_mask`` (bool, True = missing; complex only) encodes
    missing points via missing-value management 1 — in-data
    substitution instead of a section-6 bitmap.  ``secondary_mask``
    raises it to management 2 (code table 5.5 — NEXRAD-style products
    distinguishing "missing" from e.g. "below detection threshold"):
    secondary points code as the second-from-top marker at each group
    width, and ``secondary_substitute`` rides in section 5 octets
    28-31 as the value the consumer lands at those points (omitted →
    coded missing → the decoder falls back to NaN).  The two masks
    must not overlap.

    ``reduced_ni`` encodes a REDUCED Gaussian grid (ERA5's native
    layout): pass the points-per-parallel list (north -> south, even
    count = 2N) and ``values`` as the flat ragged concatenation of
    rows; Ni/Di are coded missing and the list rides in section 3's
    optional-numbers block.

    ``spectral`` (key ``truncation``) encodes SPHERICAL-HARMONIC
    coefficients instead of gridpoints — grid definition template 3.50
    (triangular truncation J = K = M = T, associated Legendre type 1,
    complex-packing mode 1) with data representation template 5.50
    (spectral data simple packing: the real part of the (0,0)
    coefficient rides UNPACKED as an IEEE-32 float in the template,
    every other value simple-packed in section 7).  ``values`` is the
    1-D COMPLEX array C_n^m for m = 0..T, n = m..T in that order
    ((T+1)(T+2)/2 coefficients); the field is real, so every m = 0
    coefficient must have zero imaginary part (validated — a synthesis
    would silently drop it).  Spectral data has no grid, bitmap or
    raster packing: only ``packing="simple"`` composes."""
    # The data representation template: the packing and, for spectral
    # data, the spectral key that names the form (_DRT's selectors).
    form = None if spectral is None else (
        "sub_truncation" if "sub_truncation" in spectral else "truncation"
    )
    if (packing, form) not in _DRT_BY_KEY:
        raise ValueError(
            f"unknown packing {packing!r}" if form is None
            else "spectral data packs with template 5.50/5.51 (simple) only"
        )
    tmpl5, fixed = _DRT_BY_KEY[packing, form]
    # A template-only kwarg (the masks, B, the level table) is refused
    # unless the selected template has a field that carries it.
    reads = {f.key for block in _DRT[tmpl5].blocks for f in block}
    # The grid definition template: the grid-family kwargs given (_GDT's
    # selectors); its geometry checks them and fills section 3's fields.
    family = dict(
        gaussian=gaussian or None, reduced_ni=reduced_ni, lambert=lambert,
        polar_stereo=polar_stereo, mercator=mercator, rotated=rotated,
        stretched=stretched, spectral=spectral,
    )
    tmpl3 = _GDT_BY_KEY.get(frozenset(k for k, v in family.items() if v is not None))
    if tmpl3 is None:
        raise ValueError("choose exactly one grid family")
    g3 = dict(
        family, grid_template=tmpl3, scan=scanning_mode, la1=lat_first_udeg,
        lo1=lon_first_udeg, di=dlon_udeg, dj=dlat_udeg, bitmap=bitmap,
        missing_mask=missing_mask,
    )
    vals = _GDT[tmpl3].encode(values, g3)
    spec_sub: int | None = None
    spec_p = 0.0
    if form == "sub_truncation":
        # Template 5.51: the sub-spectrum must contain n = 0, which
        # 0 <= TS < T guarantees.
        spec_sub = int(spectral["sub_truncation"])
        spec_p = float(spectral.get("laplacian", 1.0))
        if not 0 <= spec_sub < g3["truncation"]:
            raise ValueError(
                f"sub-truncation {spec_sub} must satisfy "
                f"0 <= TS < T={g3['truncation']}"
            )
        if not -128.0 <= spec_p <= 128.0:
            raise ValueError(
                f"Laplacian scaling exponent {spec_p} out of range"
            )
    if (rle_table is not None) != ("rle_table" in reads):
        raise ValueError(
            "packing='runlength' and rle_table go together (the level "
            "table IS the quantization)"
        )
    nj, ni = g3["nj"], g3["ni"]
    bm = None if bitmap is None else np.asarray(bitmap, dtype=bool)
    if bm is not None and bm.shape != vals.shape:
        raise ValueError("bitmap shape must match values")
    mm = None if missing_mask is None else np.asarray(missing_mask, dtype=bool)
    sm = (
        None if secondary_mask is None
        else np.asarray(secondary_mask, dtype=bool)
    )
    if mm is not None or sm is not None:
        if "mvm" not in reads:
            raise ValueError(
                "missing_mask/secondary_mask (missing-value management) "
                "requires packing='complex' or 'complex_diff'"
            )
        if bm is not None:
            raise ValueError(
                "missing/secondary masks and bitmap are mutually exclusive"
            )
        for m, what in ((mm, "missing_mask"), (sm, "secondary_mask")):
            if m is not None and m.shape != vals.shape:
                raise ValueError(f"{what} shape must match values")
        if mm is not None and sm is not None and (mm & sm).any():
            raise ValueError(
                "a point cannot be both primary- and secondary-missing"
            )
    if sm is None and secondary_substitute is not None:
        raise ValueError("secondary_substitute requires secondary_mask")
    if log_offset is not None and "log_offset" not in reads:
        raise ValueError("log_offset requires packing='log'")
    if _south_first(tmpl3, scanning_mode):
        # caller row 0 is ALWAYS northernmost
        vals = vals[::-1]
        bm = None if bm is None else bm[::-1]
        mm = None if mm is None else mm[::-1]
        sm = None if sm is None else sm[::-1]
    present = vals.reshape(-1)
    if bm is not None:
        present = present[bm.reshape(-1)]
    p = {
        "packing_template": tmpl5, "n_present": len(present),
        "reference_value": reference_value, "binary_scale": binary_scale,
        "decimal_scale": decimal_scale, "nbits": nbits,
        "group_len": group_len, "order": spatial_diff_order,
        "missing": None if mm is None else mm.reshape(-1),
        "secondary": None if sm is None else sm.reshape(-1),
        "secondary_substitute": secondary_substitute,
        "log_offset": log_offset, "aec_block_size": aec_block_size,
        "aec_rsi": aec_rsi, "rle_table": rle_table,
        "truncation": g3.get("truncation"),
        "sub_truncation": spec_sub, "laplacian": spec_p,
        "shape": (nj, ni), "bitmap": bm is not None, **fixed,
    }
    emit = _DRT[tmpl5].encode(present, p)
    s5 = _pack_section(_S5, p)
    s7 = _frame(7, emit())
    s1 = _pack_section(_S1, {"reftime": reftime})
    s3 = _pack_section(_S3, g3)
    # The product kwargs pick the section-4 template (_PDT lists the
    # kwargs each one needs) and fill its fields (the dotted keys in its
    # blocks): ``statistical`` {process, interval_end, range_hours,
    # optional inner_specs of {process, range_hours} for a compound
    # statistic}, ``ensemble`` {type, member, size}, ``derived`` {type,
    # size}, ``probability`` {number, total, type, optional lower/upper
    # (scale, value) thresholds}, ``percentile`` (0-100), ``spatial``
    # {stat, type, points}, ``cluster`` {type, size, identifier, total,
    # method, members, bounds OR center, optional stddev/distance},
    # ``satellite`` {bands of {series, number, instrument, scale,
    # value}, optional simulated/deprecated/process}, ``radar`` (site
    # block), ``chemistry`` (constituent type), ``aerosol`` {type,
    # optional size/wavelength intervals}, ``model_version`` (y, m, d,
    # h, mi, s).  ``forecast`` {unit (code table 4.4), value} defaults
    # to an analysis.
    n_products = sum(
        x is not None
        for x in (
            ensemble, derived, probability, percentile, spatial, cluster,
            satellite, radar,
        )
    ) + (1 if error else 0)
    if n_products > 1 and not (
        n_products == 2 and ensemble is not None and satellite is not None
    ):
        # the ONE legal pairing is ensemble + satellite — the
        # ensemble-simulated-satellite templates 4.33/4.34
        raise ValueError(
            "choose at most one of ensemble / derived / probability / "
            "percentile / spatial / cluster / error / satellite / "
            "radar (except ensemble + satellite = templates 4.33/4.34)"
        )
    if satellite is not None and ensemble is not None and not satellite.get(
        "simulated"
    ):
        # 4.33/4.34 are defined for SIMULATED (synthetic) satellite
        # data only — there is no observational-ensemble template
        raise ValueError(
            "ensemble satellite products are the SIMULATED templates "
            "4.33/4.34 — pass simulated=True"
        )
    if satellite is not None and statistical is not None and ensemble is None:
        # 4.31/4.32 have no statistical siblings in the supported set —
        # the band list occupies the octets a 4.8 block would start at
        # (the ensemble form 4.34 is the only statistical satellite)
        raise ValueError(
            "satellite (templates 4.31/4.32) does not combine with "
            "statistical without ensemble (template 4.34)"
        )
    if radar is not None and (
        statistical is not None or forecast is not None
    ):
        # 4.20 is an observation at the reference time: no lead
        # octets, no statistical block
        raise ValueError(
            "radar (template 4.20) does not combine with forecast or "
            "statistical"
        )
    if radar is not None and (
        level2 is not None
        or (level_type, level_scale, level_value) != (1, 0, 0)
    ):
        raise ValueError(
            "radar template 4.20 carries no fixed surfaces — level "
            "kwargs do not apply"
        )
    if satellite is not None and level2 is not None:
        raise ValueError(
            "satellite templates carry no fixed surfaces — level2 "
            "does not apply"
        )
    if satellite is not None and (
        (level_type, level_scale, level_value) != (1, 0, 0)
    ):
        # same loudness as the level2 check: 4.31/4.32 have no level
        # octets, so an explicitly-passed first surface would be
        # silently discarded — a caller porting a 4.0 encode must hear
        # about it, not ship a structurally valid message with the
        # level gone
        raise ValueError(
            "satellite templates carry no fixed surfaces — "
            "level_type/level_scale/level_value do not apply"
        )
    if (
        satellite is not None
        and not satellite.get("simulated")
        and forecast is not None
    ):
        raise ValueError(
            "template 4.31 is an observation at the reference time — "
            "it has no forecast-time octets (use simulated=True for "
            "the 4.32 forecast form)"
        )
    if error and statistical is not None:
        # 4.7 has no statistical sibling in the 4.x numbering — the
        # combination would have to masquerade as 4.8, silently
        # dropping the error marking
        raise ValueError(
            "error (template 4.7) does not combine with statistical"
        )
    if spatial is not None and statistical is not None:
        # 4.15 has no statistical-interval sibling in the supported set
        # — the spatial statistic IS the processing, over area not time
        raise ValueError(
            "spatial (template 4.15) does not combine with statistical"
        )
    if chemistry is not None and aerosol is not None:
        # one inserted block per template — the 4.x numbering has no
        # combined chemistry+aerosol form
        raise ValueError("chemistry and aerosol are mutually exclusive")
    if chemistry is not None or aerosol is not None:
        for bad, what in (
            (derived, "derived"), (probability, "probability"),
            (percentile, "percentile"), (cluster, "cluster"),
            (spatial, "spatial"), (satellite, "satellite"),
            (radar, "radar"),
        ):
            if bad is not None:
                raise ValueError(
                    f"chemistry/aerosol does not combine with {what} "
                    "(the 4.40-4.48 family has only plain / ensemble / "
                    "statistical forms)"
                )
        if error:
            raise ValueError(
                "chemistry/aerosol does not combine with error"
            )
    if aerosol is not None and statistical is not None and (
        "first_wavelength" in aerosol or "second_wavelength" in aerosol
    ):
        # 4.48/4.49 (aerosol + optical wavelength interval, plain /
        # ensemble) have no statistical sibling in the 4.x numbering
        raise ValueError(
            "aerosol wavelength interval (templates 4.48/4.49) does "
            "not combine with statistical"
        )
    if model_version is not None:
        # 4.60/4.61 (individual ensemble REFORECAST — the GEFS v12
        # reforecast archive form): 4.1/4.11 plus the model-version
        # date appended after the ensemble octets.
        if ensemble is None:
            raise ValueError(
                "model_version (reforecast templates 4.60/4.61) "
                "requires ensemble"
            )
        if chemistry is not None or aerosol is not None:
            raise ValueError(
                "model_version does not combine with chemistry/aerosol"
            )
    if cluster is not None:
        if ("bounds" in cluster) == ("center" in cluster):
            raise ValueError(
                "cluster needs exactly one of bounds=(n, s, e, w) "
                "(template 4.3) or center=(lat, lon, radius) "
                "(template 4.4)"
            )
        domain, n = ("bounds", 4) if "bounds" in cluster else ("center", 3)
        if len(cluster[domain]) != n:
            raise ValueError(
                f"cluster {domain} {tuple(cluster[domain])} needs {n} values"
            )
    if satellite is not None and satellite.get("deprecated") and (
        satellite.get("simulated") or ensemble is not None
    ):
        # 4.30 is the deprecated OBSERVATIONAL form only — the
        # simulated/ensemble combinations postdate its retirement
        raise ValueError(
            "template 4.30 (deprecated satellite) is observational "
            "only — it has no simulated or ensemble forms"
        )
    products = dict(
        ensemble=ensemble, derived=derived, probability=probability,
        percentile=percentile, spatial=spatial, cluster=cluster,
        error=error or None, satellite=satellite, radar=radar,
        chemistry=chemistry, aerosol=aerosol, model_version=model_version,
        statistical=statistical,
    )
    key = {k for k, v in products.items() if v is not None}
    if cluster is not None:
        key.add(domain)
    if satellite is not None:
        key |= {k for k in ("simulated", "deprecated") if satellite.get(k)}
        products["satellite"] = dict(satellite, bands=[
            dict(b, wave=(b.get("scale", 0), b["value"]))
            for b in satellite["bands"]
        ])
    if aerosol is not None and (
        "first_wavelength" in aerosol or "second_wavelength" in aerosol
    ):
        key.add("wavelength")
    if statistical is not None:
        products["statistical"] = dict(statistical, specs=[
            statistical, *(statistical.get("inner_specs") or ())
        ])
    tmpl4 = _PDT_BY_KEY.get(frozenset(key))
    if tmpl4 is None:
        raise ValueError(
            f"no product definition template combines {' + '.join(sorted(key))}"
        )
    s4 = _pack_section(_S4, dict(
        products, category=category, number=number, forecast=forecast,
        level=dict(type=level_type, scale=level_scale, value=level_value),
        level2=level2, product_template=tmpl4,
    ))
    if bm is not None:
        bm_bits = np.packbits(bm.reshape(-1).astype(np.uint8)).tobytes()
        s6 = _frame(6, bytes([0]) + bm_bits)
    else:
        s6 = _frame(6, bytes([255]))
    body = s1 + s3 + s4 + s5 + s6 + s7
    total = 16 + len(body) + 4
    s0 = (
        MAGIC + bytes([0, 0]) + _pack_u(_DISCIPLINE, discipline)
        + bytes([EDITION]) + struct.pack(">Q", total)
    )
    return s0 + body + TERMINATOR


def merge_grib2_fields(msgs: "list[bytes]") -> bytes:
    """Merge single-field GRIB2 messages into ONE multi-field message
    (``0 1 (3 (4 5 6 7))+ 8``) — the submessage layout NDFD-style
    archives ship.  All inputs must share discipline and an identical
    section 1 (one reference time per message is the format's rule); a
    field whose section 3 is byte-identical to the previous field's
    INHERITS it (the grid is not re-emitted), exercising the
    persisting-context form of the spec."""
    if not msgs:
        raise ValueError("merge_grib2_fields needs at least one message")
    parts: list[bytes] = []
    discipline = s1 = prev_s3 = None
    for m in msgs:
        m = bytes(m)
        if m[:4] != MAGIC or m[7] != EDITION:
            raise ValueError("not a GRIB edition-2 message")
        s = _sections(m)
        if 2 in s:
            # silently dropping an input's local-use section would be a
            # lossy merge; the engine never emits one, so stop loudly
            raise ValueError(
                "merge_grib2_fields does not carry section 2 (local use)"
            )
        missing = {1, 3, 4, 5, 6, 7} - set(s)
        if missing:
            # a foreign/truncated input without section 1 or a full 3-7
            # run would otherwise surface as an opaque KeyError
            raise ValueError(
                "merge_grib2_fields input missing section(s) "
                f"{sorted(missing)}"
            )
        if discipline is None:
            discipline, s1 = m[6], s[1]
            parts.append(s1)
        elif m[6] != discipline or s[1] != s1:
            raise ValueError(
                "multi-field messages share one discipline and section 1"
            )
        if s[3] != prev_s3:
            parts.append(s[3])
            prev_s3 = s[3]
        parts.extend(s[k] for k in (4, 5, 6, 7))
    body = b"".join(parts)
    total = 16 + len(body) + 4
    s0 = MAGIC + bytes([0, 0, discipline, EDITION]) + struct.pack(">Q", total)
    return s0 + body + TERMINATOR


def iter_messages2(buf: bytes):
    """Scan a multi-record GRIB2 file: yield each message's exact bytes."""
    for _, msg in iter_grib_messages(buf, EDITION):
        yield msg


def _sections(msg: bytes) -> dict[int, bytes]:
    """Split one message into its numbered sections (body bytes include
    the 5-byte section header for offset-stable indexing).

    Repeated sections — GRIB2 legally repeats 4-7 for multi-field
    messages — are REJECTED loudly here: collapsing them to the last
    occurrence would silently decode (and inventory) only the final
    field.  Multi-field messages go through ``_iter_field_sections`` /
    :func:`decode_grib2_fields` instead.  Zero/short section lengths
    are rejected rather than spun on."""
    _check_grib2_envelope(msg)
    out = {0: msg[:16]}
    pos, end = 16, len(msg) - 4
    while pos < end:
        if pos + 5 > end:
            raise ValueError("truncated section header")
        length, number = struct.unpack_from(">IB", msg, pos)
        if length < 5 or pos + length > end:
            raise ValueError(f"malformed section header (length {length})")
        if number in out:
            raise ValueError(
                f"repeated section {number}: this is a multi-field GRIB2 "
                "message — decode it with decode_grib2_fields"
            )
        out[number] = msg[pos : pos + length]
        pos += length
    missing = {1, 3, 4, 5, 6, 7} - set(out)
    if missing:
        raise ValueError(
            f"GRIB2 message missing section(s) {sorted(missing)}"
        )
    return out


def _check_grib2_envelope(msg: bytes) -> None:
    """Indicator + terminator validation shared by every section walk:
    the 64-bit total length must equal the buffer handed in and the
    7777 terminator must close it — without this, a message whose tail
    was torn off (partial download, truncated object) "decodes" from
    whatever bytes remain, and interior truncations surface as raw
    IndexError/struct.error instead of the file defect they are."""
    if len(msg) < 21 or msg[:4] != MAGIC or msg[7] != EDITION:
        raise ValueError("not a GRIB edition-2 message")
    (total,) = struct.unpack_from(">Q", msg, 8)
    if total != len(msg):
        raise ValueError(
            f"GRIB2 message length mismatch (indicator says {total}, "
            f"have {len(msg)} bytes)"
        )
    if msg[-4:] != TERMINATOR:
        raise ValueError("missing 7777 terminator")


def surface_level(value: int | None, scale: int | None) -> int | None:
    """Fixed surface (scaled value, scale factor) → integer level:
    level = value / 10^scale. NULL propagates; a non-integral level
    raises loudly rather than rounding.  ONE helper shared by the
    landing DECODE and (through the lenient wrappers below) every
    inventory surface, so the surfaces can never disagree on the same
    record's level.  The loud stop belongs to the decode path only —
    there a rounded level mis-labels landed values; the inventory
    paths LIST fractional-level records (sigma 0.995, a 0.1 m soil
    depth) like wgrib2 lists every record of a mixed archive."""
    if value is None:
        return None
    if not scale:  # None or 0
        return int(value)
    if scale > 0:
        q, rem = divmod(int(value), 10 ** scale)
        if rem:
            raise ValueError(
                f"fixed-surface value {value}·10^-{scale} is not a whole level"
            )
        return q
    return int(value) * 10 ** (-scale)


def surface_level_lenient(value: int | None, scale: int | None) -> int | None:
    """Inventory-side level for the integer schema column: the whole
    level when it is one, NULL when the surface is fractional (the
    same lenient-NULL convention as non-hour-convertible leads) —
    a one-record sigma level must not abort a whole archive's scan."""
    try:
        return surface_level(value, scale)
    except ValueError:
        return None


def surface_level_text(value: int | None, scale: int | None) -> str:
    """Inventory-LINE rendering of a fixed surface: ``-`` when coded
    missing, the bare integer when whole (so integral archives render
    byte-identically to before), otherwise the EXACT decimal
    (995·10⁻³ → ``0.995``, trailing zeros trimmed) — listed AND
    regex-selectable, the way wgrib2 prints "0.995 sigma level"."""
    if value is None:
        return "-"
    if not scale:  # None or 0
        return str(int(value))
    if scale < 0:
        return str(int(value) * 10 ** (-scale))
    # Scaled values are signed (octet 11's sign bit): format the
    # magnitude, then re-prepend the sign — zero-padding a "-5" would
    # otherwise mangle to "-.5" / "0.-5".
    sign = "-" if int(value) < 0 else ""
    digits = str(abs(int(value))).rjust(scale + 1, "0")
    text = f"{digits[:-scale]}.{digits[-scale:]}".rstrip("0").rstrip(".")
    return sign + text


# Code table 4.4 fixed-duration time units → hours.  Calendar units
# (month/year/decade/normal/century) have no fixed hour length and
# reject loudly; minutes/seconds convert when whole-hour-divisible.
_FORECAST_UNIT_HOURS = {1: 1, 2: 24, 10: 3, 11: 6, 12: 12}


def _forecast_hours(unit: int, value: int) -> int:
    """Code-table-4.4 (unit, value) lead time → WHOLE hours.  GFS-style
    archives use hours (f000-f384) and the 3/6/12-hour units; a
    sub-hour or calendar-unit lead can't be represented in the integer
    ``forecast_hours`` column, so it stops loudly instead of rounding
    — a silently floored lead would mis-stamp every valid time
    downstream."""
    if unit in _FORECAST_UNIT_HOURS:
        return value * _FORECAST_UNIT_HOURS[unit]
    if unit in (0, 13):  # minutes / seconds
        q, rem = divmod(value, 60 if unit == 0 else 3600)
        if rem:
            raise ValueError(
                f"sub-hour forecast lead ({value} in unit {unit}) is not "
                "a whole number of hours"
            )
        return q
    raise ValueError(
        f"unsupported forecast time unit {unit} (calendar-dependent "
        "or reserved)"
    )


def _scaled_limit(s4: bytes, off: int) -> float | None:
    """Template 4.5 threshold pair at ``off``: 1-octet scale factor +
    4-octet scaled value, BOTH signed-magnitude (two's complement would
    decode a negative threshold as a huge magnitude).  Either side
    coded missing (0xFF / all-ones) → None — a probability type that
    doesn't bound that side has NO limit there, not limit 0.  The real
    limit is value / 10^scale."""
    sf = s4[off]
    (raw,) = struct.unpack_from(">I", s4, off + 1)
    if sf == 0xFF or raw == 0xFFFFFFFF:
        return None
    scale = -(sf & 0x7F) if sf & 0x80 else sf
    value = -(raw & 0x7FFFFFFF) if raw & 0x80000000 else raw
    return float(value) / (10.0 ** scale)


def _iter_field_sections(msg: bytes):
    """Walk one GRIB2 message and yield one section dict per FIELD.

    A GRIB2 message legally carries several fields (submessages):
    ``0 1 [2] (3 (4 5 6 7)+)+ 8`` — sections 1-3 persist across the
    fields that follow them (NDFD-style archives inherit one grid for
    every field; ensemble archives repeat section 4-7 runs).  Each
    yielded dict holds sections {0, 1, 3, 4, 5, 6, 7} (+2 when
    present) with the persisting context resolved, so the per-field
    decoder never sees the repetition.  Ordering is enforced: 4→5→6→7
    within a field, no context section inside a field run, no
    truncated trailing field — silent tolerance of a malformed layout
    would mis-attribute payloads to the wrong metadata."""
    msg = bytes(msg)
    _check_grib2_envelope(msg)
    ctx: dict[int, bytes] = {0: msg[:16]}
    pending: dict[int, bytes] = {}
    prev_s6: bytes | None = None
    yielded = False
    pos, n = 16, len(msg)
    while pos < n - 4:
        if pos + 5 > n - 4:
            raise ValueError("truncated section header")
        length, number = struct.unpack_from(">IB", msg, pos)
        if length < 5 or pos + length > n - 4:
            raise ValueError(f"malformed section header (length {length})")
        body = msg[pos : pos + length]
        if number in (1, 2, 3):
            if pending:
                raise ValueError(
                    f"section {number} inside a field's section 4-7 run"
                )
            if number == 1 and 1 in ctx:
                # one reference time per message is the format's rule;
                # fields silently landing under different reftimes would
                # be metadata corruption
                raise ValueError("repeated section 1 (one per message)")
            if number == 3 and body != ctx.get(3):
                # a new grid invalidates any previously defined bitmap —
                # a 254 reuse across grids would mask the wrong cells
                prev_s6 = None
            ctx[number] = body
        elif number in (4, 5, 6, 7):
            if set(pending) != set(range(4, number)):
                raise ValueError(
                    f"section {number} out of order within a field"
                )
            if number == 6:
                # Bitmap indicator 254: the previously DEFINED bitmap
                # (indicator 0) applies to this field — resolved here by
                # substituting that section, the same persisting-context
                # treatment sections 1-3 get, so the per-field decoder
                # never sees the indirection.  (Downstream total_bytes
                # accounting counts the RESOLVED section, consistent
                # with inherited-context counting.)
                if length < 6:
                    raise ValueError(
                        "malformed section 6 (no bitmap indicator octet)"
                    )
                if body[5] == 254:
                    if prev_s6 is None:
                        raise ValueError(
                            "bitmap indicator 254 (reuse) without a "
                            "previously defined bitmap in this message"
                        )
                    body = prev_s6
                elif body[5] == 0:
                    prev_s6 = body
            pending[number] = body
            if number == 7:
                if 1 not in ctx or 3 not in ctx:
                    raise ValueError("field data before sections 1/3")
                yield {**ctx, **pending}
                pending = {}
        else:
            raise ValueError(f"unexpected section number {number}")
        pos += length
        yielded = yielded or number == 7
    if pending:
        raise ValueError("truncated field (message ends before section 7)")
    if not yielded:
        # a message with sections but no 4-7 run is spec-invalid;
        # yielding nothing would drop it from the landing scan silently
        raise ValueError("GRIB2 message contains no fields")


@loud_truncation
def decode_grib2_fields(msg: bytes) -> "list[Grib2Record]":
    """Decode EVERY field of a (possibly multi-field) GRIB2 message, in
    order.  The landing source scans through this, so submessage
    archives land one row per field; :func:`decode_grib2` keeps the
    strict single-field contract."""
    return [_decode_field(s) for s in _iter_field_sections(msg)]


@loud_truncation
def decode_grib2(msg: bytes) -> Grib2Record:
    """Decode one SINGLE-FIELD GRIB2 message.

    Every grid definition template of the ``_GDT`` table (the record's
    ``grid_template``), every product template of the ``_PDT`` table
    (its ``product_template``) and every data representation template
    of the ``_DRT`` table (its ``packing_template``; 5.50/5.51 must pair
    with the spectral grid 3.50).  Everything
    else raises — including multi-field messages, which this strict
    single-record API rejects via ``_sections``; use
    :func:`decode_grib2_fields` for those."""
    msg = bytes(msg)
    if msg[:4] != MAGIC or msg[7] != EDITION:
        raise ValueError("not a GRIB edition-2 message")
    return _decode_field(_sections(msg))


def _decode_field(s: dict[int, bytes]) -> Grib2Record:
    """Decode one field from its resolved section dict (the shared body
    of :func:`decode_grib2` and :func:`decode_grib2_fields`)."""
    discipline = s[0][6]
    reftime = _parse_section(_S1, s[1])["reftime"]

    g = _parse_section(_S3, s[3])
    tmpl3 = g["grid_template"]
    grid = _GDT[tmpl3].decode(g, s[3])
    nj, ni, row_ni = grid["nj"], grid["ni"], grid.get("row_ni")
    spectral_truncation = grid.get("spectral_truncation")

    pdt = _parse_section(_S4, s[4])

    # Spectral grid <-> spectral packing must pair: a gridded raster
    # packed "as spectral" (or vice versa) would decode a garbage field
    # with plausible statistics.
    tmpl5 = _template_number(_S5, s[5])
    if (tmpl5 in _SPECTRAL_DRT) != (spectral_truncation is not None):
        raise ValueError(
            f"grid definition template {tmpl3} cannot pair with data "
            f"representation template {tmpl5}"
        )
    p = _parse_section(_S5, s[5], t=tmpl5)

    s6 = s[6]
    if len(s6) < 6:
        # _sections only requires length >= 5; a 5-byte section 6 has no
        # bitmap-indicator octet — the same guard _iter_field_sections
        # applies, so both decode paths fail uniformly and loudly
        raise ValueError("malformed section 6 (no bitmap indicator octet)")
    if spectral_truncation is not None:
        # 2·pairs REAL values (re/im interleaved); spectral data has no
        # cells for a bitmap to mask
        total_cells = 2 * nj
        if s6[5] != 255:
            raise ValueError(
                f"spectral data carries no bitmap (indicator {s6[5]})"
            )
    else:
        total_cells = int(row_ni.sum()) if row_ni is not None else ni * nj
    bitmap = None
    if s6[5] == 0:
        bits = np.unpackbits(np.frombuffer(s6[6:], dtype=np.uint8))[:total_cells]
        if bits.size < total_cells:
            # a too-short bitmap (e.g. indicator-254 reuse across fields
            # on different grids) must stop, not silently mask a prefix
            raise ValueError(
                f"bitmap holds {bits.size} bits, grid has {total_cells} cells"
            )
        bitmap = bits.astype(bool)
    elif s6[5] != 255:
        raise ValueError(f"unsupported bitmap indicator {s6[5]}")
    p.update(
        cells=total_cells, truncation=spectral_truncation,
        bitmap=bitmap is not None,
    )
    present_vals = _DRT[tmpl5].decode(s[7][5:], p)

    if bitmap is not None:
        values = np.full(total_cells, np.nan)
        values[bitmap] = present_vals
    else:
        values = present_vals
    if row_ni is None and spectral_truncation is None:
        values = values.reshape(nj, ni)
    elif len(values) != total_cells:
        raise ValueError(
            f"{'spectrum' if spectral_truncation is not None else 'reduced grid'}"
            f" holds {len(values)} values, expected {total_cells}"
        )
    if _south_first(tmpl3, g.get("scan")):
        values = values[::-1]  # south-first storage -> north-first
    return Grib2Record(
        discipline=discipline,
        reftime=reftime,
        decimal_scale=p.get("decimal_scale", 0),
        binary_scale=p.get("binary_scale", 0),
        reference_value=float(p.get("reference_value", 0.0)),
        nbits=p["nbits"],
        values=values,
        packing_template=tmpl5,
        grid_template=tmpl3,
        spectral_sub_truncation=p.get("js"),
        **grid,
        **pdt,
    )


def _field_inventory(s: dict[int, bytes]) -> str:
    """wgrib2-style inventory rendering of one FIELD's resolved section
    dict: ``d{discipline}:c{category},n{number}:l{level_type}/{level}
    [-{level2}]:{YYYYMMDDHH}:f{lead hours}`` — a stable engine-defined
    rendering of the same fields wgrib2 prints.  Its ``:anl:`` /
    ``:6 hour fcst:`` selector is the trailing ``:f0`` / ``:f6``; its
    LEVEL string (the field the reference's wgrib2 -match regexes key
    on, /root/reference/src/file-conversions.js:79-87 — "0-10 cm
    down", "500 mb") is the ``l{type}/{level}`` field, rendered
    exactly like the landing scan's unified line (sources/grib_source.
    inventory_line) so one level/layer regex works on both surfaces.
    A missing surface renders ``-``; a non-hour-convertible lead
    (calendar units) renders ``f-`` — LISTED, like wgrib2 lists every
    record, but never selected by an ``:f6$``-style match."""
    year, month, day, hour, _ = _parse_section(_S1, s[1])["reftime"]
    h = _parse_section(_S4, s[4], head=True)
    # lenient TEXT rendering: fractional surfaces (sigma 0.995) list as
    # their exact decimal instead of aborting the inventory — the loud
    # stop lives in the decode path (surface_level)
    lvs = surface_level_text(h["level_value"], h["level_scale"])
    if h["level2_value"] is not None:
        lvs += f"-{surface_level_text(h['level2_value'], h['level2_scale'])}"
    lt, fh = h["level_type"], h["forecast_hours"]
    return (
        f"d{s[0][6]}:c{h['category']},n{h['number']}:"
        f"l{'-' if lt is None else lt}/{lvs}:"
        f"{year:04d}{month:02d}{day:02d}{hour:02d}"
        f":f{'-' if fh is None else fh}"
    )


@loud_truncation
def inventory_lines(msg: bytes) -> list[str]:
    """wgrib2-style inventory, one line per FIELD in message order —
    wgrib2 itself inventories submessages (its N.M numbering), so a
    multi-field NDFD-style message yields several lines, matching the
    per-field rows the landing scan lands."""
    return [_field_inventory(s) for s in _iter_field_sections(msg)]


@loud_truncation
def inventory_line(msg: bytes) -> str:
    """Single-field form of :func:`inventory_lines`: the one inventory
    line of a SINGLE-FIELD message; multi-field messages raise (their
    several fields have several lines — collapsing to one would hide
    all but one field from a ``-match`` regex)."""
    if msg[:4] != MAGIC or msg[7] != EDITION:
        raise ValueError("not a GRIB edition-2 message")
    lines = inventory_lines(msg)
    if len(lines) != 1:
        raise ValueError(
            f"multi-field GRIB2 message has {len(lines)} inventory lines "
            "— use inventory_lines"
        )
    return lines[0]


@loud_truncation
def match_records(buf: bytes, pattern: str, limit: int | None = None) -> list[bytes]:
    """``wgrib2 input -match <regex> [-limit n]`` parity
    (/root/reference/src/file-conversions.js:75-99): every message ANY
    of whose per-field inventory lines matches ``pattern`` (regex
    search), in file order, capped at ``limit`` when given.  Like
    wgrib2, matching runs per FIELD on submessage archives; selection
    granularity here is the containing MESSAGE (the byte unit this
    helper deals in) — the landing scan's ``match=`` pushdown is the
    true per-field filter."""
    rx = re.compile(pattern)
    out: list[bytes] = []
    if limit is not None and limit <= 0:
        return out  # wgrib2 -limit 0 selects nothing
    for msg in iter_messages2(buf):
        if any(rx.search(line) for line in inventory_lines(msg)):
            out.append(msg)
            if limit is not None and len(out) >= limit:
                break
    return out
