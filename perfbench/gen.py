"""Seeded landing generators for the benchmark workloads.

Both generators are pure numpy/pyarrow (no Spark) and deterministic in
``seed``: the same seed gives byte-identical landing files.  The GRIB
generator returns the fields it encoded and :func:`gridmonth_fields`
regenerates any landing month, so the correctness checks can rebuild
every published value with numpy.

* :func:`write_grib_landing` — month-files holding one GRIB1 simple-packed
  2 m temperature record and one GRIB2 AEC-packed (template 5.42) total
  precipitation record, landed by temp file + rename like a download.
* :func:`write_gridmonths_landing` — the ``{landing}/{YYYY-MM}.parquet``
  layout that ``GriddedMonthlySource`` scans, with -9999 sentinel cells.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np

SENTINEL = -9999.0

# GRIB1 t2m packing: 16 bits at binary scale -6 (a 1/64 K quantum).
T2M_BINARY_SCALE = -6
T2M_NBITS = 16
T2M_PARAMETER = 11
# GRIB2 tp: integer-valued field (units of 0.01 mm), 12-bit AEC.
TP_NBITS = 12


@dataclass(frozen=True)
class Grid:
    """A regular lat/lon grid, row 0 northernmost, in millidegrees."""

    north_mdeg: int
    west_mdeg: int
    step_mdeg: int
    nj: int
    ni: int

    @property
    def lats(self) -> np.ndarray:
        return (self.north_mdeg - self.step_mdeg * np.arange(self.nj)) / 1000.0

    @property
    def lons(self) -> np.ndarray:
        return (self.west_mdeg + self.step_mdeg * np.arange(self.ni)) / 1000.0

    @property
    def cells(self) -> int:
        return self.nj * self.ni


# Africa, 37.5N-35S x 18W-52E.
AFRICA_025 = Grid(37_500, -18_000, 250, 291, 281)
AFRICA_1 = Grid(37_500, -18_000, 1_000, 73, 71)


def _climate(grid: Grid, rng: np.random.Generator, month: int, year: int):
    """(t2m K, tp 0.01 mm) fields: smooth climatology, a seasonal cycle
    that flips across the equator, a small trend, and seeded noise."""
    lat = grid.lats[:, None]
    lon = grid.lons[None, :]
    season = np.cos(2 * np.pi * (month - 1) / 12.0)
    t2m = (
        300.0
        - 0.35 * np.abs(lat)
        + 3.0 * np.sin(np.radians(3 * lon))
        + 6.0 * season * np.sign(lat) * np.abs(lat) / 35.0
        + 0.05 * (year - 2000)
        + rng.normal(0.0, 0.8, (grid.nj, grid.ni))
    )
    tp = (
        900.0
        + 700.0 * np.cos(np.radians(4 * lat)) * (1 + 0.5 * season)
        + 150.0 * np.sin(np.radians(2 * lon))
        + rng.normal(0.0, 120.0, (grid.nj, grid.ni))
    )
    return t2m, np.clip(np.round(tp), 0, 2**TP_NBITS - 1)


def write_grib_landing(
    landing: str, seed: int, months: list[tuple[int, int]], grid: Grid = AFRICA_025
) -> dict[tuple[int, int], dict[str, np.ndarray]]:
    """Write one ``era5_YYYY_MM.grib`` per month; return the encoded
    fields {(year, month): {"t2m": ..., "tp": ...}}."""
    from monitoring_data_ingestion_spark.grid.grib1 import encode_grib1_message
    from monitoring_data_ingestion_spark.grid.grib2 import encode_grib2_message

    os.makedirs(landing, exist_ok=True)
    rng = np.random.default_rng(seed)
    fields = {}
    for year, month in months:
        t2m, tp = _climate(grid, rng, month, year)
        g1 = encode_grib1_message(
            t2m,
            parameter=T2M_PARAMETER,
            reftime=(year, month, 1, 0, 0),
            lat_first_mdeg=grid.north_mdeg,
            lon_first_mdeg=grid.west_mdeg,
            dlat_mdeg=grid.step_mdeg,
            dlon_mdeg=grid.step_mdeg,
            reference_value=float(np.floor(t2m.min())),
            binary_scale=T2M_BINARY_SCALE,
            nbits=T2M_NBITS,
        )
        g2 = encode_grib2_message(
            tp,
            category=1,
            number=8,
            reftime=(year, month, 1, 0, 0),
            lat_first_udeg=grid.north_mdeg * 1000,
            lon_first_udeg=(grid.west_mdeg % 360_000) * 1000,
            dlat_udeg=grid.step_mdeg * 1000,
            dlon_udeg=grid.step_mdeg * 1000,
            reference_value=0.0,
            nbits=TP_NBITS,
            packing="aec",
        )
        name = f"era5_{year}_{month:02d}.grib"
        tmp = os.path.join(landing, f".{name}.tmp")
        with open(tmp, "wb") as f:
            f.write(g1 + g2)
        os.rename(tmp, os.path.join(landing, name))
        fields[(year, month)] = {"t2m": t2m, "tp": tp}
    return fields


def gridmonth_fields(
    grid: Grid, seed: int, year: int, month: int
) -> dict[str, np.ndarray]:
    """One landing month's {variable: (nj, ni) values}: ``t2m`` in K and
    ``precip`` in m, with -9999 at the grid corner every month and at a
    seeded ~2% scatter of cells."""
    rng = np.random.default_rng([seed, year, month])
    t2m, tp = _climate(grid, rng, month, year)
    out = {"t2m": t2m, "precip": tp / 1e5}
    for v in out.values():
        v[rng.random(v.shape) < 0.02] = SENTINEL
        v[0, 0] = SENTINEL
    return out


def write_gridmonths_landing(
    landing: str, seed: int, months: list[tuple[int, int]], grid: Grid = AFRICA_1
) -> None:
    """Write ``{landing}/{YYYY-MM}.parquet`` (time, lat, lon, variable,
    value) for each month."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(landing, exist_ok=True)
    lat = np.repeat(grid.lats, grid.ni)
    lon = np.tile(grid.lons, grid.nj)
    for year, month in months:
        fields = gridmonth_fields(grid, seed, year, month)
        ts = datetime(year, month, 1, tzinfo=timezone.utc)
        n = grid.cells
        table = pa.table(
            {
                "time": pa.array([ts] * (n * len(fields)), pa.timestamp("us", tz="UTC")),
                "lat": np.tile(lat, len(fields)),
                "lon": np.tile(lon, len(fields)),
                "variable": pa.array(
                    [v for v in fields for _ in range(n)], pa.string()
                ),
                "value": np.concatenate([f.ravel() for f in fields.values()]),
            }
        )
        name = f"{year:04d}-{month:02d}.parquet"
        tmp = os.path.join(landing, f".{name}.tmp")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(landing, name))
