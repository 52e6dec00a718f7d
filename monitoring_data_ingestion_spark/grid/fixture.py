"""Closed-form gridmonths landing-dir generator (Spark-native).

The engine's flagship dataflow (monthly grid → normals → anomaly,
/root/reference/src/sources/era5monthly.js:36-155) needs a month-keyed
landing directory of grid parquet. This module materializes one with a
CLOSED-FORM value function so a SQL oracle can regenerate the identical
dataset without reading the landing dir:

    value(lat, lon, t, var) = lat*10 + lon + month(t) + (year(t) - 1991)
                              + var_offset[var]

with the grid corner cell always carrying the −9999 nodata sentinel (P5).
The layout matches the gridmonths source contract: one ``YYYY-MM.parquet``
entry per month (sources/python_datasource.py::_list_months).

Generation is a Spark plan (sequence/explode cross grid), not a driver
loop — the same generator scales to any grid by widening the sequences.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ingest.sinks import swap_dirs

BASE_YEAR = 1991
NODATA = -9999.0
VAR_OFFSETS = {"t2m": 0.0, "precip": 100.0, "unused_var": 500.0}
LAT0, LON0, STEP, N_CELLS = 10.0, 20.0, 0.25, 8


def grid_frame(
    spark: SparkSession,
    start_month: str,
    end_month: str,
    n_cells: int = N_CELLS,
) -> DataFrame:
    """The closed-form grid as one lazy DataFrame (time, lat, lon,
    variable, value) covering every month in [start_month, end_month].
    ``n_cells`` is the per-axis density knob (total cells = n_cells²):
    the default matches the oracle fixture; the scale probe passes a
    larger axis to measure the pipeline at 10×+ grid density."""
    months = F.explode(
        F.expr(
            f"sequence(timestamp'{start_month}-01', timestamp'{end_month}-01',"
            " interval 1 month)"
        )
    ).alias("time")
    axis = F.sequence(F.lit(0), F.lit(n_cells - 1))
    lats = F.explode(F.transform(axis, lambda i: F.lit(LAT0) + F.lit(STEP) * i)).alias("lat")
    lons = F.explode(F.transform(axis, lambda j: F.lit(LON0) + F.lit(STEP) * j)).alias("lon")
    variables = F.explode(
        F.array(
            *[
                F.struct(F.lit(v).alias("variable"), F.lit(off).alias("voff"))
                for v, off in VAR_OFFSETS.items()
            ]
        )
    ).alias("vs")
    base = (
        spark.range(1)
        .select(months)
        .select("time", lats)
        .select("time", "lat", lons)
        .select("time", "lat", "lon", variables)
        .select("time", "lat", "lon", "vs.variable", "vs.voff")
    )
    value = (
        F.col("lat") * 10
        + F.col("lon")
        + F.month("time")
        + (F.year("time") - BASE_YEAR)
        + F.col("voff")
    )
    sentinel = (F.col("lat") == LAT0) & (F.col("lon") == LON0)
    return base.select(
        "time",
        "lat",
        "lon",
        "variable",
        F.when(sentinel, F.lit(NODATA)).otherwise(value).alias("value"),
    )


def write_grid_landing(
    spark: SparkSession,
    landing_dir: str,
    start_month: str,
    end_month: str,
    n_cells: int = N_CELLS,
) -> None:
    """Materialize the landing dir: ONE partitioned write, then swap the
    partition dirs in as the gridmonths ``YYYY-MM.parquet`` entries (cheap
    driver-side renames — the data itself never passes the driver)."""
    os.makedirs(landing_dir, exist_ok=True)
    staging = os.path.join(landing_dir, "_staging")
    (
        grid_frame(spark, start_month, end_month, n_cells=n_cells)
        .withColumn("mk", F.date_format("time", "yyyy-MM"))
        .repartition("mk")
        .write.mode("overwrite")
        .partitionBy("mk")
        .parquet(staging)
    )
    swap_dirs(
        [
            (part_dir, os.path.join(landing_dir, f"{part_dir.split('mk=')[-1]}.parquet"))
            for part_dir in glob.glob(os.path.join(staging, "mk=*"))
        ]
    )
    # The staging root now holds only _SUCCESS/metadata remnants — remove
    # it so the landing dir contains exactly the gridmonths entries.
    shutil.rmtree(staging, ignore_errors=True)


def grid_oracle_sql(start_month: str, end_month: str) -> str:
    """DuckDB CTE regenerating the exact grid (sentinel → NULL, CDO
    -setmissval semantics applied, matching grid.ops.nodata_to_null)."""
    vals = ", ".join(f"('{v}', {off})" for v, off in VAR_OFFSETS.items())
    return f"""
months AS (
  SELECT unnest(generate_series(TIMESTAMP '{start_month}-01',
                                TIMESTAMP '{end_month}-01', INTERVAL 1 MONTH)) AS time
),
axis AS (SELECT unnest(generate_series(0, {N_CELLS - 1})) AS i),
vars(variable, voff) AS (VALUES {vals}),
grid AS (
  SELECT m.time,
         {LAT0} + {STEP} * la.i AS lat,
         {LON0} + {STEP} * lo.i AS lon,
         v.variable,
         CASE WHEN la.i = 0 AND lo.i = 0 THEN NULL
              ELSE ({LAT0} + {STEP} * la.i) * 10 + ({LON0} + {STEP} * lo.i)
                   + month(m.time) + (year(m.time) - {BASE_YEAR}) + v.voff
         END AS value
  FROM months m, axis la, axis lo, vars v
)"""
