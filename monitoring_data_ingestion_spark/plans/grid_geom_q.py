"""Grid/spatial GEOMETRY catalog queries (SURVEY.md §2.2 P4, §1 data model): polygon/shapefile clip, regrid, zonal stats, gradient, near-join, area weighting, contours, hillshade.  Split out of the former monolithic plans/grid_q.py in r16.

The polygon-clip operator over a synthetic lat/lon grid derived
deterministically from the customer table (the fixtures carry no
coordinates). The oracle's ray-cast SQL is GENERATED from the same vertex
list as the Spark expression — one geometry definition, two renderings —
so the hash gate checks the actual clip arithmetic edge by edge.
"""

from __future__ import annotations

import os
from functools import lru_cache
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.deterministic import exact_sum
from ..grid.ops import point_in_polygon
from ..grid.shapefile import main_ring
from ..sources.readers import table
from .catalog import query

# A non-degenerate pentagon (lon, lat); no fixture point falls exactly on
# an edge (vertices use .x decimals, points land on .5 offsets).
CLIP_POLYGON = [
    (-100.2, -50.3),
    (80.7, -60.1),
    (120.4, 20.9),
    (10.3, 70.2),
    (-130.8, 40.6),
]

# The cutline geometry is VENDORED: fixtures/africa_outline.shp is the
# reference's mainland outline (gdalwarp -cutline input,
# /root/reference/src/file-conversions.js:174-195) decimated to 125
# vertices and written once by the engine's own .shp writer — checked into
# the repo so the catalog's declared semantics are identical on every
# install, with no dependency on a reference checkout or a shared tempdir.
# ``SPARK_MDI_CLIP_SHP`` overrides the path for clipping against a
# different cutline.
VENDORED_SHP = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "..", "..", "fixtures",
    "africa_outline.shp",
)




@lru_cache(maxsize=1)
def shapefile_cutline() -> tuple[tuple[float, float], ...]:
    """(lon, lat) cutline vertices parsed from the vendored shapefile.

    The outline is pre-decimated to 125 vertices: the geometry rides the
    query plan as a literal edge array (zero shuffle, zero broadcast)
    that an interpreted ``aggregate`` walks once per cell, so a
    4,987-vertex coastline would cost every cell 40× the edge tests for
    no accuracy gain on the fixture's 1°-offset synthetic grid.
    """
    path = os.environ.get("SPARK_MDI_CLIP_SHP", VENDORED_SHP)
    return tuple(main_ring(path))

# Deterministic synthetic coordinates: integer-derived with .5 offsets,
# identical double arithmetic in both engines.
_LON_SQL = "CAST(c_custkey * 7 % 360 AS DOUBLE) - 180.0 + 0.5"
_LAT_SQL = "CAST(c_custkey * 13 % 180 AS DOUBLE) - 90.0 + 0.5"


def _raycast_sql(lon: str, lat: str, polygon: Sequence[tuple[float, float]] = None) -> str:
    """Render the exact per-edge crossing test of grid.ops.point_in_polygon
    for the given polygon (default: the fixed pentagon). Float literals use
    repr round-tripping, so both engines fold identical doubles."""
    poly = list(polygon) if polygon is not None else CLIP_POLYGON
    terms = []
    n = len(poly)
    for i in range(n):
        x1, y1 = poly[i]
        x2, y2 = poly[(i + 1) % n]
        terms.append(
            f"(CASE WHEN (({y1} > {lat}) <> ({y2} > {lat}))"
            f" AND ({lon} < ({x2} - {x1}) * ({lat} - {y1}) / ({y2} - {y1}) + {x1})"
            f" THEN 1 ELSE 0 END)"
        )
    return f"(({' + '.join(terms)}) % 2 = 1)"


@query(
    "grid_polygon_clip",
    tags=("grid", "spatial", "filter"),
    oracle=f"""
WITH pts AS (
  SELECT c_custkey, {_LAT_SQL} AS lat, {_LON_SQL} AS lon, c_acctbal AS value
  FROM customer WHERE c_custkey <= 2000
)
SELECT c_custkey, lat, lon,
       {_raycast_sql('lon', 'lat')} AS inside,
       CASE WHEN {_raycast_sql('lon', 'lat')} THEN value END AS value
FROM pts ORDER BY c_custkey
""",
)
def grid_polygon_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon clip with nodata semantics (P4: gdalwarp -cutline,
    /root/reference/src/file-conversions.js:174-195): points outside the
    clip outline keep their row but lose their value to NULL — exactly the
    −9999-nodata convention mapped to SQL NULL at the scan edge.

    The ray-cast runs over a folded literal edge array (no UDF, no
    broadcast, geometry embedded in the plan; map-side, zero shuffle).
    Its `aggregate` is interpreted (CodegenFallback), so the projection
    that holds it runs outside whole-stage codegen.
    """
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 2000)
    pts = c.select(
        "c_custkey",
        ((F.col("c_custkey") * 13 % 180).cast("double") - 90.0 + 0.5).alias("lat"),
        ((F.col("c_custkey") * 7 % 360).cast("double") - 180.0 + 0.5).alias("lon"),
        F.col("c_acctbal").alias("value"),
    )
    inside = point_in_polygon(F.col("lat"), F.col("lon"), CLIP_POLYGON)
    return pts.select(
        "c_custkey",
        "lat",
        "lon",
        inside.alias("inside"),
        F.when(inside, F.col("value")).alias("value"),
    ).orderBy("c_custkey")


def _edges_values_sql(polygon: Sequence[tuple[float, float]]) -> str:
    """The polygon's edge list as a SQL VALUES table. A 125-edge ray cast
    rendered as one `+`-chained expression exceeds DuckDB's binder
    recursion limit; an edge relation + aggregate crossing count computes
    the identical arithmetic without a deep expression tree."""
    rows = []
    n = len(polygon)
    for i in range(n):
        x1, y1 = polygon[i]
        x2, y2 = polygon[(i + 1) % n]
        rows.append(f"({x1}, {y1}, {x2}, {y2})")
    return ",\n       ".join(rows)


@query(
    "grid_shapefile_clip",
    tags=("grid", "spatial", "filter"),
    oracle=f"""
WITH pts AS (
  SELECT c_custkey, {_LAT_SQL} AS lat, {_LON_SQL} AS lon, c_acctbal AS value
  FROM customer WHERE c_custkey <= 2000
),
edges(x1, y1, x2, y2) AS (
  VALUES {_edges_values_sql(shapefile_cutline())}
),
crossed AS (
  SELECT p.c_custkey, p.lat, p.lon, p.value,
         (SUM(CASE WHEN ((e.y1 > p.lat) <> (e.y2 > p.lat))
                    AND (p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1)
              THEN 1 ELSE 0 END) % 2 = 1) AS inside
  FROM pts p CROSS JOIN edges e
  GROUP BY p.c_custkey, p.lat, p.lon, p.value
)
SELECT c_custkey, lat, lon, inside,
       CASE WHEN inside THEN value END AS value
FROM crossed ORDER BY c_custkey
""",
)
def grid_shapefile_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon clip whose cutline comes from a parsed ESRI shapefile —
    the reference's exact geometry path (gdalwarp -cutline africa.shp,
    /root/reference/src/file-conversions.js:174-195) with the engine's
    own .shp reader (grid/shapefile.py) replacing GDAL.

    Same plan shape as grid_polygon_clip: the parsed outline folds into a
    literal edge array, the ray-cast is an interpreted `aggregate`
    (CodegenFallback, not whole-stage codegen), zero shuffle — the
    cutline never becomes a join side, so at 100 TB the clip stays a
    map-side rider on the scan.
    """
    poly = shapefile_cutline()
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 2000)
    pts = c.select(
        "c_custkey",
        ((F.col("c_custkey") * 13 % 180).cast("double") - 90.0 + 0.5).alias("lat"),
        ((F.col("c_custkey") * 7 % 360).cast("double") - 180.0 + 0.5).alias("lon"),
        F.col("c_acctbal").alias("value"),
    )
    inside = point_in_polygon(F.col("lat"), F.col("lon"), poly)
    return pts.select(
        "c_custkey",
        "lat",
        "lon",
        inside.alias("inside"),
        F.when(inside, F.col("value")).alias("value"),
    ).orderBy("c_custkey")


@query(
    "grid_regrid_coarsen",
    tags=("grid", "spatial", "agg"),
    oracle=f"""
WITH pts AS (
  SELECT c_custkey, {_LAT_SQL} AS lat, {_LON_SQL} AS lon, c_acctbal AS value
  FROM customer WHERE c_custkey <= 2000
)
SELECT CAST(FLOOR(lat / 10) * 10 AS DOUBLE) AS cell_lat,
       CAST(FLOOR(lon / 10) * 10 AS DOUBLE) AS cell_lon,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) / COUNT(value) AS mean_value
FROM pts
GROUP BY 1, 2
ORDER BY cell_lat, cell_lon
""",
)
def grid_regrid_coarsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conservative regrid to a coarser resolution: fine-grid points
    aggregate into 10°×10° cells by exact-decimal mean — the ERA5
    0.25°→1° downsample the reference's AOI workflows imply
    (/root/reference/src/sources/era5monthly.js:28-34 fixes the fine
    grid; coarsening is the standard product derived from it).

    Scale: cell assignment is pure arithmetic (floor division, map-side);
    one partial+final hash aggregate whose exchange carries |cells| rows —
    for the global 1° grid that is 64 800 rows regardless of input size.
    """
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 2000)
    pts = c.select(
        ((F.col("c_custkey") * 13 % 180).cast("double") - 90.0 + 0.5).alias("lat"),
        ((F.col("c_custkey") * 7 % 360).cast("double") - 180.0 + 0.5).alias("lon"),
        F.col("c_acctbal").alias("value"),
    )
    return (
        pts.groupBy(
            (F.floor(F.col("lat") / 10) * 10).cast("double").alias("cell_lat"),
            (F.floor(F.col("lon") / 10) * 10).cast("double").alias("cell_lon"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            (exact_sum("value", 2) / F.count("value")).alias("mean_value"),
        )
        .orderBy("cell_lat", "cell_lon")
    )


# Bilinear regrid lattice bounds: coarse 1-degree corners on
# lat [-20, 20] x lon [0, 40]; fine 0.5-degree targets stop half a cell
# short of the top edge so every target has all four corners.
_BL_LAT0, _BL_LATN = -20, 20
_BL_LON0, _BL_LONN = 0, 40

# Closed-form corner value: small integer hash plus a quarter-degree ramp.
# Every term is an exact multiple of 0.25, so all bilinear weights (0,
# 0.25, 0.5, 1) and products stay exactly representable in binary floats —
# the interpolation is bit-exact in ANY engine with no decimal plumbing.
_BL_VALUE_SQL = (
    "CAST(((lat + 90) * 31 + (lon + 180) * 7) % 17 AS DOUBLE) + (lat + 90) * 0.25"
)


@query(
    "grid_bilinear_regrid",
    tags=("grid", "spatial", "join"),
    oracle=f"""
WITH corners AS (
  SELECT lat, lon, {_BL_VALUE_SQL} AS value
  FROM (SELECT unnest(generate_series({_BL_LAT0}, {_BL_LATN})) AS lat) la,
       (SELECT unnest(generate_series({_BL_LON0}, {_BL_LONN})) AS lon) lo
), fine AS (
  SELECT {_BL_LAT0} + i * 0.5 AS flat, {_BL_LON0} + j * 0.5 AS flon
  FROM (SELECT unnest(generate_series(0, {(_BL_LATN - _BL_LAT0) * 2 - 1})) AS i) a,
       (SELECT unnest(generate_series(0, {(_BL_LONN - _BL_LON0) * 2 - 1})) AS j) b
), anchored AS (
  SELECT flat, flon,
         CAST(floor(flat) AS BIGINT) AS lat0, CAST(floor(flon) AS BIGINT) AS lon0,
         flat - floor(flat) AS fy, flon - floor(flon) AS fx
  FROM fine
)
SELECT a.flat AS lat, a.flon AS lon,
       (1 - a.fy) * (1 - a.fx) * c00.value
     + (1 - a.fy) * a.fx       * c01.value
     + a.fy       * (1 - a.fx) * c10.value
     + a.fy       * a.fx       * c11.value AS value
FROM anchored a
JOIN corners c00 ON c00.lat = a.lat0     AND c00.lon = a.lon0
JOIN corners c01 ON c01.lat = a.lat0     AND c01.lon = a.lon0 + 1
JOIN corners c10 ON c10.lat = a.lat0 + 1 AND c10.lon = a.lon0
JOIN corners c11 ON c11.lat = a.lat0 + 1 AND c11.lon = a.lon0 + 1
ORDER BY lat, lon
""",
)
def grid_bilinear_regrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilinear regrid to a 2x finer grid — the reference's
    ``gdal_translate``/``gdalwarp`` resampling path
    (/root/reference/src/file-conversions.js:58-72) re-expressed as
    relational algebra: each fine point is the corner-weighted mean of its
    four enclosing coarse-cell corners.

    Spark-first: instead of the oracle's four corner joins, the fine side
    EXPLODES its four (corner-key, weight) contributions and makes ONE
    equi-join against the corner table, then regroups per fine point —
    at planetary grid sizes that is a single shuffle on corner key (AQE
    broadcasts the corner side when it fits), and the contribution sum is
    exact because every weight and corner value is a multiple of 1/4
    (see _BL_VALUE_SQL). No UDF, no cartesian, no window.
    """
    la = spark.range(_BL_LAT0, _BL_LATN + 1).select(F.col("id").alias("lat"))
    lo = spark.range(_BL_LON0, _BL_LONN + 1).select(F.col("id").alias("lon"))
    corners = la.crossJoin(lo).select(
        "lat",
        "lon",
        (
            (((F.col("lat") + 90) * 31 + (F.col("lon") + 180) * 7) % 17).cast("double")
            + (F.col("lat") + 90) * F.lit(0.25)
        ).alias("value"),
    )
    fi = spark.range(0, (_BL_LATN - _BL_LAT0) * 2).select(F.col("id").alias("i"))
    fj = spark.range(0, (_BL_LONN - _BL_LON0) * 2).select(F.col("id").alias("j"))
    fine = fi.crossJoin(fj).select(
        (F.lit(_BL_LAT0) + F.col("i") * F.lit(0.5)).alias("flat"),
        (F.lit(_BL_LON0) + F.col("j") * F.lit(0.5)).alias("flon"),
    )
    anchored = fine.select(
        "flat",
        "flon",
        F.floor("flat").alias("lat0"),
        F.floor("flon").alias("lon0"),
        (F.col("flat") - F.floor("flat")).alias("fy"),
        (F.col("flon") - F.floor("flon")).alias("fx"),
    )
    wy = [F.lit(1) - F.col("fy"), F.col("fy")]
    wx = [F.lit(1) - F.col("fx"), F.col("fx")]
    contributions = F.array(
        *[
            F.struct(
                (F.col("lat0") + dy).alias("clat"),
                (F.col("lon0") + dx).alias("clon"),
                (wy[dy] * wx[dx]).alias("w"),
            )
            for dy in (0, 1)
            for dx in (0, 1)
        ]
    )
    exploded = anchored.select(
        "flat", "flon", F.explode(contributions).alias("c")
    ).select(
        "flat",
        "flon",
        F.col("c.clat").alias("clat"),
        F.col("c.clon").alias("clon"),
        F.col("c.w").alias("w"),
    )
    joined = exploded.join(
        corners,
        (F.col("clat") == F.col("lat")) & (F.col("clon") == F.col("lon")),
    )
    return (
        joined.groupBy("flat", "flon")
        .agg(F.sum(F.col("w") * F.col("value")).alias("value"))
        .select(F.col("flat").alias("lat"), F.col("flon").alias("lon"), "value")
        .orderBy("lat", "lon")
    )


# Three disjoint zone quads (lon, lat) — vertices off the fixture's .5
# lattice so no point sits exactly on an edge. Zone assignment is
# first-match (they are disjoint, so order is cosmetic).
ZONES = [
    [(-150.2, -60.3), (-30.4, -60.3), (-30.4, 10.6), (-150.2, 10.6)],
    [(-20.8, -70.1), (60.7, -70.1), (60.7, 30.2), (-20.8, 30.2)],
    [(70.3, -10.4), (150.9, -10.4), (150.9, 70.8), (70.3, 70.8)],
]

_ZONE_CASE_SQL = (
    "CASE "
    + " ".join(
        f"WHEN {_raycast_sql('lon', 'lat', z)} THEN {k}" for k, z in enumerate(ZONES)
    )
    + " END"
)


@query(
    "grid_zonal_stats",
    tags=("grid", "spatial", "agg"),
    oracle=f"""
WITH pts AS (
  SELECT c_custkey, {_LAT_SQL} AS lat, {_LON_SQL} AS lon, c_acctbal AS value
  FROM customer WHERE c_custkey <= 5000
), zoned AS (
  SELECT c_custkey, value, {_ZONE_CASE_SQL} AS zone FROM pts
)
SELECT zone, COUNT(*) AS n_points,
       CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) / COUNT(value) AS mean_value,
       MIN(value) AS min_value, MAX(value) AS max_value
FROM zoned WHERE zone IS NOT NULL
GROUP BY zone ORDER BY zone
""",
)
def grid_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics — per-polygon-zone aggregates over a point grid
    (the raster 'zonal stats' the reference's AOI clips feed into:
    clip-by-cutline then summarize, /root/reference/src/file-conversions.js
    :174-195 composed with the cdo means at :203-211).

    Zone assignment is the same interpreted literal ray-cast as
    grid_polygon_clip, chained into a CASE across the zone list — a pure
    map stage with the geometry folded into the plan; the per-zone rollup
    is one partial+final hash aggregate whose exchange carries |zones|
    rows. At planetary point counts nothing but the fixed-size zone table
    ever crosses the wire; for thousands of zones the CASE chain would
    become a broadcast polygon join on an r-tree bucket key (same pattern,
    table-driven).
    """
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 5000)
    pts = c.select(
        "c_custkey",
        ((F.col("c_custkey") * 13 % 180).cast("double") - 90.0 + 0.5).alias("lat"),
        ((F.col("c_custkey") * 7 % 360).cast("double") - 180.0 + 0.5).alias("lon"),
        F.col("c_acctbal").alias("value"),
    )
    zone = F.lit(None).cast("int")
    for k in reversed(range(len(ZONES))):
        zone = F.when(
            point_in_polygon(F.col("lat"), F.col("lon"), ZONES[k]), F.lit(k)
        ).otherwise(zone)
    return (
        pts.select("value", zone.alias("zone"))
        .filter(F.col("zone").isNotNull())
        .groupBy("zone")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            (exact_sum("value", 2) / F.count("value")).alias("mean_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .orderBy("zone")
    )


@query(
    "grid_gradient_slope",
    tags=("grid", "spatial", "window"),
    oracle=f"""
WITH corners AS (
  SELECT lat, lon, {_BL_VALUE_SQL} AS value
  FROM (SELECT unnest(generate_series({_BL_LAT0}, {_BL_LATN})) AS lat) la,
       (SELECT unnest(generate_series({_BL_LON0}, {_BL_LONN})) AS lon) lo
), gx AS (
  SELECT lat, lon, value,
         (lead(value) OVER wlon - lag(value) OVER wlon) / 2 AS gx
  FROM corners WINDOW wlon AS (PARTITION BY lat ORDER BY lon)
), gxy AS (
  SELECT lat, lon, gx,
         (lead(value) OVER wlat - lag(value) OVER wlat) / 2 AS gy
  FROM gx WINDOW wlat AS (PARTITION BY lon ORDER BY lat)
)
SELECT lat, lon, gx, gy, ROUND(sqrt(gx * gx + gy * gy), 6) AS slope
FROM gxy
WHERE gx IS NOT NULL AND gy IS NOT NULL
ORDER BY lat, lon
""",
)
def grid_gradient_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster gradient by central differences: ∂z/∂x along each latitude
    row, ∂z/∂y along each longitude column, slope = |∇z| — the terrain
    slope/aspect primitive (gdaldem slope) over the same closed-form
    lattice as grid_bilinear_regrid; edges (missing a neighbor) are
    excluded.

    Spark-first: two window passes with orthogonal partitionings — the
    row pass shuffles on lat, the column pass on lon. Two exchanges are
    inherent to touching both axes of a row-stored raster; at planetary
    scale the production layout is 2-D tiles (each tile holds a halo of
    neighbors, one mapPartitions pass) — the window form is the exact
    declarative semantics that tiling must reproduce. All differences are
    multiples of 1/8 (see _BL_VALUE_SQL), so gx/gy are float-exact; the
    one rounding is the final sqrt.
    """
    la = spark.range(_BL_LAT0, _BL_LATN + 1).select(F.col("id").alias("lat"))
    lo = spark.range(_BL_LON0, _BL_LONN + 1).select(F.col("id").alias("lon"))
    corners = la.crossJoin(lo).select(
        "lat",
        "lon",
        (
            (((F.col("lat") + 90) * 31 + (F.col("lon") + 180) * 7) % 17).cast("double")
            + (F.col("lat") + 90) * F.lit(0.25)
        ).alias("value"),
    )
    wlon = Window.partitionBy("lat").orderBy("lon")
    wlat = Window.partitionBy("lon").orderBy("lat")
    gx = corners.withColumn(
        "gx", (F.lead("value").over(wlon) - F.lag("value").over(wlon)) / 2
    )
    gxy = gx.withColumn(
        "gy", (F.lead("value").over(wlat) - F.lag("value").over(wlat)) / 2
    )
    return (
        gxy.filter(F.col("gx").isNotNull() & F.col("gy").isNotNull())
        .select(
            "lat",
            "lon",
            "gx",
            "gy",
            F.round(
                F.sqrt(F.col("gx") * F.col("gx") + F.col("gy") * F.col("gy")), 6
            ).alias("slope"),
        )
        .orderBy("lat", "lon")
    )


# Geo near-join parameters: 5-degree blocking cells, pairs kept when the
# squared degree distance is within NEAR_DEG² (an equirectangular
# small-window metric — exact double arithmetic, no transcendentals, so
# the hash gate stays engine-portable; production swaps in haversine at
# the refine step without touching the blocking).
NEAR_DEG = 3.0
_CELL_DEG = 5


@query(
    "geo_near_join",
    tags=("grid", "spatial", "join"),
    oracle=f"""
WITH pts AS (
  SELECT c_custkey AS id, {_LAT_SQL} AS lat, {_LON_SQL} AS lon
  FROM customer WHERE c_custkey <= 2000
)
SELECT a.id AS id_a, b.id AS id_b,
       (a.lat - b.lat) * (a.lat - b.lat)
     + (a.lon - b.lon) * (a.lon - b.lon) AS dist2
FROM pts a JOIN pts b ON a.id < b.id
WHERE (a.lat - b.lat) * (a.lat - b.lat)
    + (a.lon - b.lon) * (a.lon - b.lon) <= {NEAR_DEG * NEAR_DEG}
ORDER BY id_a, id_b
""",
)
def geo_near_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial near-join: all point pairs within NEAR_DEG (3°) of each other
    — the proximity join behind station-matching / observation-conflation
    in a monitoring network (and every geospatial dedup).

    Spark-first: the oracle's all-pairs theta-join NEVER reaches the
    planner — one side explodes into its 3×3 neighborhood of 5° blocking
    cells, the other side keys by its own cell, and the join is an
    equi-join on the cell id; the exact distance predicate refines the
    candidates. Cell width ≥ search radius guarantees no missed pair;
    fan-out is a constant 9. The same blocking carries haversine or any
    refine metric at production scale — the pattern is the point.
    """
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 2000)
    pts = c.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * 13 % 180).cast("double") - 90.0 + 0.5).alias("lat"),
        ((F.col("c_custkey") * 7 % 360).cast("double") - 180.0 + 0.5).alias("lon"),
    )
    cell_i = F.floor(F.col("lat") / _CELL_DEG).cast("int")
    cell_j = F.floor(F.col("lon") / _CELL_DEG).cast("int")
    neighborhood = F.array(
        *[
            F.struct((cell_i + di).alias("ci"), (cell_j + dj).alias("cj"))
            for di in (-1, 0, 1)
            for dj in (-1, 0, 1)
        ]
    )
    a = pts.select(
        F.col("id").alias("id_a"),
        F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
        F.explode(neighborhood).alias("c"),
    ).select("id_a", "lat_a", "lon_a", F.col("c.ci").alias("ci"), F.col("c.cj").alias("cj"))
    b = pts.select(
        F.col("id").alias("id_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        cell_i.alias("ci"),
        cell_j.alias("cj"),
    )
    dist2 = (F.col("lat_a") - F.col("lat_b")) * (F.col("lat_a") - F.col("lat_b")) + (
        F.col("lon_a") - F.col("lon_b")
    ) * (F.col("lon_a") - F.col("lon_b"))
    return (
        a.join(b, ["ci", "cj"])
        .filter((F.col("id_a") < F.col("id_b")) & (dist2 <= NEAR_DEG * NEAR_DEG))
        .select("id_a", "id_b", dist2.alias("dist2"))
        .orderBy("id_a", "id_b")
    )


@query(
    "grid_area_weighted_mean",
    tags=("grid", "spatial", "agg"),
    oracle=f"""
WITH corners AS (
  SELECT lat, lon, {_BL_VALUE_SQL} AS value
  FROM (SELECT unnest(generate_series({_BL_LAT0}, {_BL_LATN})) AS lat) la,
       (SELECT unnest(generate_series({_BL_LON0}, {_BL_LONN})) AS lon) lo
), weighted AS (
  SELECT CAST(floor(lat / 10.0) * 10 AS INTEGER) AS band,
         CAST(cos(lat * pi() / 180.0) * value AS DECIMAL(30,12)) AS wv,
         CAST(cos(lat * pi() / 180.0) AS DECIMAL(30,12)) AS w,
         CAST(value AS DECIMAL(30,6)) AS v
  FROM corners
)
SELECT band,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       ROUND(CAST(SUM(wv) AS DOUBLE) / CAST(SUM(w) AS DOUBLE), 6) AS weighted_mean,
       ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS simple_mean
FROM weighted GROUP BY band ORDER BY band
""",
)
def grid_area_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Area-weighted spatial mean — the cos(latitude) weighting every
    global statistic over a regular lat/lon grid needs (CDO ``fldmean``
    semantics, the spatial-mean counterpart of the reference's temporal
    ``timmean``, /root/reference/src/sources/era5monthly.js:126-155):
    equal-angle cells shrink as cos(lat) toward the poles, so the naive
    mean over-weights high latitudes. Returns both means per 10° band so
    the correction itself is part of the checked result.

    Spark-first: weights are a map-side expression on the closed-form
    lattice (no weight table, no join); the rollup is one partial+final
    hash aggregate carrying |bands| rows. Weighted terms are summed as
    decimal(30,12) — cos() may differ from the oracle's libm in the last
    ulp, but 1 ulp ≈ 1e-17 sits 5 orders below the decimal quantum, and
    decimal sums are ordering-independent (the double Σ would round
    differently per partition schedule). At planetary density nothing
    but the fixed band table crosses the exchange.
    """
    la = spark.range(_BL_LAT0, _BL_LATN + 1).select(F.col("id").alias("lat"))
    lo = spark.range(_BL_LON0, _BL_LONN + 1).select(F.col("id").alias("lon"))
    value = (((F.col("lat") + 90) * 31 + (F.col("lon") + 180) * 7) % 17).cast(
        "double"
    ) + (F.col("lat") + 90) * 0.25
    corners = la.crossJoin(lo).select("lat", "lon", value.alias("value"))
    w = F.cos(F.col("lat") * F.lit(3.141592653589793) / 180.0)
    return (
        corners.groupBy((F.floor(F.col("lat") / 10.0) * 10).cast("int").alias("band"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.round(exact_sum(w * F.col("value"), 12) / exact_sum(w, 12), 6).alias(
                "weighted_mean"
            ),
            F.round(exact_sum("value", 6) / F.count(F.lit(1)), 6).alias("simple_mean"),
        )
        .orderBy("band")
    )


CONTOUR_LEVEL = 30.0  # iso-level inside the lattice's value range (17.5 .. 43.5)


@query(
    "grid_contour_cells",
    tags=("grid", "spatial", "window"),
    oracle=f"""
WITH corners AS (
  SELECT lat, lon, {_BL_VALUE_SQL} AS value
  FROM (SELECT unnest(generate_series({_BL_LAT0}, {_BL_LATN})) AS lat) la,
       (SELECT unnest(generate_series({_BL_LON0}, {_BL_LONN})) AS lon) lo
), row_shift AS (
  SELECT lat, lon, value,
         lead(value) OVER (PARTITION BY lat ORDER BY lon) AS v_right
  FROM corners
), cells AS (
  SELECT lat, lon, value AS v00, v_right AS v10,
         lead(value) OVER wlat AS v01,
         lead(v_right) OVER wlat AS v11
  FROM row_shift
  WINDOW wlat AS (PARTITION BY lon ORDER BY lat)
), cases AS (
  SELECT (CASE WHEN v00 > {CONTOUR_LEVEL} THEN 1 ELSE 0 END)
       + (CASE WHEN v10 > {CONTOUR_LEVEL} THEN 2 ELSE 0 END)
       + (CASE WHEN v11 > {CONTOUR_LEVEL} THEN 4 ELSE 0 END)
       + (CASE WHEN v01 > {CONTOUR_LEVEL} THEN 8 ELSE 0 END) AS case_index
  FROM cells
  WHERE v10 IS NOT NULL AND v01 IS NOT NULL AND v11 IS NOT NULL
)
SELECT CAST(case_index AS INTEGER) AS case_index,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       (case_index NOT IN (0, 15)) AS crossed
FROM cases GROUP BY case_index ORDER BY case_index
""",
)
def grid_contour_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marching-squares cell classification at an iso-level: each 2×2
    cell of the lattice gets its 4-bit corner-above-level case index
    (the lookup key contouring algorithms dispatch on; cases 0 and 15
    are interior, everything else carries a contour segment) — censused
    per case. The raster primitive under every isoline/contour product
    built from the reference's grids (gdal_contour over the same data).

    Spark-first: corner access is the gradient query's two-orthogonal-
    window shape — a per-lat lead gives the right neighbor, a per-lon
    lead lifts both one row north, so the diagonal costs no third pass —
    then a 16-row census. Two exchanges are inherent to touching both
    axes of a row-stored raster (see grid_gradient_slope's tiling note
    for the production layout). Strict `>` on exact lattice values:
    no boundary ulp ambiguity in either engine.
    """
    la = spark.range(_BL_LAT0, _BL_LATN + 1).select(F.col("id").alias("lat"))
    lo = spark.range(_BL_LON0, _BL_LONN + 1).select(F.col("id").alias("lon"))
    value = (((F.col("lat") + 90) * 31 + (F.col("lon") + 180) * 7) % 17).cast(
        "double"
    ) + (F.col("lat") + 90) * 0.25
    corners = la.crossJoin(lo).select("lat", "lon", value.alias("value"))
    w_lon = Window.partitionBy("lat").orderBy("lon")
    row_shift = corners.select(
        "lat", "lon", "value", F.lead("value").over(w_lon).alias("v_right")
    )
    w_lat = Window.partitionBy("lon").orderBy("lat")
    cells = row_shift.select(
        F.col("value").alias("v00"),
        F.col("v_right").alias("v10"),
        F.lead("value").over(w_lat).alias("v01"),
        F.lead("v_right").over(w_lat).alias("v11"),
    )
    bit = lambda c, k: F.when(F.col(c) > CONTOUR_LEVEL, k).otherwise(0)
    case_index = bit("v00", 1) + bit("v10", 2) + bit("v11", 4) + bit("v01", 8)
    return (
        cells.filter(
            F.col("v10").isNotNull()
            & F.col("v01").isNotNull()
            & F.col("v11").isNotNull()
        )
        .select(case_index.cast("int").alias("case_index"))
        .groupBy("case_index")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cells"))
        .select(
            "case_index",
            "n_cells",
            (~F.col("case_index").isin(0, 15)).alias("crossed"),
        )
        .orderBy("case_index")
    )


# Sun-angle constants for hillshade (azimuth 315°, altitude 45° — the
# gdaldem defaults). The per-cell trig folds into these literals, so the
# data path is pure arithmetic + one sqrt: shade =
# 255·(sin_alt + (−p·cos_az_x + q·cos_az_y)·cos_alt) / sqrt(1+p²+q²).
_HS_SIN_ALT = 0.7071067811865476  # sin 45°
_HS_COS_ALT = 0.7071067811865476  # cos 45°
_HS_AZ_X = -0.7071067811865476  # cos(315° math-convention light vector), x
_HS_AZ_Y = 0.7071067811865476  # y component


@query(
    "grid_hillshade",
    tags=("grid", "spatial", "window"),
    oracle=f"""
WITH corners AS (
  SELECT lat, lon, {_BL_VALUE_SQL} AS value
  FROM (SELECT unnest(generate_series({_BL_LAT0}, {_BL_LATN})) AS lat) la,
       (SELECT unnest(generate_series({_BL_LON0}, {_BL_LONN})) AS lon) lo
), row_pass AS (
  SELECT lat, lon, value,
         lag(value)  OVER wlon AS zw,
         lead(value) OVER wlon AS ze
  FROM corners WINDOW wlon AS (PARTITION BY lat ORDER BY lon)
), grid9 AS (
  SELECT lat, lon, value, zw, ze,
         lag(value)  OVER wlat AS zs,  lead(value) OVER wlat AS zn,
         lag(zw)     OVER wlat AS zsw, lead(zw)    OVER wlat AS znw,
         lag(ze)     OVER wlat AS zse, lead(ze)    OVER wlat AS zne
  FROM row_pass WINDOW wlat AS (PARTITION BY lon ORDER BY lat)
), horn AS (
  SELECT lat, lon,
         ((zne + 2 * ze + zse) - (znw + 2 * zw + zsw)) / 8.0 AS p,
         ((zsw + 2 * zs + zse) - (znw + 2 * zn + zne)) / 8.0 AS q
  FROM grid9
  WHERE zw IS NOT NULL AND ze IS NOT NULL AND zn IS NOT NULL
    AND zs IS NOT NULL AND znw IS NOT NULL AND zne IS NOT NULL
    AND zsw IS NOT NULL AND zse IS NOT NULL
)
SELECT lat, lon, ROUND(p, 6) AS p, ROUND(q, 6) AS q,
       ROUND(GREATEST(0.0,
         255.0 * ({_HS_SIN_ALT} + (-p * {_HS_AZ_X} + q * {_HS_AZ_Y}) * {_HS_COS_ALT})
           / sqrt(1.0 + p * p + q * q)), 2) AS shade
FROM horn ORDER BY lat, lon
""",
)
def grid_hillshade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hillshade (gdaldem hillshade, Horn's method, azimuth 315° /
    altitude 45°) over the closed-form lattice — the shaded-relief
    rendering primitive of the reference's GDAL output ecosystem
    (/root/reference/src/file-conversions.js drives gdal tooling).
    The 3×3 Horn kernel's p/q come from the contour-census neighbor
    lift: one window pass per latitude row carries (W, E), the
    orthogonal pass lifts all three columns to the 9-cell stencil —
    two exchanges total, the inherent cost of touching both axes of a
    row-stored raster (the same tiling note as grid_gradient_slope).

    Determinism: the sun-angle trig is constant-folded into literals,
    so the data path is exact lattice arithmetic (p/q are multiples of
    1/64), one sqrt, and a final 2 dp round — engine-portable with no
    transcendentals over data.
    """
    la = spark.range(_BL_LAT0, _BL_LATN + 1).select(F.col("id").alias("lat"))
    lo = spark.range(_BL_LON0, _BL_LONN + 1).select(F.col("id").alias("lon"))
    corners = la.crossJoin(lo).select(
        "lat",
        "lon",
        (
            (((F.col("lat") + 90) * 31 + (F.col("lon") + 180) * 7) % 17).cast("double")
            + (F.col("lat") + 90) * F.lit(0.25)
        ).alias("value"),
    )
    wlon = Window.partitionBy("lat").orderBy("lon")
    wlat = Window.partitionBy("lon").orderBy("lat")
    row_pass = corners.select(
        "lat",
        "lon",
        "value",
        F.lag("value").over(wlon).alias("zw"),
        F.lead("value").over(wlon).alias("ze"),
    )
    grid9 = row_pass.select(
        "lat",
        "lon",
        "value",
        "zw",
        "ze",
        F.lag("value").over(wlat).alias("zs"),
        F.lead("value").over(wlat).alias("zn"),
        F.lag("zw").over(wlat).alias("zsw"),
        F.lead("zw").over(wlat).alias("znw"),
        F.lag("ze").over(wlat).alias("zse"),
        F.lead("ze").over(wlat).alias("zne"),
    )
    full = (
        F.col("zw").isNotNull()
        & F.col("ze").isNotNull()
        & F.col("zn").isNotNull()
        & F.col("zs").isNotNull()
        & F.col("znw").isNotNull()
        & F.col("zne").isNotNull()
        & F.col("zsw").isNotNull()
        & F.col("zse").isNotNull()
    )
    horn = grid9.filter(full).select(
        "lat",
        "lon",
        (
            ((F.col("zne") + 2 * F.col("ze") + F.col("zse"))
             - (F.col("znw") + 2 * F.col("zw") + F.col("zsw"))) / 8.0
        ).alias("p"),
        (
            ((F.col("zsw") + 2 * F.col("zs") + F.col("zse"))
             - (F.col("znw") + 2 * F.col("zn") + F.col("zne"))) / 8.0
        ).alias("q"),
    )
    shade = F.greatest(
        F.lit(0.0),
        255.0
        * (
            _HS_SIN_ALT
            + (-F.col("p") * _HS_AZ_X + F.col("q") * _HS_AZ_Y) * _HS_COS_ALT
        )
        / F.sqrt(1.0 + F.col("p") * F.col("p") + F.col("q") * F.col("q")),
    )
    return horn.select(
        "lat",
        "lon",
        F.round("p", 6).alias("p"),
        F.round("q", 6).alias("q"),
        F.round(shade, 2).alias("shade"),
    ).orderBy("lat", "lon")


