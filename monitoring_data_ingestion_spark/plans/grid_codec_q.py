"""GRIB catalog queries — codec decode families (SURVEY.md §2 S5):
edition-1 decode/anomaly/inventory/match, the real-file landing scan,
GRIB2 complex/JPEG2000/Gaussian packings, the projected grid families
(Lambert / polar stereographic / Mercator), landing inventories,
reduced grids and the GeoTIFF publish round-trip.  Split out of the
former monolithic plans/grid_q.py in r16 — every registry name and
oracle is unchanged.

The gate → archive synth → decode scaffold and the shared witness
columns live in plans/grid_common.py (``landed_records`` /
``doc_archives``); each query here owns only its archive ``build`` function
and its witness arithmetic."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import table
from .catalog import query
from .grid_common import (
    _present,
    doc_archives,
    doc_id,
    landed_records,
    vsum,
    wsum,
)

def _synth_grib1_file(d: int) -> bytes:
    """The shared 3-record GRIB1 fixture file for document ``d`` (used by
    grid_grib1_decode AND grid_grib1_inventory — one definition, so the
    two queries' oracles can never desynchronize from each other):
    grid (8 + d%5) × (4 + d%4), record r has parameter 11+r and cell
    value 100 + 2·((d·7 + r·13 + i·3 + j·5) % 100); record 2 carries a
    bitmap masking (i + j) % 7 == 0."""
    import numpy as np

    from ..grid.grib1 import encode_grib1_message

    ni, nj = 8 + d % 5, 4 + d % 4
    i = np.arange(ni)[None, :]
    j = np.arange(nj)[:, None]
    msgs = []
    for r in range(3):
        v = 100 + 2 * ((d * 7 + r * 13 + i * 3 + j * 5) % 100)
        bitmap = ((i + j) % 7 != 0) | np.zeros_like(v, bool) if r == 1 else None
        msgs.append(
            encode_grib1_message(
                v.astype(np.float64),
                parameter=11 + r,
                reference_value=100.0,
                binary_scale=1,
                nbits=8,
                bitmap=bitmap,
            )
        )
    return b"".join(msgs)


# --- GRIB1 record decode ---------------------------------------------------

# Synthetic GRIB1 value field: cell (i, j) of record r (0-based) in doc
# d's file is 100 + 2*((d*7 + r*13 + i*3 + j*5) % 100) — integers with
# step 2 so the simple-packing encode (R=100, E=1, D=0, 8-bit
# increments) round-trips BIT-EXACTLY: X = (v-100)/2 <= 99 < 2^8.
# Record 2 carries a bitmap masking cells where (i+j) % 7 == 0.


@query(
    "grid_grib1_decode",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id,
         8 + doc_id % 5 AS ni,
         4 + doc_id % 4 AS nj,
         1 + (doc_id // 3) % 3 AS rn
  FROM documents WHERE doc_id % 3 = 2 AND doc_id < 300
),
cells AS (
  SELECT doc_id, ni, nj, rn,
         CASE WHEN rn = 2 AND (i.i + j.j) % 7 = 0 THEN NULL
              ELSE 100 + 2 * ((doc_id * 7 + (rn - 1) * 13 + i.i * 3 + j.j * 5) % 100)
         END AS v
  FROM g,
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj - 1)) AS j) j
)
SELECT doc_id,
       CAST(rn AS INTEGER) AS record_number,
       CAST(ni AS INTEGER) AS ni,
       CAST(nj AS INTEGER) AS nj,
       CAST(90000 AS INTEGER) AS lat_first_mdeg,
       CAST(COUNT(v) AS BIGINT) AS n_present,
       CAST(COUNT(*) - COUNT(v) AS BIGINT) AS n_missing,
       ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(v), 6) AS mean_val,
       CAST(MIN(v) AS BIGINT) AS min_val,
       CAST(MAX(v) AS BIGINT) AS max_val
FROM cells
GROUP BY doc_id, rn, ni, nj
ORDER BY doc_id
""",
)
def grid_grib1_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GRIB1 ingest path end-to-end — the reference's actual input
    format, decoded by the engine's pure-Python codec instead of wgrib
    (/root/reference/src/file-conversions.js:114-127: ``wgrib input -d
    record_number -grib`` extracts one record; downstream cdo/gdal read
    it). Per selected document a 3-record GRIB1 FILE is synthesized
    executor-side (real Section 0/1/2/3/4 bytes: IBM-float reference
    value, signed-magnitude scale factors, bit-packed increments, record
    2 bitmap-masked), then the REAL ``select_record`` (wgrib -d parity,
    1-based scan of concatenated messages) and ``decode_grib1`` run
    through Arrow/mapInPandas plumbing, and per-record statistics
    aggregate JVM-side from the decoded value array.

    The oracle never sees a byte of GRIB: it restates the synthetic
    field + bitmap closed-form, so the hash gate proves bytes → record
    scan → section parse → bitmap mask → unpack → Y=(R+X·2^E)/10^D is
    exactly the declared arithmetic (E=1 and a nonzero R are chosen so a
    codec that ignored either would fail the hash, and the witnessed
    ``lat_first_mdeg`` pins GDS header parsing).

    Scale: GRIB payload bytes stay executor-side in Arrow batches — the
    shuffle after decode carries only per-record statistic rows, never
    rasters; files decode independently (embarrassingly parallel scan,
    the 100 TB archive shape). Python is sanctioned here: this IS the
    byte-codec boundary, like the PPM/PCM queries.
    """
    from ..grid.grib1 import decode_grib1, select_record

    def decode(d: int, buf: bytes):
        rn = 1 + (d // 3) % 3
        rec = decode_grib1(select_record(buf, rn))
        yield {
            "record_number": rn,
            "ni": rec.ni,
            "nj": rec.nj,
            "lat_first_mdeg": rec.lat_first_mdeg,
            "values": rec.values.reshape(-1).tolist(),
        }

    decoded = doc_archives(
        spark, sf_dir, (3, 2, 300), _synth_grib1_file, decode,
        "record_number int, ni int, nj int, lat_first_mdeg int, "
        "values array<double>",
    )
    present = F.filter("values", _present)
    return decoded.select(
        "doc_id",
        "record_number",
        "ni",
        "nj",
        "lat_first_mdeg",
        present.alias("pv"),
        F.size("values").alias("n_cells"),
    ).select(
        "doc_id",
        "record_number",
        "ni",
        "nj",
        "lat_first_mdeg",
        F.size("pv").cast("bigint").alias("n_present"),
        (F.col("n_cells") - F.size("pv")).cast("bigint").alias("n_missing"),
        F.round(
            F.aggregate("pv", F.lit(0).cast("bigint"), lambda a, x: a + x.cast("bigint"))
            .cast("double")
            / F.size("pv"),
            6,
        ).alias("mean_val"),
        F.array_min("pv").cast("bigint").alias("min_val"),
        F.array_max("pv").cast("bigint").alias("max_val"),
    ).orderBy("doc_id")


# --- GRIB1 normals → anomaly, end-to-end from bytes ------------------------
# 36 monthly records (3 years × 12 months) on a fixed 12×8 grid; cell
# (i, j) of month m is 100 + 2*((m*17 + i*3 + j*5) % 50) — even steps so
# the R=100/E=1 packing round-trips bit-exactly (see grid_grib1_decode).
_GRIB_ANOM_MONTHS = 36
_GRIB_ANOM_NI = 12
_GRIB_ANOM_NJ = 8


@query(
    "grid_grib1_anomaly",
    tags=("grid", "codec", "python", "join", "agg"),
    oracle=f"""
WITH cells AS (
  SELECT m.m AS m, m.m % 12 AS mo, i.i AS i, j.j AS j,
         100 + 2 * ((m.m * 17 + i.i * 3 + j.j * 5) % 50) AS v
  FROM UNNEST(generate_series(0, {_GRIB_ANOM_MONTHS - 1})) AS m(m),
       UNNEST(generate_series(0, {_GRIB_ANOM_NI - 1})) AS i(i),
       UNNEST(generate_series(0, {_GRIB_ANOM_NJ - 1})) AS j(j)
),
normals AS (
  SELECT mo, i, j, AVG(CAST(v AS DOUBLE)) AS normal
  FROM cells GROUP BY mo, i, j
),
latest AS (
  SELECT mo, i, j, v FROM cells WHERE m >= 24
)
SELECT CAST(l.mo + 1 AS INTEGER) AS month,
       CAST(90000 - l.j * 1000 AS INTEGER) AS lat_mdeg,
       CAST(l.i * 1000 AS INTEGER) AS lon_mdeg,
       ROUND(l.v - n.normal, 6) AS anomaly
FROM latest l JOIN normals n ON l.mo = n.mo AND l.i = n.i AND l.j = n.j
ORDER BY month, lat_mdeg DESC, lon_mdeg
""",
)
def grid_grib1_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE grib1_normal + grib1_anomaly export path
    (/root/reference/src/file-conversions.js:16-47: record extract →
    ``cdo timmean`` climatological normal → ``cdo sub`` anomaly) run
    end-to-end FROM GRIB BYTES by the engine: 36 monthly single-record
    GRIB1 files are synthesized executor-side (one file per month — the
    archive layout), decoded through the real codec in mapInPandas, and
    the normals (per calendar-month mean over 3 years) and anomaly
    (latest year − normal) are JVM-side aggregation + equi-join over
    the decoded cells — A1 and J1 fed by S5's binary scan.

    Grid georeferencing is witnessed: output lat/lon come from the
    decoded GDS (lat_first − j·dlat, lon_first + i·dlon), and the month
    column from each record's decoded PDS reference time — a codec that
    mangled either header would fail the hash even with correct values.

    Scale: one file per month decodes independently (embarrassingly
    parallel); the normals aggregate carries |months × cells| rows into
    a per-(calendar-month, cell) mean and the anomaly is an equi-join on
    (month, cell) — the exact plan era5_monthly_anomaly runs on parquet,
    now fed by the binary scan. Fixture-independent lattice (like
    grid_hillshade): the archive is synthesized, not read from sf_dir.
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from ..grid.grib1 import decode_grib1, encode_grib1_message

    months = spark.range(_GRIB_ANOM_MONTHS).select(F.col("id").alias("m"))

    def synth(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        i = np.arange(_GRIB_ANOM_NI)[None, :]
        j = np.arange(_GRIB_ANOM_NJ)[:, None]
        for pdf in batches:
            rows = []
            for m in pdf["m"]:
                m = int(m)
                v = 100 + 2 * ((m * 17 + i * 3 + j * 5) % 50)
                rows.append(
                    {
                        "m": m,
                        "grib": encode_grib1_message(
                            v.astype(np.float64),
                            parameter=11,
                            reftime=(2018 + m // 12, m % 12 + 1, 1, 0, 0),
                            reference_value=100.0,
                            binary_scale=1,
                            nbits=8,
                        ),
                    }
                )
            yield pd.DataFrame(rows)

    def decode(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            out = []
            for m, buf in zip(pdf["m"], pdf["grib"]):
                rec = decode_grib1(bytes(buf))
                yy, mo = rec.reftime[0], rec.reftime[1]
                for j in range(rec.nj):
                    lat = rec.lat_first_mdeg - j * rec.dlat_mdeg
                    for i in range(rec.ni):
                        out.append(
                            {
                                "year": yy,
                                "month": mo,
                                "lat_mdeg": lat,
                                "lon_mdeg": rec.lon_first_mdeg + i * rec.dlon_mdeg,
                                "v": float(rec.values[j, i]),
                            }
                        )
            yield pd.DataFrame(out)

    files = months.mapInPandas(synth, schema="m bigint, grib binary")
    cells = files.mapInPandas(
        decode,
        schema="year int, month int, lat_mdeg int, lon_mdeg int, v double",
    )
    normals = cells.groupBy("month", "lat_mdeg", "lon_mdeg").agg(
        F.avg("v").alias("normal")
    )
    latest = cells.filter(F.col("year") == 2020).select(
        "month", "lat_mdeg", "lon_mdeg", "v"
    )
    return (
        latest.join(normals, ["month", "lat_mdeg", "lon_mdeg"])
        .select(
            "month",
            "lat_mdeg",
            "lon_mdeg",
            F.round(F.col("v") - F.col("normal"), 6).alias("anomaly"),
        )
        .orderBy("month", F.desc("lat_mdeg"), "lon_mdeg")
    )


@query(
    "grid_grib1_inventory",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id,
         8 + doc_id % 5 AS ni,
         4 + doc_id % 4 AS nj
  FROM documents WHERE doc_id % 3 = 2 AND doc_id < 300
),
recs AS (
  SELECT doc_id, ni, nj, r.r AS r
  FROM g, UNNEST(generate_series(0, 2)) AS r(r)
)
SELECT doc_id,
       CAST(r + 1 AS INTEGER) AS record_number,
       CAST(11 + r AS INTEGER) AS parameter,
       CAST(2020 AS INTEGER) AS year,
       CAST(1 AS INTEGER) AS month,
       CAST(ni AS INTEGER) AS ni,
       CAST(nj AS INTEGER) AS nj,
       CAST(8 AS INTEGER) AS nbits,
       r = 1 AS has_bitmap
FROM recs ORDER BY doc_id, record_number
""",
)
def grid_grib1_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``wgrib``'s record inventory as a query: list every record of
    every archive file — number, parameter, reference time, grid shape,
    packing width, bitmap flag — by parsing ONLY the fixed-size headers
    (PDS/GDS + section lengths), never unpacking a value bit
    (``grib1.inspect_grib1``). This is the projection-pushdown story for
    binary formats: the reference picks records by inventory position
    before extracting (/root/reference/src/file-conversions.js:120-127),
    and at 100 TB the inventory pass reads a few hundred bytes per
    record instead of the raster payload. Same synthetic 3-record files
    as ``grid_grib1_decode``; the oracle restates the header fields
    closed-form.
    """
    from ..grid.grib1 import inspect_grib1, iter_messages

    def inventory(d: int, buf: bytes):
        for n, msg in enumerate(iter_messages(buf), start=1):
            h = inspect_grib1(msg)
            yield {
                "record_number": n,
                "parameter": h["parameter"],
                "year": h["year"],
                "month": h["month"],
                "ni": h["ni"],
                "nj": h["nj"],
                "nbits": h["nbits"],
                "has_bitmap": h["has_bitmap"],
            }

    return doc_archives(
        spark, sf_dir, (3, 2, 300), _synth_grib1_file, inventory,
        "record_number int, parameter int, year int, month int, ni int, "
        "nj int, nbits int, has_bitmap boolean",
    ).orderBy("doc_id", "record_number")


# --- GRIB2 regex match + decode -------------------------------------------
# Synthetic GRIB2 archive: doc d's file holds 4 records r=0..3 with
# category r % 2 and number r; cell (i, j) of record r is
# 200 + 2*((d*11 + r*7 + i*5 + j*3) % 100) (R=200, E=1, 8-bit — exact).
# The query runs wgrib2's selection: -match "c{d%2}," -limit 2, so the
# selected records are r = (d % 2) + 2·(rank − 1) for rank 1, 2.


@query(
    "grid_grib2_match_decode",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id,
         6 + doc_id % 4 AS ni,
         4 + doc_id % 3 AS nj,
         doc_id % 2 AS c
  FROM documents WHERE doc_id % 3 = 1 AND doc_id < 300
),
recs AS (
  SELECT doc_id, ni, nj, c, k.k + 1 AS match_rank, c + 2 * k.k AS r
  FROM g, UNNEST(generate_series(0, 1)) AS k(k)
),
cells AS (
  SELECT doc_id, match_rank, c, r, ni, nj,
         200 + 2 * ((doc_id * 11 + r * 7 + i.i * 5 + j.j * 3) % 100) AS v
  FROM recs,
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj - 1)) AS j) j
)
SELECT doc_id,
       CAST(match_rank AS INTEGER) AS match_rank,
       CAST(c AS INTEGER) AS category,
       CAST(r AS INTEGER) AS number,
       CAST(ni * nj AS BIGINT) AS n_cells,
       ROUND(CAST(SUM(v) AS DOUBLE) / (ni * nj), 6) AS mean_val,
       CAST(MIN(v) AS BIGINT) AS min_val,
       CAST(MAX(v) AS BIGINT) AS max_val
FROM cells
GROUP BY doc_id, match_rank, c, r, ni, nj
ORDER BY doc_id, match_rank
""",
)
def grid_grib2_match_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's GRIB2 ingest path end-to-end — ``wgrib2 input
    -match <regex> -limit <n> -grib``
    (/root/reference/src/file-conversions.js:75-99) replaced by the
    engine's pure-Python edition-2 codec (grid/grib2.py): per document a
    4-record GRIB2 FILE is synthesized executor-side (real section 0-8
    bytes: IEEE-float reference value, signed-magnitude 16/32-bit scale
    factors and microdegree coordinates, templates 3.0/4.0/5.0), records
    are selected by REGEX over wgrib2-style inventory lines with a count
    limit, and each selected record decodes through Arrow/mapInPandas
    with statistics aggregated JVM-side.

    The oracle restates the synthetic field and the match arithmetic
    (selected r = (d mod 2) + 2·(rank−1)) closed-form — the hash gate
    proves scan → inventory render → regex match → limit → section
    parse → unpack is exactly the declared semantics. Witnessed
    category/number columns pin Section-4 parsing.

    Scale: same embarrassingly-parallel shape as grid_grib1_decode —
    payload bytes never shuffle; the regex runs over header-derived
    inventory strings only (a few hundred bytes per record), so at
    archive scale matching costs metadata, not raster I/O.
    """
    import numpy as np

    from ..grid.grib2 import decode_grib2, encode_grib2_message, match_records

    def build(d: int) -> bytes:
        ni, nj = 6 + d % 4, 4 + d % 3
        i = np.arange(ni)[None, :]
        j = np.arange(nj)[:, None]
        msgs = []
        for r in range(4):
            v = 200 + 2 * ((d * 11 + r * 7 + i * 5 + j * 3) % 100)
            msgs.append(
                encode_grib2_message(
                    v.astype(np.float64),
                    category=r % 2,
                    number=r,
                    reference_value=200.0,
                    binary_scale=1,
                    nbits=8,
                )
            )
        return b"".join(msgs)

    def match_decode(d: int, buf: bytes):
        for rank, msg in enumerate(
            match_records(buf, f"c{d % 2},", limit=2), start=1
        ):
            rec = decode_grib2(msg)
            yield {
                "match_rank": rank,
                "category": rec.category,
                "number": rec.number,
                "values": rec.values.reshape(-1).tolist(),
            }

    decoded = doc_archives(
        spark, sf_dir, (3, 1, 300), build, match_decode,
        "match_rank int, category int, number int, values array<double>",
    )
    return decoded.select(
        "doc_id",
        "match_rank",
        "category",
        "number",
        F.size("values").cast("bigint").alias("n_cells"),
        F.round(
            F.aggregate("values", F.lit(0).cast("bigint"), lambda a, x: a + x.cast("bigint"))
            .cast("double")
            / F.size("values"),
            6,
        ).alias("mean_val"),
        F.array_min("values").cast("bigint").alias("min_val"),
        F.array_max("values").cast("bigint").alias("max_val"),
    ).orderBy("doc_id", "match_rank")


# --- GRIB1 landing-directory scan (the file-based ingest entry) ------------
# 12 monthly .grib files, each holding 2 records (parameter 11 = temp,
# 61 = precip); cell (i, j) of month m, parameter index p is
# 100 + 50·p + 2·((m·17 + p·23 + i·3 + j·5) % 50) on a 10×6 grid
# (R=100+50p, E=1, 8-bit — bit-exact decode).
_LANDING_MONTHS = 12
_LANDING_NI = 10
_LANDING_NJ = 6
_LANDING_PARAMS = (11, 61)


def ensure_grib1_landing(
    spark: SparkSession, sf_dir: str, n_months: int = _LANDING_MONTHS
) -> str:
    """Write the shared GRIB1 landing directory once per session (a
    ``session_cache.scratch_tree``) and return its path. The default
    12-month landing (year 2020) feeds the batch landing scan AND the
    streaming anomaly pipeline; the 36-month form (2020-2022, month
    index t continuing the same formula) feeds the byte-real flagship,
    whose normals need multiple years per calendar month. Year 2020 is
    always t=0-11, so the 12-month landing is exactly the 36-month
    landing's first year."""
    import numpy as np

    from ..grid.grib1 import encode_grib1_message
    from ..session_cache import scratch_tree

    def build(base: str) -> None:
        landing = os.path.join(base, "landing")
        os.makedirs(landing)
        i = np.arange(_LANDING_NI)[None, :]
        j = np.arange(_LANDING_NJ)[:, None]
        for t in range(n_months):
            year, month = 2020 + t // 12, t % 12 + 1
            msgs = []
            for p, param in enumerate(_LANDING_PARAMS):
                v = 100 + 50 * p + 2 * ((t * 17 + p * 23 + i * 3 + j * 5) % 50)
                msgs.append(
                    encode_grib1_message(
                        v.astype(np.float64),
                        parameter=param,
                        reftime=(year, month, 1, 0, 0),
                        reference_value=float(100 + 50 * p),
                        binary_scale=1,
                        nbits=8,
                    )
                )
            with open(os.path.join(landing, f"era5_{year}_{month:02d}.grib"), "wb") as f:
                f.write(b"".join(msgs))

    base = scratch_tree(spark, f"mdi_grib_landing_{n_months}", build, sf_dir)
    return os.path.join(base, "landing")


@query(
    "grid_grib1_landing_scan",
    tags=("grid", "codec", "python", "ingest", "agg"),
    oracle=f"""
WITH cells AS (
  SELECT m.m AS m, p.p AS p, i.i AS i, j.j AS j,
         100 + 50 * p.p + 2 * ((m.m * 17 + p.p * 23 + i.i * 3 + j.j * 5) % 50) AS v
  FROM UNNEST(generate_series(0, {_LANDING_MONTHS - 1})) AS m(m),
       UNNEST(generate_series(0, 1)) AS p(p),
       UNNEST(generate_series(0, {_LANDING_NI - 1})) AS i(i),
       UNNEST(generate_series(0, {_LANDING_NJ - 1})) AS j(j)
)
SELECT CAST(m + 1 AS INTEGER) AS month,
       CAST(CASE WHEN p = 0 THEN 11 ELSE 61 END AS INTEGER) AS parameter,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS mean_val,
       CAST(MIN(v) AS BIGINT) AS min_val,
       CAST(MAX(v) AS BIGINT) AS max_val
FROM cells GROUP BY m, p ORDER BY month, parameter
""",
)
def grid_grib1_landing_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The file-based ingest entry, end-to-end on REAL FILES: a landing
    directory of 12 monthly ``.grib`` downloads (written once per
    session by the engine's own encoder) is scanned with Spark's
    binaryFile source, every record decodes through
    ``sources/grib_source.grib1_records`` (one Arrow stage), explodes to
    georeferenced cells JVM-side (``grib1_cells``), and aggregates per
    (month, parameter) — the reference's landing-area read
    (/root/reference/src/sources/era5monthly.js:172-195 downloads GRIB
    files; every downstream step reads those bytes). Unlike
    grid_grib1_decode (bytes synthesized in-plan), THIS query's bytes
    travel through the filesystem and the binaryFile scan — the actual
    "point the engine at a download directory" path, streaming-ready via
    ``grib1_records_stream`` (tests/test_grib_source.py proves
    batch ≡ streaming over the same landing).

    Scale: binaryFile splits by file → one decode task per month-file,
    the archive's natural work unit; only aggregated rows shuffle.
    Fixture-independent (the landing is the engine's own data model).
    """
    from ..sources.grib_source import grib1_cells, grib1_records

    cells = grib1_cells(grib1_records(spark, ensure_grib1_landing(spark, sf_dir)))
    return (
        cells.groupBy("month", "parameter")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.round(
                F.sum(F.col("value").cast("bigint")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_val"),
            F.min(F.col("value").cast("bigint")).alias("min_val"),
            F.max(F.col("value").cast("bigint")).alias("max_val"),
        )
        .orderBy("month", "parameter")
    )


# --- GRIB2 non-simple packing decode (templates 5.2 / 5.3 / 5.41) ----------
# Per selected document a 4-record GRIB2 file: record r's cell (i, j) is
# 150 + 2*((d*13 + r*7 + i*5 + j*3) % 80) — even steps, R=150, E=1, so
# the packed integer increments round-trip BIT-EXACTLY. Record 1 packs
# with template 5.2; record 2 packs 5.2 WITH missing-value management 1
# (cells where (i*2 + j + d) % 5 == 0 ride in-data as all-ones
# substitutions, NO section-6 bitmap); record 3 packs 5.3 with spatial
# differencing of order 1 + d%2; record 4 packs 5.41 (the field as one
# PNG image).


@query(
    "grid_grib2_complex_decode",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id,
         6 + doc_id % 5 AS ni,
         3 + doc_id % 3 AS nj
  FROM documents WHERE doc_id % 3 = 0 AND doc_id < 300
),
cells AS (
  SELECT doc_id, ni, nj, r.r + 1 AS rn,
         CASE WHEN r.r = 1 AND (i.i * 2 + j.j + doc_id) % 5 = 0 THEN NULL
              ELSE 150 + 2 * ((doc_id * 13 + r.r * 7 + i.i * 5 + j.j * 3) % 80)
         END AS v
  FROM g,
       UNNEST(generate_series(0, 3)) AS r(r),
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj - 1)) AS j) j
)
SELECT doc_id,
       CAST(rn AS INTEGER) AS record_number,
       CAST(CASE rn WHEN 3 THEN 3 WHEN 4 THEN 41 ELSE 2 END AS INTEGER) AS tmpl,
       CAST(COUNT(v) AS BIGINT) AS n_present,
       CAST(COUNT(*) - COUNT(v) AS BIGINT) AS n_missing,
       ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(v), 6) AS mean_val,
       CAST(MIN(v) AS BIGINT) AS min_val,
       CAST(MAX(v) AS BIGINT) AS max_val
FROM cells
GROUP BY doc_id, rn
ORDER BY doc_id, rn
""",
)
def grid_grib2_complex_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRIB2 COMPLEX packing end-to-end — the representation real
    operational archives (GFS, most ERA5 GRIB2 products) actually use,
    which the reference reads through wgrib2
    (/root/reference/src/file-conversions.js:49-51,76-112). Per selected
    document a 3-record GRIB2 file is synthesized executor-side: record
    1 = template 5.2 (general group splitting: per-group references and
    widths, byte-aligned runs, continuous value stream), record 2 =
    5.2 + missing-value management 1 (missing cells ride IN the packed
    data as all-ones substitutions — no section-6 bitmap), record 3 =
    template 5.3 (spatial differencing, order 1 + d%2, signed-magnitude
    initial values and difference minimum), record 4 = template 5.41
    (PNG packing: the scaled field as one big-endian grayscale PNG —
    stdlib-zlib codec, the wgrib2/g2clib convention NCEP MRMS products
    use). Every record decodes through
    the engine's pure-Python codec in one Arrow stage; statistics
    aggregate JVM-side.

    The oracle restates the synthetic field + missing rule closed-form
    and never touches a byte — the hash gate proves group splitting,
    width/reference reconstruction, missing substitution, and
    difference integration are exactly the declared arithmetic. The
    witnessed ``tmpl`` column pins that the 5.2/5.3 branch (not a
    simple-packing fallback) produced each record.

    Scale: identical posture to grid_grib1_decode — payload bytes stay
    executor-side, only per-record statistic rows shuffle, files decode
    embarrassingly parallel.
    """
    import numpy as np

    from ..grid.grib2 import decode_grib2, encode_grib2_message, iter_messages2

    def build(d: int) -> bytes:
        ni, nj = 6 + d % 5, 3 + d % 3
        i = np.arange(ni)[None, :]
        j = np.arange(nj)[:, None]
        msgs = []
        for r in range(4):
            v = (150 + 2 * ((d * 13 + r * 7 + i * 5 + j * 3) % 80)).astype(
                np.float64
            )
            kw = dict(
                reference_value=150.0,
                binary_scale=1,
                group_len=4 + d % 5,
                category=r,
                number=r,
            )
            if r == 1:
                mm = (i * 2 + j + d) % 5 == 0
                msgs.append(
                    encode_grib2_message(
                        v, packing="complex",
                        missing_mask=mm | np.zeros_like(v, bool), **kw,
                    )
                )
            elif r == 2:
                msgs.append(
                    encode_grib2_message(
                        v, packing="complex_diff",
                        spatial_diff_order=1 + d % 2, **kw,
                    )
                )
            elif r == 3:
                msgs.append(encode_grib2_message(v, packing="png", **kw))
            else:
                msgs.append(encode_grib2_message(v, packing="complex", **kw))
        return b"".join(msgs)

    def decode(d: int, buf: bytes):
        for rn, msg in enumerate(iter_messages2(buf), start=1):
            rec = decode_grib2(msg)
            yield {
                "record_number": rn,
                "tmpl": rec.packing_template,
                "values": rec.values.reshape(-1).tolist(),
            }

    decoded = doc_archives(
        spark, sf_dir, (3, 0, 300), build, decode,
        "record_number int, tmpl int, values array<double>",
    )
    present = F.filter("values", _present)
    return decoded.select(
        "doc_id",
        "record_number",
        "tmpl",
        present.alias("pv"),
        F.size("values").alias("n_cells"),
    ).select(
        "doc_id",
        "record_number",
        "tmpl",
        F.size("pv").cast("bigint").alias("n_present"),
        (F.col("n_cells") - F.size("pv")).cast("bigint").alias("n_missing"),
        F.round(
            F.aggregate("pv", F.lit(0).cast("bigint"), lambda a, x: a + x.cast("bigint"))
            .cast("double")
            / F.size("pv"),
            6,
        ).alias("mean_val"),
        F.array_min("pv").cast("bigint").alias("min_val"),
        F.array_max("pv").cast("bigint").alias("max_val"),
    ).orderBy("doc_id", "record_number")


# --- GRIB2 JPEG2000 (template 5.40) decode ---------------------------------
# Per selected document a 3-record GRIB2 file, grids (10 + d%6) x
# (4 + d%4), record r's cell (i, j) being
# 150 + 2*((d*11 + r*17 + i*3 + j*7) % m_r), m_r = 90 for records 1-2
# and 5000 (a ~13-bit field) for record 3.  Record 2 carries a
# section-6 bitmap hiding cells where (i + 2*j + d) % 4 == 0.


@query(
    "grid_grib2_jpeg2000_decode",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id,
         10 + doc_id % 6 AS ni,
         4 + doc_id % 4 AS nj
  FROM documents WHERE doc_id % 7 = 2 AND doc_id < 350
),
cells AS (
  SELECT doc_id, ni, nj, r.r + 1 AS rn,
         CASE WHEN r.r = 1 AND (i.i + 2 * j.j + doc_id) % 4 = 0 THEN NULL
              ELSE 150 + 2 * ((doc_id * 11 + r.r * 17 + i.i * 3 + j.j * 7)
                              % (CASE WHEN r.r = 2 THEN 5000 ELSE 90 END))
         END AS v,
         j.j * ni + i.i AS pos
  FROM g,
       UNNEST(generate_series(0, 2)) AS r(r),
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj - 1)) AS j) j
)
SELECT doc_id,
       CAST(rn AS INTEGER) AS record_number,
       CAST(40 AS INTEGER) AS tmpl,
       CAST(COUNT(v) AS BIGINT) AS n_present,
       CAST(COUNT(*) - COUNT(v) AS BIGINT) AS n_missing,
       ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(v), 6) AS mean_val,
       CAST(SUM(v * pos) AS BIGINT) AS wsum
FROM cells
GROUP BY doc_id, rn
ORDER BY doc_id, rn
""",
)
def grid_grib2_jpeg2000_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRIB2 JPEG2000 packing (template 5.40) end-to-end — the wavelet
    representation most NCEP operational products (GFS pgrb2 among
    them) actually ship, which the reference reads through wgrib2's
    bundled g2clib + jasper (/root/reference/src/file-conversions.js:
    49-51,76-112). Per selected document a 3-record GRIB2 file is
    synthesized executor-side, every record packed as a lossless raw
    JPEG2000 codestream (grid/jpeg2000.py: reversible 5/3 DWT, EBCOT
    tier-1 MQ coding, tag-tree packet headers): record 1 = a dense
    ~8-bit field, record 2 = the same shape with a section-6 bitmap
    (missing cells NULL after expansion), record 3 = a ~13-bit field
    (multiple extra bit-planes through every coding pass). All three
    decode through the engine's pure-Python codec in one Arrow stage;
    statistics aggregate JVM-side.

    The oracle restates the synthetic field + missing rule closed-form
    and never touches a byte. The witnessed ``tmpl`` column pins that
    template 5.40 (not a simple-packing fallback) produced each
    record, and the position-weighted checksum ``wsum`` is raster-
    order SENSITIVE — a transposed DWT, a mis-assembled subband, or a
    code-block placed at the wrong offset hash-mismatches even when
    permutation-invariant stats survive.

    Scale: identical posture to grid_grib2_complex_decode — payload
    bytes stay executor-side, only per-record statistic rows shuffle,
    files decode embarrassingly parallel in Arrow batches.
    """
    import numpy as np

    from ..grid.grib2 import decode_grib2, encode_grib2_message, iter_messages2

    def build(d: int) -> bytes:
        ni, nj = 10 + d % 6, 4 + d % 4
        i = np.arange(ni)[None, :]
        j = np.arange(nj)[:, None]
        msgs = []
        for r in range(3):
            mod = 5000 if r == 2 else 90
            v = (
                150 + 2 * ((d * 11 + r * 17 + i * 3 + j * 7) % mod)
            ).astype(np.float64)
            kw = dict(
                reference_value=150.0,
                binary_scale=1,
                category=r,
                number=r,
                packing="jpeg2000",
            )
            if r == 1:
                present = (i + 2 * j + d) % 4 != 0
                msgs.append(
                    encode_grib2_message(
                        v, bitmap=present | np.zeros_like(v, bool), **kw
                    )
                )
            else:
                msgs.append(encode_grib2_message(v, **kw))
        return b"".join(msgs)

    def decode(d: int, buf: bytes):
        for rn, msg in enumerate(iter_messages2(buf), start=1):
            rec = decode_grib2(msg)
            yield {
                "record_number": rn,
                "tmpl": rec.packing_template,
                "values": rec.values.reshape(-1).tolist(),
            }

    decoded = doc_archives(
        spark, sf_dir, (7, 2, 350), build, decode,
        "record_number int, tmpl int, values array<double>",
    )
    present = F.filter("values", _present)
    weighted = F.zip_with(
        "values",
        F.sequence(F.lit(0), F.size("values") - 1),
        lambda v, idx: F.when(
            _present(v), v.cast("bigint") * idx.cast("bigint")
        ).otherwise(F.lit(0).cast("bigint")),
    )
    return decoded.select(
        "doc_id",
        "record_number",
        "tmpl",
        present.alias("pv"),
        F.size("values").alias("n_cells"),
        F.aggregate(weighted, F.lit(0).cast("bigint"), lambda a, x: a + x).alias(
            "wsum"
        ),
    ).select(
        "doc_id",
        "record_number",
        "tmpl",
        F.size("pv").cast("bigint").alias("n_present"),
        (F.col("n_cells") - F.size("pv")).cast("bigint").alias("n_missing"),
        F.round(
            F.aggregate("pv", F.lit(0).cast("bigint"), lambda a, x: a + x.cast("bigint"))
            .cast("double")
            / F.size("pv"),
            6,
        ).alias("mean_val"),
        "wsum",
    ).orderBy("doc_id", "record_number")


# --- GRIB2 Gaussian grid (template 3.40) decode -----------------------------
# Per selected document a 2-record GRIB2 file on the GLOBAL regular
# Gaussian grid F(4 + d%3) — nj = 2N parallels at the Legendre-root
# latitudes, ni = 9 + d%5 — record 1 simple-packed, record 2
# JPEG2000-packed, cell (i, j) of record r being
# 150 + 2*((d*7 + r*19 + i*5 + j*3) % 70).  The oracle's latitude
# table is computed with numpy's INDEPENDENT Gauss-Legendre
# implementation (np.polynomial.legendre.leggauss), so the engine's
# own Newton/Bonnet root finder is witnessed against a second
# implementation, not against itself.


def _gauss_lat_values_sql() -> str:
    import numpy as np

    rows = []
    for n in (4, 5, 6):
        x, _ = np.polynomial.legendre.leggauss(2 * n)
        lats = np.degrees(np.arcsin(x))[::-1]  # ascending x -> north first
        for j, lat in enumerate(lats):
            rows.append(f"({n}, {j}, {int(round(float(lat) * 1e6))})")
    return ",\n       ".join(rows)


@query(
    "grid_grib2_gaussian_decode",
    tags=("grid", "codec", "python", "ingest"),
    oracle=f"""
WITH g AS (
  SELECT doc_id,
         4 + doc_id % 3 AS n,
         9 + doc_id % 5 AS ni
  FROM documents WHERE doc_id % 11 = 3 AND doc_id < 440
),
lat(n, j, lat_udeg) AS (
  VALUES {_gauss_lat_values_sql()}
),
lsum AS (
  SELECT g.doc_id,
         MIN(CASE WHEN l.j = 0 THEN l.lat_udeg END) AS lat0_udeg,
         SUM(l.lat_udeg * (l.j + 1)) AS latwsum
  FROM g JOIN lat l ON l.n = g.n
  GROUP BY g.doc_id
),
cells AS (
  SELECT doc_id, n, ni, r.r + 1 AS rn,
         150 + 2 * ((doc_id * 7 + r.r * 19 + i.i * 5 + j.j * 3) % 70) AS v,
         j.j * ni + i.i AS pos
  FROM g,
       UNNEST(generate_series(0, 1)) AS r(r),
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, 2 * n - 1)) AS j) j
)
SELECT c.doc_id,
       CAST(c.rn AS INTEGER) AS record_number,
       CAST(CASE c.rn WHEN 2 THEN 40 ELSE 0 END AS INTEGER) AS tmpl,
       CAST(MIN(c.n) AS INTEGER) AS gaussian_n,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(c.v) AS BIGINT) AS vsum,
       CAST(SUM(c.v * c.pos) AS BIGINT) AS wsum,
       CAST(MIN(ls.lat0_udeg) AS BIGINT) AS lat0_udeg,
       CAST(MIN(ls.latwsum) AS BIGINT) AS latwsum
FROM cells c JOIN lsum ls ON ls.doc_id = c.doc_id
GROUP BY c.doc_id, c.rn
ORDER BY c.doc_id, c.rn
""",
)
def grid_grib2_gaussian_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRIB2 GAUSSIAN grid decode (grid template 3.40) — ERA5's native
    geometry and every ECMWF F-grid, which the reference's wgrib2 path
    handles natively (/root/reference/src/file-conversions.js:49-51,
    76-112). Per selected document a 2-record file on the global
    F(4 + d%3) grid is synthesized executor-side (record 1 simple-
    packed, record 2 JPEG2000-packed — geometry composes with every
    data representation); the engine's pure-Python codec decodes both
    and recovers the row latitudes as the arcsin roots of Legendre
    P_2N via its own Newton/Bonnet iteration (grid/grib2.py::
    gaussian_latitudes).

    Witness independence: the oracle's latitude table is generated
    with numpy's Gauss-Legendre implementation — a SECOND root finder
    — rounded to integer microdegrees, so ``lat0_udeg`` and the
    row-weighted ``latwsum`` certify the engine's quadrature nodes
    against an independent implementation, exactly (integer compare,
    no float-hash tolerance). ``wsum`` stays raster-order sensitive
    for the value payload; ``tmpl`` pins that record 2 really took the
    5.40 branch on the Gaussian geometry.

    Scale: the landing posture of every codec query — payload bytes
    executor-side, statistics rows shuffle, files embarrassingly
    parallel. Latitude recovery is O(nj^2) arithmetic on metadata, not
    data (nj rows, never Ni*Nj cells).
    """
    import numpy as np

    from ..grid.grib2 import decode_grib2, encode_grib2_message, iter_messages2

    def build(d: int) -> bytes:
        n, ni = 4 + d % 3, 9 + d % 5
        i = np.arange(ni)[None, :]
        j = np.arange(2 * n)[:, None]
        msgs = []
        for r in range(2):
            v = (
                150 + 2 * ((d * 7 + r * 19 + i * 5 + j * 3) % 70)
            ).astype(np.float64)
            msgs.append(
                encode_grib2_message(
                    v,
                    gaussian=True,
                    packing="jpeg2000" if r == 1 else "simple",
                    reference_value=150.0,
                    binary_scale=1,
                    category=r,
                    number=r,
                )
            )
        return b"".join(msgs)

    def decode(d: int, buf: bytes):
        for rn, msg in enumerate(iter_messages2(buf), start=1):
            rec = decode_grib2(msg)
            yield {
                "record_number": rn,
                "tmpl": rec.packing_template,
                "gaussian_n": rec.gaussian_n,
                "values": rec.values.reshape(-1).tolist(),
                "lats": rec.latitudes_deg.tolist(),
            }

    decoded = doc_archives(
        spark, sf_dir, (11, 3, 440), build, decode,
        "record_number int, tmpl int, gaussian_n int, values array<double>, "
        "lats array<double>",
    )
    lat_udeg = F.transform(
        "lats", lambda x: F.round(x * F.lit(1e6)).cast("bigint")
    )
    lat_weighted = F.zip_with(
        lat_udeg,
        F.sequence(F.lit(1), F.size("lats")),
        lambda lu, j: lu * j.cast("bigint"),
    )
    zero = F.lit(0).cast("bigint")
    return decoded.select(
        "doc_id",
        "record_number",
        "tmpl",
        "gaussian_n",
        F.size("values").cast("bigint").alias("n_cells"),
        vsum(),
        wsum(),
        F.element_at(lat_udeg, 1).alias("lat0_udeg"),
        F.aggregate(lat_weighted, zero, lambda a, x: a + x).alias("latwsum"),
    ).orderBy("doc_id", "record_number")


# --- GRIB2 Lambert conformal (template 3.30) decode -------------------------
# Per selected document a 2-record GRIB2 file on an HRRR-like Lambert
# grid: record 1 tangent cone (latin1 == latin2 == 38.5), record 2
# secant cone (33/45), both anchored at La1/Lo1 = (21.138, -122.72)
# with Dx = Dy = 3000·(1 + d%3) m, scanning 0x40 (+x east, +y north —
# the HRRR convention), ni = 8 + d%4, nj = 5 + d%3, cell (i, j) of
# record r being 140 + 2*((d*5 + r*23 + i*7 + j*11) % 60).


def _lcc_psi(phi):
    import math

    return math.log(math.tan(math.pi / 4 + phi / 2))


def _lcc_setup_isometric(lad, latin1, latin2, radius):
    """Cone constant n, R·F, and rho0 via the ISOMETRIC-latitude
    formulation (psi = ln tan(pi/4 + phi/2); rho = R F e^(-n psi)) —
    algebraically equal to the engine's tan-power Snyder form
    (grid/grib2.py::_lambert_setup) but implementationally distinct, so
    the oracle's embedded coordinates are a second implementation, not
    the engine talking to itself.  tests/test_grib2.py imports these
    helpers — witness independence is from the ENGINE, so the test and
    the oracle generator may share one second implementation."""
    import math

    p1, p2 = math.radians(latin1), math.radians(latin2)
    if abs(p1 - p2) < 1e-12:
        n = math.sin(p1)
    else:
        n = math.log(math.cos(p1) / math.cos(p2)) / (_lcc_psi(p2) - _lcc_psi(p1))
    rf = radius * math.cos(p1) * math.exp(n * _lcc_psi(p1)) / n
    rho0 = rf * math.exp(-n * _lcc_psi(math.radians(lad)))
    return n, rf, rho0


def _lcc_forward_isometric(lat, lon, lad, lov, latin1, latin2, radius):
    import math

    n, rf, rho0 = _lcc_setup_isometric(lad, latin1, latin2, radius)
    rho = rf * math.exp(-n * _lcc_psi(math.radians(lat)))
    theta = n * math.radians(lon - lov)
    return rho * math.sin(theta), rho0 - rho * math.cos(theta)


def _lcc_inverse_isometric(x, y, lad, lov, latin1, latin2, radius):
    import math

    n, rf, rho0 = _lcc_setup_isometric(lad, latin1, latin2, radius)
    rho = math.hypot(x, rho0 - y)
    theta = math.atan2(x, rho0 - y)
    psi_pt = -math.log(rho / rf) / n
    lat = math.degrees(2 * math.atan(math.exp(psi_pt)) - math.pi / 2)
    lon = lov + math.degrees(theta / n)
    return lat, (lon + 180.0) % 360.0 - 180.0


def _projected_stats(decoded: DataFrame, keys: tuple) -> DataFrame:
    """Shared tail of the projected-grid codec queries: value stats, the
    raster-order-sensitive wsum, and anchor/far-corner coordinates in
    integer microdegrees."""

    def udeg(c):
        return F.round(F.col(c) * F.lit(1e6)).cast("bigint")

    return decoded.select(
        *keys,
        F.size("values").cast("bigint").alias("n_cells"),
        vsum(),
        wsum(),
        udeg("lat0").alias("lat0_udeg"),
        udeg("lon0").alias("lon0_udeg"),
        udeg("corner_lat").alias("corner_lat_udeg"),
        udeg("corner_lon").alias("corner_lon_udeg"),
    ).orderBy(*[k for k in keys if k != "grid_tmpl"])


_PROJECTED_CELLS_SCHEMA = (
    "grid_tmpl int, values array<double>, lat0 double, lon0 double, "
    "corner_lat double, corner_lon double"
)


def _projected_cells(d: int, buf: bytes):
    """``doc_archives`` decoder shared by the single-record projected-grid
    queries: per GRIB2 record its template, raster-order values, and the
    anchor and far-corner cell coordinates :func:`_projected_stats` reads."""
    from ..grid.grib2 import decode_grib2, iter_messages2

    for msg in iter_messages2(buf):
        rec = decode_grib2(msg)
        yield {
            "grid_tmpl": rec.grid_template,
            "values": rec.values.reshape(-1).tolist(),
            "lat0": float(rec.cell_lats_deg[0, 0]),
            "lon0": float(rec.cell_lons_deg[0, 0]),
            "corner_lat": float(rec.cell_lats_deg[-1, -1]),
            "corner_lon": float(rec.cell_lons_deg[-1, -1]),
        }


_LCC_BASE = dict(la1=21.138, lo1=-122.72, lad=38.5, lov=-97.5)
_LCC_RADIUS = 6_371_229.0


def _lcc_parallels(rn: int) -> tuple[float, float]:
    return (38.5, 38.5) if rn == 1 else (33.0, 45.0)


def _lcc_far_corner_values_sql() -> str:
    """(doc_id, rn, lat_udeg, lon_udeg) of cell (ni-1, nj-1), computed
    with the independent isometric-form projection above."""
    rows = []
    for d in range(0, 390):
        if d % 13 != 1:
            continue
        ni, nj = 8 + d % 4, 5 + d % 3
        dx = 3000.0 * (1 + d % 3)
        for rn in (1, 2):
            latin1, latin2 = _lcc_parallels(rn)
            x1, y1 = _lcc_forward_isometric(
                _LCC_BASE["la1"], _LCC_BASE["lo1"], _LCC_BASE["lad"],
                _LCC_BASE["lov"], latin1, latin2, _LCC_RADIUS,
            )
            lat, lon = _lcc_inverse_isometric(
                x1 + (ni - 1) * dx, y1 + (nj - 1) * dx,
                _LCC_BASE["lad"], _LCC_BASE["lov"], latin1, latin2, _LCC_RADIUS,
            )
            rows.append(
                f"({d}, {rn}, {int(round(lat * 1e6))}, {int(round(lon * 1e6))})"
            )
    return ",\n       ".join(rows)


@query(
    "grid_grib2_lambert_decode",
    tags=("grid", "codec", "python", "ingest"),
    oracle=f"""
WITH g AS (
  SELECT doc_id,
         8 + doc_id % 4 AS ni,
         5 + doc_id % 3 AS nj
  FROM documents WHERE doc_id % 13 = 1 AND doc_id < 390
),
corner(doc_id, rn, c_lat_udeg, c_lon_udeg) AS (
  VALUES {_lcc_far_corner_values_sql()}
),
cells AS (
  SELECT doc_id, ni, nj, r.r + 1 AS rn,
         140 + 2 * ((doc_id * 5 + r.r * 23 + i.i * 7 + j.j * 11) % 60) AS v,
         j.j * ni + i.i AS pos
  FROM g,
       UNNEST(generate_series(0, 1)) AS r(r),
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj - 1)) AS j) j
)
SELECT c.doc_id,
       CAST(c.rn AS INTEGER) AS record_number,
       CAST(30 AS INTEGER) AS grid_tmpl,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(c.v) AS BIGINT) AS vsum,
       CAST(SUM(c.v * c.pos) AS BIGINT) AS wsum,
       CAST(21138000 AS BIGINT) AS lat0_udeg,
       CAST(-122720000 AS BIGINT) AS lon0_udeg,
       CAST(MIN(k.c_lat_udeg) AS BIGINT) AS corner_lat_udeg,
       CAST(MIN(k.c_lon_udeg) AS BIGINT) AS corner_lon_udeg
FROM cells c JOIN corner k ON k.doc_id = c.doc_id AND k.rn = c.rn
GROUP BY c.doc_id, c.rn
ORDER BY c.doc_id, c.rn
""",
)
def grid_grib2_lambert_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRIB2 LAMBERT CONFORMAL decode (grid template 3.30) — the
    projected geometry regional operational archives (NOAA HRRR, NAM)
    ship, which the reference reads through wgrib2
    (/root/reference/src/file-conversions.js:49-51,76-112). Per
    selected document a 2-record file is synthesized executor-side:
    record 1 on a TANGENT cone (latin1 = latin2, the HRRR setup, cone
    constant n = sin phi1), record 2 on a SECANT cone (33/45) —
    both scanning 0x40 (+y north, the projected-grid convention). The
    engine's pure-Python codec decodes values in storage order and
    recovers every cell's geographic coordinates through the spherical
    Snyder inverse (grid/grib2.py::lambert_inverse).

    Witness independence: the oracle embeds the far-corner cell's
    lat/lon computed by a SECOND projection implementation (the
    isometric-latitude formulation, algebraically equal but
    implementationally distinct), rounded to integer microdegrees —
    and the published Snyder numerical example pins the engine form in
    pytest. ``lat0/lon0`` certify the grid anchor decodes to exactly
    La1/Lo1; ``corner_*`` certify Dx/Dy mesh propagation AND the
    inverse; ``wsum`` keeps the value payload raster-order sensitive.

    Scale: the codec-query posture — bytes executor-side, statistic
    rows shuffle. Coordinate recovery is vectorized numpy inside the
    Arrow stage, O(cells) with no Python-loop inner step.
    """
    import numpy as np

    from ..grid.grib2 import decode_grib2, encode_grib2_message, iter_messages2

    def build(d: int) -> bytes:
        ni, nj = 8 + d % 4, 5 + d % 3
        dx = 3000.0 * (1 + d % 3)
        i = np.arange(ni)[None, :]
        j = np.arange(nj)[:, None]
        msgs = []
        for rn in (1, 2):
            latin1, latin2 = _lcc_parallels(rn)
            v = (
                140 + 2 * ((d * 5 + (rn - 1) * 23 + i * 7 + j * 11) % 60)
            ).astype(np.float64)
            msgs.append(
                encode_grib2_message(
                    v,
                    lambert=dict(
                        _LCC_BASE, latin1=latin1, latin2=latin2,
                        dx_m=dx, dy_m=dx,
                    ),
                    scanning_mode=0x40,
                    reference_value=140.0,
                    binary_scale=1,
                    category=rn,
                    number=rn,
                )
            )
        return b"".join(msgs)

    def decode(d: int, buf: bytes):
        for rn, msg in enumerate(iter_messages2(buf), start=1):
            rec = decode_grib2(msg)
            yield {
                "record_number": rn,
                "grid_tmpl": rec.grid_template,
                "values": rec.values.reshape(-1).tolist(),
                "lat0": float(rec.cell_lats_deg[0, 0]),
                "lon0": float(rec.cell_lons_deg[0, 0]),
                "corner_lat": float(rec.cell_lats_deg[-1, -1]),
                "corner_lon": float(rec.cell_lons_deg[-1, -1]),
            }

    decoded = doc_archives(
        spark, sf_dir, (13, 1, 390), build, decode,
        "record_number int, grid_tmpl int, values array<double>, "
        "lat0 double, lon0 double, corner_lat double, corner_lon double",
    )
    return _projected_stats(
        decoded, ("doc_id", "record_number", "grid_tmpl")
    )


# --- GRIB2 polar stereographic (template 3.20) decode ------------------------
# Per selected document ONE record on a north-polar-stereographic grid
# (sea-ice / Arctic product geometry): anchor (47.5, -110), true scale
# at 60N, orientation -100, Dx = Dy = 20000*(1 + d%2) m, scanning 0x40,
# ni = 7 + d%5, nj = 5 + d%4, cell (i, j) = 200 + 2*((d*3+i*13+j*7)%55).


_PS_BASE = dict(la1=47.5, lo1=-110.0, lad=60.0, lov=-100.0)


def _ps_inverse_isometric(x, y, lad, lov, radius):
    """Independent polar-stereographic inverse via the isometric-
    latitude / exponential form (rho = 2 R k0 e^(-psi)) — algebraically
    equal to the engine's tangent-half-angle Snyder form
    (grid/grib2.py::polar_stereo_inverse), implementationally distinct
    (same witness-independence contract as _lcc_inverse_isometric)."""
    import math

    k2 = 1.0 + math.sin(math.radians(lad))
    rho = math.hypot(x, y)
    psi = math.log(radius * k2 / rho)
    lat = math.degrees(2 * math.atan(math.exp(psi)) - math.pi / 2)
    lon = lov + math.degrees(math.atan2(x, -y))
    return lat, (lon + 180.0) % 360.0 - 180.0


def _ps_far_corner_values_sql() -> str:
    """(doc_id, lat_udeg, lon_udeg) of cell (ni-1, nj-1) from the
    independent isometric-form projection."""
    import math

    rows = []
    for d in range(0, 425):
        if d % 17 != 5:
            continue
        ni, nj = 7 + d % 5, 5 + d % 4
        dx = 20000.0 * (1 + d % 2)
        k2 = 1.0 + math.sin(math.radians(_PS_BASE["lad"]))
        psi1 = math.log(
            math.tan(math.pi / 4 + math.radians(_PS_BASE["la1"]) / 2)
        )
        rho1 = _LCC_RADIUS * k2 * math.exp(-psi1)
        th1 = math.radians(_PS_BASE["lo1"] - _PS_BASE["lov"])
        x1, y1 = rho1 * math.sin(th1), -rho1 * math.cos(th1)
        lat, lon = _ps_inverse_isometric(
            x1 + (ni - 1) * dx, y1 + (nj - 1) * dx,
            _PS_BASE["lad"], _PS_BASE["lov"], _LCC_RADIUS,
        )
        rows.append(f"({d}, {int(round(lat * 1e6))}, {int(round(lon * 1e6))})")
    return ",\n       ".join(rows)


@query(
    "grid_grib2_polar_decode",
    tags=("grid", "codec", "python", "ingest"),
    oracle=f"""
WITH g AS (
  SELECT doc_id,
         7 + doc_id % 5 AS ni,
         5 + doc_id % 4 AS nj
  FROM documents WHERE doc_id % 17 = 5 AND doc_id < 425
),
corner(doc_id, c_lat_udeg, c_lon_udeg) AS (
  VALUES {_ps_far_corner_values_sql()}
),
cells AS (
  SELECT doc_id, ni, nj,
         200 + 2 * ((doc_id * 3 + i.i * 13 + j.j * 7) % 55) AS v,
         j.j * ni + i.i AS pos
  FROM g,
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj - 1)) AS j) j
)
SELECT c.doc_id,
       CAST(20 AS INTEGER) AS grid_tmpl,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(c.v) AS BIGINT) AS vsum,
       CAST(SUM(c.v * c.pos) AS BIGINT) AS wsum,
       CAST(47500000 AS BIGINT) AS lat0_udeg,
       CAST(-110000000 AS BIGINT) AS lon0_udeg,
       CAST(MIN(k.c_lat_udeg) AS BIGINT) AS corner_lat_udeg,
       CAST(MIN(k.c_lon_udeg) AS BIGINT) AS corner_lon_udeg
FROM cells c JOIN corner k ON k.doc_id = c.doc_id
GROUP BY c.doc_id
ORDER BY c.doc_id
""",
)
def grid_grib2_polar_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRIB2 POLAR STEREOGRAPHIC decode (grid template 3.20) — the
    projected geometry Arctic / sea-ice operational products ship,
    read by the reference through wgrib2
    (/root/reference/src/file-conversions.js:49-51,76-112). One record
    per selected document, north aspect, true scale at 60N, scanning
    0x40; values decode in storage order and every cell's geographic
    coordinates come from the engine's tangent-half-angle Snyder
    inverse (grid/grib2.py::polar_stereo_inverse), lazily and
    vectorized.

    Witness independence: the oracle embeds the far-corner cell's
    lat/lon from a SECOND implementation (the isometric-latitude
    exponential form) in integer microdegrees; the true-scale-at-LaD
    analytic property and the exact-anchor check pin the engine form
    in pytest. ``wsum`` keeps the payload raster-order sensitive.

    Scale: codec-query posture — bytes executor-side, statistic rows
    shuffle, O(cells) vectorized coordinate recovery in the Arrow
    stage.
    """
    import numpy as np

    from ..grid.grib2 import encode_grib2_message

    def build(d: int) -> bytes:
        ni, nj = 7 + d % 5, 5 + d % 4
        dx = 20000.0 * (1 + d % 2)
        i = np.arange(ni)[None, :]
        j = np.arange(nj)[:, None]
        v = (200 + 2 * ((d * 3 + i * 13 + j * 7) % 55)).astype(np.float64)
        return encode_grib2_message(
            v,
            polar_stereo=dict(_PS_BASE, dx_m=dx, dy_m=dx),
            scanning_mode=0x40,
            reference_value=200.0,
            binary_scale=1,
        )

    decoded = doc_archives(
        spark, sf_dir, (17, 5, 425), build, _projected_cells,
        _PROJECTED_CELLS_SCHEMA,
    )
    return _projected_stats(decoded, ("doc_id", "grid_tmpl"))


# --- GRIB2 Mercator (template 3.10) decode -----------------------------------
# Per selected document ONE record on a Mercator grid (tropical-product
# geometry): anchor (-10, 100), true scale at 20N, Dx = Dy =
# 40000*(1 + d%3) m, scanning 0x40, ni = 8 + d%4, nj = 4 + d%5,
# cell (i, j) = 250 + 2*((d*9 + i*3 + j*5) % 65).


_MERC_BASE = dict(la1=-10.0, lo1=100.0, lad=20.0)


def _mercator_inverse_gudermannian(x, y, lad, radius):
    """Independent Mercator inverse via the GUDERMANNIAN form
    (lat = atan(sinh(y'))) — algebraically equal to the engine's
    2·atan(e^y') − π/2 (grid/grib2.py::mercator_inverse), but a
    distinct implementation path (sinh/atan vs exp/atan)."""
    import math

    k = radius * math.cos(math.radians(lad))
    lat = math.degrees(math.atan(math.sinh(y / k)))
    lon = math.degrees(x / k)
    return lat, (lon + 180.0) % 360.0 - 180.0


def _merc_far_corner_values_sql() -> str:
    """(doc_id, lat_udeg, lon_udeg) of cell (ni-1, nj-1) from the
    Gudermannian-form projection."""
    import math

    rows = []
    for d in range(0, 475):
        if d % 19 != 7:
            continue
        ni, nj = 8 + d % 4, 4 + d % 5
        dx = 40000.0 * (1 + d % 3)
        k = _LCC_RADIUS * math.cos(math.radians(_MERC_BASE["lad"]))
        x1 = k * math.radians(_MERC_BASE["lo1"])
        y1 = k * math.asinh(math.tan(math.radians(_MERC_BASE["la1"])))
        lat, lon = _mercator_inverse_gudermannian(
            x1 + (ni - 1) * dx, y1 + (nj - 1) * dx,
            _MERC_BASE["lad"], _LCC_RADIUS,
        )
        rows.append(f"({d}, {int(round(lat * 1e6))}, {int(round(lon * 1e6))})")
    return ",\n       ".join(rows)


@query(
    "grid_grib2_mercator_decode",
    tags=("grid", "codec", "python", "ingest"),
    oracle=f"""
WITH g AS (
  SELECT doc_id,
         8 + doc_id % 4 AS ni,
         4 + doc_id % 5 AS nj
  FROM documents WHERE doc_id % 19 = 7 AND doc_id < 475
),
corner(doc_id, c_lat_udeg, c_lon_udeg) AS (
  VALUES {_merc_far_corner_values_sql()}
),
cells AS (
  SELECT doc_id, ni, nj,
         250 + 2 * ((doc_id * 9 + i.i * 3 + j.j * 5) % 65) AS v,
         j.j * ni + i.i AS pos
  FROM g,
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj - 1)) AS j) j
)
SELECT c.doc_id,
       CAST(10 AS INTEGER) AS grid_tmpl,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(c.v) AS BIGINT) AS vsum,
       CAST(SUM(c.v * c.pos) AS BIGINT) AS wsum,
       CAST(-10000000 AS BIGINT) AS lat0_udeg,
       CAST(100000000 AS BIGINT) AS lon0_udeg,
       CAST(MIN(k.c_lat_udeg) AS BIGINT) AS corner_lat_udeg,
       CAST(MIN(k.c_lon_udeg) AS BIGINT) AS corner_lon_udeg
FROM cells c JOIN corner k ON k.doc_id = c.doc_id
GROUP BY c.doc_id
ORDER BY c.doc_id
""",
)
def grid_grib2_mercator_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRIB2 MERCATOR decode (grid template 3.10) — the projected
    geometry tropical / regional marine products ship, read by the
    reference through wgrib2 (/root/reference/src/file-conversions.js:
    49-51,76-112). One record per selected document, true scale at
    20N, scanning 0x40, anchored across the equator (rows span both
    hemispheres); values decode in storage order and cell coordinates
    come from the engine's exp/atan Mercator inverse
    (grid/grib2.py::mercator_inverse), lazily and vectorized.

    Witness independence: the oracle embeds the far-corner cell's
    lat/lon from the GUDERMANNIAN formulation (atan∘sinh — a second
    implementation path) in integer microdegrees; pytest additionally
    pins per-row constant latitude / per-column constant longitude and
    exact mesh reprojection. ``wsum`` keeps the payload raster-order
    sensitive.

    Scale: codec-query posture — bytes executor-side, statistic rows
    shuffle, O(cells) vectorized coordinate recovery in the Arrow
    stage.
    """
    import numpy as np

    from ..grid.grib2 import encode_grib2_message

    def build(d: int) -> bytes:
        ni, nj = 8 + d % 4, 4 + d % 5
        dx = 40000.0 * (1 + d % 3)
        i = np.arange(ni)[None, :]
        j = np.arange(nj)[:, None]
        v = (250 + 2 * ((d * 9 + i * 3 + j * 5) % 65)).astype(np.float64)
        return encode_grib2_message(
            v,
            mercator=dict(_MERC_BASE, dx_m=dx, dy_m=dx),
            scanning_mode=0x40,
            reference_value=250.0,
            binary_scale=1,
        )

    decoded = doc_archives(
        spark, sf_dir, (19, 7, 475), build, _projected_cells,
        _PROJECTED_CELLS_SCHEMA,
    )
    return _projected_stats(decoded, ("doc_id", "grid_tmpl"))


# --- mixed-edition archive scan with unified level metadata ----------------
# Per selected document ONE archive file holding four records on a
# (7 + d%4) × (4 + d%3) grid, record r's cell (i, j) being
# 100 + 2*((d*7 + r*13 + i*3 + j*5) % 50):
#   rn=1  GRIB1, scan 0x00, parameter 11, level 100/850
#   rn=2  GRIB1, scan 0x40 (south-first bytes), parameter 61, level 100/500
#   rn=3  GRIB2 simple,  (c0, n7),  fixed surface 100 / 8500·10^-1 = 850
#   rn=4  GRIB2 complex, (c0, n11), fixed surface coded MISSING → NULLs
# The position-weighted sum wsum = Σ v·(j·ni + i) is row-order sensitive:
# a scanner that failed to normalize the 0x40 record would hash-mismatch
# even though mean/min/max are permutation-invariant.


@query(
    "grid_grib_mixed_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id,
         7 + doc_id % 4 AS ni,
         4 + doc_id % 3 AS nj
  FROM documents WHERE doc_id % 5 = 1 AND doc_id < 300
),
cells AS (
  SELECT doc_id, ni, nj, r.r + 1 AS rn,
         100 + 2 * ((doc_id * 7 + r.r * 13 + i.i * 3 + j.j * 5) % 50) AS v,
         j.j * ni + i.i AS pos
  FROM g,
       UNNEST(generate_series(0, 3)) AS r(r),
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj - 1)) AS j) j
)
SELECT doc_id,
       CAST(rn AS INTEGER) AS record_number,
       CAST(CASE WHEN rn <= 2 THEN 1 ELSE 2 END AS INTEGER) AS edition,
       CAST(CASE rn WHEN 1 THEN 11 WHEN 2 THEN 61 END AS INTEGER) AS parameter,
       CAST(CASE WHEN rn >= 3 THEN 0 END AS INTEGER) AS category,
       CAST(CASE rn WHEN 3 THEN 7 WHEN 4 THEN 11 END AS INTEGER) AS number,
       CAST(CASE WHEN rn <= 3 THEN 100 END AS INTEGER) AS level_type,
       CAST(CASE rn WHEN 1 THEN 850 WHEN 2 THEN 500 WHEN 3 THEN 850 END AS INTEGER) AS level,
       CAST(90000 AS INTEGER) AS lat_first_mdeg,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(v) AS BIGINT) AS vsum,
       CAST(SUM(v * pos) AS BIGINT) AS wsum
FROM cells
GROUP BY doc_id, rn, ni, nj
ORDER BY doc_id, rn
""",
)
def grid_grib_mixed_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-edition archive scan through the REAL landing decode path
    (``sources/grib_source._decode_batches`` — the same Arrow stage the
    binaryFile source runs): per document one archive concatenates a
    GRIB1 north-first record, a GRIB1 scanning-mode-0x40 record (stored
    south-first ON THE WIRE, normalized by the scanner), a GRIB2
    simple-packing record with a scaled fixed surface (8500·10^-1 →
    level 850), and a GRIB2 complex-packing record whose fixed surface
    is coded missing (level columns NULL — a level filter fails
    VISIBLY, never matching a silent 0).

    The oracle pins the unified metadata contract across editions:
    GRIB1 keeps ``parameter``; GRIB2 keeps ``(category, number)`` with
    ``parameter`` NULL (c0,n11 must NOT collide with GRIB1 TMP=11); the
    position-weighted checksum ``wsum`` is row-order SENSITIVE, so a
    scanner that skipped the 0x40 row normalization hash-mismatches.

    Scale: archive files decode independently in Arrow batches; only
    per-record statistic rows shuffle — the mixed-product 100 TB
    landing-area shape.
    """
    import numpy as np

    from ..grid.grib1 import encode_grib1_message
    from ..grid.grib2 import encode_grib2_message

    def build(d: int) -> bytes:
        ni, nj = 7 + d % 4, 4 + d % 3
        i = np.arange(ni)[None, :]
        j = np.arange(nj)[:, None]

        def field(r: int) -> np.ndarray:
            return (
                100 + 2 * ((d * 7 + r * 13 + i * 3 + j * 5) % 50)
            ).astype(np.float64)

        msgs = [
            encode_grib1_message(
                field(0), parameter=11, level_type=100, level=850,
                reference_value=100.0, binary_scale=1, nbits=8,
            ),
            encode_grib1_message(
                field(1), parameter=61, level_type=100, level=500,
                reference_value=100.0, binary_scale=1, nbits=8,
                scanning_mode=0x40,
            ),
            encode_grib2_message(
                field(2), category=0, number=7,
                level_type=100, level_scale=1, level_value=8500,
                reference_value=100.0, binary_scale=1, nbits=8,
            ),
            encode_grib2_message(
                field(3), category=0, number=11, level_type=0xFF,
                reference_value=100.0, binary_scale=1,
                packing="complex_diff", group_len=5 + d % 7,
            ),
        ]
        return b"".join(msgs)

    records = landed_records(spark, sf_dir, (5, 1, 300), build)
    return records.select(
        "doc_id",
        "record_number",
        "edition",
        "parameter",
        "category",
        "number",
        "level_type",
        "level",
        "lat_first_mdeg",
        F.size("values").cast("bigint").alias("n_cells"),
        vsum(),
        wsum(),
    ).orderBy("doc_id", "record_number")


def _landing_record_bytes() -> int:
    """Every landing record is byte-identical in LENGTH (same grid, same
    nbits, 4-byte reference regardless of value) — computed once so the
    inventory oracle can pin total_bytes closed-form."""
    import numpy as np

    from ..grid.grib1 import encode_grib1_message

    v = np.zeros((_LANDING_NJ, _LANDING_NI))
    return len(
        encode_grib1_message(v, reference_value=0.0, binary_scale=1, nbits=8)
    )


_LANDING_RECORD_BYTES = _landing_record_bytes()


@query(
    "grid_grib_inventory_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle=f"""
SELECT CAST(m.m + 1 AS INTEGER) AS month,
       CAST(CASE WHEN p.p = 0 THEN 11 ELSE 61 END AS INTEGER) AS parameter,
       CAST(1 AS INTEGER) AS level_type,
       CAST(0 AS INTEGER) AS level,
       CAST(2020 AS INTEGER) AS year,
       CAST({_LANDING_NI} AS INTEGER) AS ni,
       CAST({_LANDING_NJ} AS INTEGER) AS nj,
       CAST({_LANDING_RECORD_BYTES} AS INTEGER) AS total_bytes
FROM UNNEST(generate_series(0, {_LANDING_MONTHS - 1})) AS m(m),
     UNNEST(generate_series(0, 1)) AS p(p)
ORDER BY month, parameter
""",
)
def grid_grib_inventory_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-ONLY landing inventory on real files: every record of the
    12-month ``.grib`` landing listed (parameter, level, reference time,
    grid shape, record length) WITHOUT unpacking a single value bit —
    ``wgrib``'s inventory listing (what the reference's record-select
    keys on, /root/reference/src/file-conversions.js:120-127) as a
    landing-directory scan. The result schema carries no values column
    at all; GRIB1 headers parse via ``inspect_grib1`` and GRIB2 via
    section splitting (``sources/grib_source.grib_inventory``).

    The oracle pins the full metadata contract closed-form including
    ``total_bytes`` (every landing record has identical length by
    construction) — a scan that touched the BDS payload wouldn't fail
    this hash, but the dedicated corrupt-payload pushdown test
    (tests/test_grib_source.py) proves value bits are never read.

    Scale: THE 100 TB metadata pass — I/O reads the archive once, CPU
    per record is a few hundred header bytes, output is one metadata
    row per record; the ``match=`` pushdown on ``grib1_records`` reuses
    the same header path to skip non-matching records before decode.
    """
    from ..sources.grib_source import grib_inventory

    inv = grib_inventory(spark, ensure_grib1_landing(spark, sf_dir))
    return inv.select(
        "month",
        "parameter",
        "level_type",
        "level",
        "year",
        "ni",
        "nj",
        "total_bytes",
    ).orderBy("month", "parameter")


# --- PDT 4.8 statistical metadata through the landing schema ----------------
# Per selected document a 2-record GRIB2 archive on a (6 + d%3) × (4 + d%2)
# grid, record r's cell (i, j) being 110 + 2*((d*3 + r*17 + i*5 + j*7) % 40):
#   rn=1  PDT 4.0 (instantaneous)       → statistical columns NULL
#   rn=2  PDT 4.8, process = d % 2 (average/accumulation), interval end
#         (2020, 1 + d%12, 1 + d%28, d%24:00), range 6 + d%18 hours


@query(
    "grid_grib_statistical_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id,
         6 + doc_id % 3 AS ni,
         4 + doc_id % 2 AS nj
  FROM documents WHERE doc_id % 31 = 9 AND doc_id < 620
),
cells AS (
  SELECT doc_id, ni, nj, r.r + 1 AS rn,
         110 + 2 * ((doc_id * 3 + r.r * 17 + i.i * 5 + j.j * 7) % 40) AS v
  FROM g,
       UNNEST(generate_series(0, 1)) AS r(r),
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj - 1)) AS j) j
)
SELECT doc_id,
       CAST(rn AS INTEGER) AS record_number,
       CAST(CASE WHEN rn = 2 THEN doc_id % 2 END AS INTEGER)
         AS statistical_process,
       CASE WHEN rn = 2 THEN make_timestamp(
         2020, 1 + doc_id % 12, 1 + doc_id % 28, doc_id % 24, 0, 0
       ) END AS interval_end,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(v) AS BIGINT) AS vsum
FROM cells
GROUP BY doc_id, rn
ORDER BY doc_id, rn
""",
)
def grid_grib_statistical_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDT 4.8 STATISTICAL metadata through the REAL landing decode
    path: accumulation/average records (the form ERA5 monthly means and
    precipitation totals actually ship, read by the reference through
    wgrib2 — /root/reference/src/file-conversions.js:49-51,120-127)
    land with ``statistical_process`` (code table 4.10) and the end of
    the processing interval as a timestamp column, while instantaneous
    4.0 records keep both NULL — accumulation-vs-instantaneous is now
    FILTERABLE on landed archives, not just codec-level metadata.

    The oracle pins the whole contract closed-form: NULL statistical
    columns for rn=1, the exact process code and interval-end instant
    for rn=2, plus per-record value sums so the payload decode is
    witnessed alongside the metadata.

    Scale: the landing posture — archive bytes decode executor-side in
    one Arrow stage; only per-record statistic rows shuffle.
    """
    import numpy as np

    from ..grid.grib2 import encode_grib2_message

    def build(d: int) -> bytes:
        ni, nj = 6 + d % 3, 4 + d % 2
        i = np.arange(ni)[None, :]
        j = np.arange(nj)[:, None]

        def field(r: int) -> np.ndarray:
            return (
                110 + 2 * ((d * 3 + r * 17 + i * 5 + j * 7) % 40)
            ).astype(np.float64)

        msgs = [
            encode_grib2_message(
                field(0), category=0, number=7,
                reference_value=110.0, binary_scale=1, nbits=8,
            ),
            encode_grib2_message(
                field(1), category=0, number=11,
                reference_value=110.0, binary_scale=1, nbits=8,
                statistical=dict(
                    process=d % 2,
                    interval_end=(
                        2020, 1 + d % 12, 1 + d % 28, d % 24, 0,
                    ),
                    range_hours=6 + d % 18,
                ),
            ),
        ]
        return b"".join(msgs)

    records = landed_records(spark, sf_dir, (31, 9, 620), build)
    return records.select(
        "doc_id",
        "record_number",
        "statistical_process",
        "interval_end",
        F.size("values").cast("bigint").alias("n_cells"),
        vsum(),
    ).orderBy("doc_id", "record_number")


# --- projected grids THROUGH the landing source ------------------------------
# Per selected document ONE archive with three projected records —
# rn=1 Lambert conformal 3.30 (secant 33/45), rn=2 polar stereographic
# 3.20, rn=3 Mercator 3.10 — all scanning 0x40, record r's cell (i, j)
# being 130 + 2*((d*7 + r*13 + i*3 + j*5) % 45).  The records flow
# through grib1_records/grib1_cells (NOT a bespoke decode stage): the
# landing schema carries their per-cell coordinate arrays and the cell
# explode serves unified lat_deg/lon_deg every query can filter on.

_PROJ_BOX = (-8.43, 48.9)  # non-round edges: no cell latitude within 1e-5


def _proj_landing_grids(d: int):
    """(kind, ni, nj, mesh step) of the 3-record projected archive for
    doc ``d`` — shared by the engine synth and the oracle generator."""
    return (
        ("lcc", 4 + d % 3, 3 + d % 2, 3000.0 * (1 + d % 3)),
        ("ps", 4 + d % 2, 3 + d % 3, 20000.0 * (1 + d % 2)),
        ("mercator", 4 + d % 3, 3 + d % 3, 40000.0 * (1 + d % 2)),
    )


def _projected_landing_box_values_sql() -> str:
    """(doc_id, rn, n_box, latsum_mdeg, lonsum_mdeg, vlat) of the
    in-box cells per record, computed ENTIRELY with the independent
    second-formulation projections (isometric Lambert / polar, the
    Gudermannian Mercator) — the engine's Snyder forms never touch
    these numbers."""
    import math

    lo, hi = _PROJ_BOX
    rows = []
    for d in range(0, 574):
        if d % 41 != 8:
            continue
        for r, (kind, ni, nj, dx) in enumerate(_proj_landing_grids(d)):
            if kind == "lcc":
                x1, y1 = _lcc_forward_isometric(
                    _LCC_BASE["la1"], _LCC_BASE["lo1"], _LCC_BASE["lad"],
                    _LCC_BASE["lov"], 33.0, 45.0, _LCC_RADIUS,
                )

                def inv(x, y):
                    return _lcc_inverse_isometric(
                        x, y, _LCC_BASE["lad"], _LCC_BASE["lov"],
                        33.0, 45.0, _LCC_RADIUS,
                    )
            elif kind == "ps":
                k2 = 1.0 + math.sin(math.radians(_PS_BASE["lad"]))
                psi1 = math.log(
                    math.tan(math.pi / 4 + math.radians(_PS_BASE["la1"]) / 2)
                )
                rho1 = _LCC_RADIUS * k2 * math.exp(-psi1)
                th1 = math.radians(_PS_BASE["lo1"] - _PS_BASE["lov"])
                x1, y1 = rho1 * math.sin(th1), -rho1 * math.cos(th1)

                def inv(x, y):
                    return _ps_inverse_isometric(
                        x, y, _PS_BASE["lad"], _PS_BASE["lov"], _LCC_RADIUS
                    )
            else:
                k = _LCC_RADIUS * math.cos(math.radians(_MERC_BASE["lad"]))
                x1 = k * math.radians(_MERC_BASE["lo1"])
                y1 = k * math.asinh(math.tan(math.radians(_MERC_BASE["la1"])))

                def inv(x, y):
                    return _mercator_inverse_gudermannian(
                        x, y, _MERC_BASE["lad"], _LCC_RADIUS
                    )
            n_box = latsum = lonsum = vlat = 0
            for j in range(nj):
                for i in range(ni):
                    lat, lon = inv(x1 + i * dx, y1 + j * dx)
                    # membership must be rounding-proof: engine and
                    # second formulation agree to ~1e-9 deg, so no cell
                    # may sit within 1e-5 of a box edge
                    assert abs(lat - lo) > 1e-5 and abs(lat - hi) > 1e-5
                    if lo < lat < hi:
                        v = 130 + 2 * ((d * 7 + r * 13 + i * 3 + j * 5) % 45)
                        lm = int(round(lat * 1e3))
                        n_box += 1
                        latsum += lm
                        lonsum += int(round(lon * 1e3))
                        vlat += v * lm
            rows.append(f"({d}, {r + 1}, {n_box}, {latsum}, {lonsum}, {vlat})")
    return ",\n       ".join(rows)


@query(
    "grid_grib_projected_landing",
    tags=("grid", "codec", "python", "ingest"),
    oracle=f"""
WITH g AS (
  SELECT doc_id FROM documents WHERE doc_id % 41 = 8 AND doc_id < 574
),
rows_ AS (
  SELECT doc_id, r.r + 1 AS rn,
         CASE r.r WHEN 1 THEN 4 + doc_id % 2 ELSE 4 + doc_id % 3 END AS ni,
         CASE r.r WHEN 0 THEN 3 + doc_id % 2 ELSE 3 + doc_id % 3 END AS nj
  FROM g, UNNEST(generate_series(0, 2)) AS r(r)
),
cells AS (
  SELECT doc_id, rn,
         130 + 2 * ((doc_id * 7 + (rn - 1) * 13 + i.i * 3 + j.j * 5) % 45) AS v
  FROM rows_,
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj - 1)) AS j) j
),
box(doc_id, rn, n_box, latsum_mdeg, lonsum_mdeg, vlat) AS (
  VALUES {_projected_landing_box_values_sql()}
)
SELECT c.doc_id,
       CAST(c.rn AS INTEGER) AS record_number,
       CAST(CASE c.rn WHEN 1 THEN 30 WHEN 2 THEN 20 ELSE 10 END AS INTEGER)
         AS grid_template,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(c.v) AS BIGINT) AS vsum,
       CAST(MIN(b.n_box) AS BIGINT) AS n_box,
       CAST(MIN(b.latsum_mdeg) AS BIGINT) AS latsum_mdeg,
       CAST(MIN(b.lonsum_mdeg) AS BIGINT) AS lonsum_mdeg,
       CAST(MIN(b.vlat) AS BIGINT) AS vlat
FROM cells c JOIN box b ON b.doc_id = c.doc_id AND b.rn = c.rn
GROUP BY c.doc_id, c.rn
ORDER BY c.doc_id, c.rn
""",
)
def grid_grib_projected_landing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROJECTED grids (Mercator 3.10 / polar stereo 3.20 / Lambert
    3.30) through the REAL landing source — the geometry regional
    operational archives (HRRR, NAM, sea-ice) ship, which the reference
    reads transparently through wgrib2 (/root/reference/src/
    file-conversions.js:49-51,76-112).  The records land via
    ``grib1_records`` (per-cell coordinate arrays in the record schema,
    affine georef NULL — visible, never fabricated) and explode via
    ``grib1_cells`` into unified ``lat_deg``/``lon_deg`` cells; the
    query then FILTERS BY REAL PROJECTED-CELL COORDINATES (a latitude
    box) and aggregates both all-cell and in-box statistics per record.

    Witness independence: every in-box number in the oracle —
    membership, coordinate sums in millidegrees, the payload·latitude
    coupling ``vlat`` that breaks if cells attach to the wrong
    geography — comes from the SECOND projection formulations
    (isometric Lambert/polar, Gudermannian Mercator); full-cell counts
    and value sums restate relationally.

    Scale: the landing posture — archive bytes decode executor-side,
    the explode is JVM-side posexplode, and the coordinate filter is a
    plain column predicate Catalyst can push against the exploded
    relation; only per-record statistic rows shuffle.
    """
    import numpy as np

    from ..grid.grib2 import encode_grib2_message
    from ..sources.grib_source import grib1_cells

    def build(d: int) -> bytes:
        msgs = []
        for r, (kind, ni, nj, dx) in enumerate(_proj_landing_grids(d)):
            i = np.arange(ni)[None, :]
            j = np.arange(nj)[:, None]
            v = (
                130 + 2 * ((d * 7 + r * 13 + i * 3 + j * 5) % 45)
            ).astype(np.float64)
            grid_kw = (
                dict(lambert=dict(
                    _LCC_BASE, latin1=33.0, latin2=45.0,
                    dx_m=dx, dy_m=dx,
                ))
                if kind == "lcc"
                else dict(polar_stereo=dict(_PS_BASE, dx_m=dx, dy_m=dx))
                if kind == "ps"
                else dict(mercator=dict(_MERC_BASE, dx_m=dx, dy_m=dx))
            )
            msgs.append(
                encode_grib2_message(
                    v, scanning_mode=0x40, reference_value=130.0,
                    binary_scale=1, nbits=8, category=r, number=r,
                    **grid_kw,
                )
            )
        return b"".join(msgs)

    cells = grib1_cells(landed_records(spark, sf_dir, (41, 8, 574), build))
    lo, hi = _PROJ_BOX
    box = (F.col("lat_deg") > F.lit(lo)) & (F.col("lat_deg") < F.lit(hi))
    latm = F.round(F.col("lat_deg") * F.lit(1e3)).cast("bigint")
    lonm = F.round(F.col("lon_deg") * F.lit(1e3)).cast("bigint")
    vb = F.col("value").cast("bigint")
    zero = F.lit(0).cast("bigint")
    return (
        cells.select(
            doc_id(),
            "record_number",
            "grid_template",
            "lat_deg",
            "lon_deg",
            "value",
        )
        .groupBy("doc_id", "record_number", "grid_template")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum(vb).alias("vsum"),
            F.coalesce(F.sum(F.when(box, F.lit(1).cast("bigint"))), zero)
            .alias("n_box"),
            F.coalesce(F.sum(F.when(box, latm)), zero).alias("latsum_mdeg"),
            F.coalesce(F.sum(F.when(box, lonm)), zero).alias("lonsum_mdeg"),
            F.coalesce(F.sum(F.when(box, vb * latm)), zero).alias("vlat"),
        )
        .orderBy("doc_id", "record_number")
    )


# --- REDUCED Gaussian grids (3.40 with per-row Ni) through the landing ------
# Per selected document ONE record on a global reduced Gaussian grid
# N = 2 + d%2 (nj = 2N rows), row j holding 3 + ((d + 3j) % 4) points,
# cell (j, i) = 120 + 2*((d*5 + j*11 + i*7) % 45), packed simple for
# even d and complex+spatial-differencing for odd d.  This is ERA5's
# NATIVE archive layout — the dataset the reference actually ingests.


def _reduced_lat_values_sql() -> str:
    """(N, j, lat_udeg) quadrature latitudes for the reduced grids,
    from numpy's INDEPENDENT Gauss-Legendre implementation (the same
    witness-independence pattern as the regular-Gaussian oracle)."""
    import numpy as np

    rows = []
    for n in (2, 3):
        x, _ = np.polynomial.legendre.leggauss(2 * n)
        lats = np.degrees(np.arcsin(x))[::-1]  # ascending x -> north first
        for j, lat in enumerate(lats):
            rows.append(f"({n}, {j}, {int(round(float(lat) * 1e6))})")
    return ",\n       ".join(rows)


@query(
    "grid_grib2_reduced_gaussian_decode",
    tags=("grid", "codec", "python", "ingest"),
    oracle=f"""
WITH g AS (
  SELECT doc_id, 2 + doc_id % 2 AS n
  FROM documents WHERE doc_id % 21 = 6 AND doc_id < 462
),
lat(n, j, lat_udeg) AS (
  VALUES {_reduced_lat_values_sql()}
),
rows_ AS (
  SELECT g.doc_id, g.n, j.j AS j,
         3 + ((g.doc_id + 3 * j.j) % 4) AS rowni
  FROM g, LATERAL (SELECT unnest(generate_series(0, 2 * g.n - 1)) AS j) j
),
offs AS (
  SELECT doc_id, n, j, rowni,
         COALESCE(SUM(rowni) OVER (
           PARTITION BY doc_id ORDER BY j
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS start_pos
  FROM rows_
),
cells AS (
  SELECT o.doc_id, o.n, o.j, o.start_pos + i.i AS pos,
         120 + 2 * ((o.doc_id * 5 + o.j * 11 + i.i * 7) % 45) AS v,
         CAST(ROUND(((i.i * 360.0) / o.rowni) * 1e6) AS BIGINT) AS lon_udeg
  FROM offs o,
       LATERAL (SELECT unnest(generate_series(0, o.rowni - 1)) AS i) i
),
latw AS (
  SELECT g.doc_id, SUM(l.lat_udeg * (l.j + 1)) AS latwsum
  FROM g JOIN lat l ON l.n = g.n
  GROUP BY g.doc_id
)
SELECT c.doc_id,
       CAST(40 AS INTEGER) AS grid_template,
       CAST(MIN(2 * c.n) AS INTEGER) AS nj,
       CAST(NULL AS INTEGER) AS ni,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(c.v) AS BIGINT) AS vsum,
       CAST(SUM(c.v * c.pos) AS BIGINT) AS wsum,
       CAST(MIN(lw.latwsum) AS BIGINT) AS latwsum,
       CAST(SUM(c.lon_udeg) AS BIGINT) AS lonsum_udeg,
       CAST(SUM(c.v * l.lat_udeg) AS BIGINT) AS vlat
FROM cells c
JOIN lat l ON l.n = c.n AND l.j = c.j
JOIN latw lw ON lw.doc_id = c.doc_id
GROUP BY c.doc_id
ORDER BY c.doc_id
""",
)
def grid_grib2_reduced_gaussian_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REDUCED Gaussian grid decode (template 3.40, Ni coded missing +
    the section-3 points-per-parallel list) through the REAL landing
    path — ERA5's NATIVE archive geometry, the dataset the reference
    actually ingests through wgrib2 (/root/reference/src/
    file-conversions.js:49-51,76-112; src/sources/era5monthly.js).
    Rows are RAGGED: each parallel carries its own point count, so the
    landing record keeps ``ni`` NULL, ships the exact quadrature
    latitudes in microdegrees AND per-cell coordinate arrays (row
    latitude repeated, longitudes i·360/row_ni), and ``values`` stays
    the flat storage-order concatenation.

    Witnesses: ``latwsum`` pins the engine's Newton/Bonnet quadrature
    roots against numpy's INDEPENDENT Gauss-Legendre nodes (integer
    microdegree compare); ``lonsum_udeg`` pins the ragged per-row
    longitude axes relationally; ``vlat`` couples every payload value
    to its row's latitude — a mis-sliced ragged row hash-mismatches
    even where permutation-invariant stats would pass; ``wsum`` keeps
    flat storage order sensitive.  Packing alternates simple /
    complex+spatial-differencing, so the ragged geometry is witnessed
    composing with both unpackers.

    Scale: the landing posture — per-record CPU in one Arrow stage
    (the documented native-codec swap-in point), O(rows) metadata for
    the latitude axis, statistic rows shuffle.
    """
    import numpy as np

    from ..grid.grib2 import encode_grib2_message

    def build(d: int) -> bytes:
        nj = 2 * (2 + d % 2)
        row_ni = [3 + ((d + 3 * j) % 4) for j in range(nj)]
        vals = np.concatenate(
            [
                120.0
                + 2 * ((d * 5 + j * 11 + np.arange(n) * 7) % 45)
                for j, n in enumerate(row_ni)
            ]
        )
        return encode_grib2_message(
            vals,
            reduced_ni=row_ni,
            packing="complex_diff" if d % 2 else "simple",
            reference_value=120.0,
            binary_scale=1,
            nbits=8,
        )

    records = landed_records(spark, sf_dir, (21, 6, 462), build)
    zero = F.lit(0).cast("bigint")
    lat_weighted = F.zip_with(
        "latitudes_udeg",
        F.sequence(F.lit(1), F.size("latitudes_udeg")),
        lambda lu, j: lu * j.cast("bigint"),
    )
    cell_lat_udeg = F.transform(
        "cell_lats_deg", lambda x: F.round(x * F.lit(1e6)).cast("bigint")
    )
    cell_lon_udeg = F.transform(
        "cell_lons_deg", lambda x: F.round(x * F.lit(1e6)).cast("bigint")
    )
    vlat = F.zip_with(
        "values", cell_lat_udeg, lambda v, lu: v.cast("bigint") * lu
    )
    return records.select(
        "doc_id",
        "grid_template",
        "nj",
        "ni",
        F.size("values").cast("bigint").alias("n_cells"),
        vsum(),
        wsum(),
        F.aggregate(lat_weighted, zero, lambda a, x: a + x).alias("latwsum"),
        F.aggregate(cell_lon_udeg, zero, lambda a, x: a + x).alias(
            "lonsum_udeg"
        ),
        F.aggregate(vlat, zero, lambda a, x: a + x).alias("vlat"),
    ).orderBy("doc_id")


@query(
    "grid_grib1_reduced_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle=f"""
WITH g AS (
  SELECT doc_id, 2 + doc_id % 2 AS n
  FROM documents WHERE doc_id % 23 = 5 AND doc_id < 460
),
lat(n, j, lat_udeg) AS (
  VALUES {_reduced_lat_values_sql()}
),
rows_ AS (
  SELECT g.doc_id, g.n, j.j AS j,
         3 + ((g.doc_id + 2 * j.j) % 4) AS rowni
  FROM g, LATERAL (SELECT unnest(generate_series(0, 2 * g.n - 1)) AS j) j
),
offs AS (
  SELECT doc_id, n, j, rowni,
         COALESCE(SUM(rowni) OVER (
           PARTITION BY doc_id ORDER BY j
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS start_pos
  FROM rows_
),
cells AS (
  SELECT o.doc_id, o.n, o.j, o.start_pos + i.i AS pos,
         80 + 2 * ((o.doc_id * 7 + o.j * 13 + i.i * 5) % 40) AS v,
         CAST(ROUND(((i.i * 360.0) / o.rowni) * 1e6) AS BIGINT) AS lon_udeg
  FROM offs o,
       LATERAL (SELECT unnest(generate_series(0, o.rowni - 1)) AS i) i
),
latw AS (
  SELECT g.doc_id, SUM(l.lat_udeg * (l.j + 1)) AS latwsum
  FROM g JOIN lat l ON l.n = g.n
  GROUP BY g.doc_id
)
SELECT c.doc_id,
       CAST(1 AS INTEGER) AS edition,
       CAST(52 AS INTEGER) AS parameter,
       CAST(6 * (1 + c.doc_id % 3) AS INTEGER) AS forecast_hours,
       CAST(MIN(2 * c.n) AS INTEGER) AS nj,
       CAST(NULL AS INTEGER) AS ni,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(c.v) AS BIGINT) AS vsum,
       CAST(SUM(c.v * c.pos) AS BIGINT) AS wsum,
       CAST(MIN(lw.latwsum) AS BIGINT) AS latwsum,
       CAST(SUM(c.lon_udeg) AS BIGINT) AS lonsum_udeg,
       CAST(SUM(c.v * l.lat_udeg) AS BIGINT) AS vlat
FROM cells c
JOIN lat l ON l.n = c.n AND l.j = c.j
JOIN latw lw ON lw.doc_id = c.doc_id
GROUP BY c.doc_id
ORDER BY c.doc_id
""",
)
def grid_grib1_reduced_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUASI-REGULAR (reduced) Gaussian EDITION-1 decode through the
    landing scan — ECMWF's native edition-1 archive layout, the very
    CDS ERA5 feed the reference consumes through wgrib
    (/root/reference/src/file-conversions.js:114-127; wgrib -d reads
    thinned grids).  Ni codes missing (0xFFFF) and the GDS PL list
    (octet 5 = 33) carries the per-parallel point counts, so rows are
    RAGGED: the landing record keeps ``ni`` NULL, ships the exact
    quadrature latitudes in microdegrees AND per-cell coordinate
    arrays, and ``values`` stays the flat storage-order concatenation —
    the SAME landing contract as GRIB2's reduced template 3.40
    (grid_grib2_reduced_gaussian_decode), so mixed-edition ERA5
    archives land uniformly.

    Witnesses mirror the edition-2 sibling: ``latwsum`` pins the
    engine's quadrature roots against numpy's independent
    Gauss-Legendre nodes; ``lonsum_udeg`` pins the ragged per-row
    longitude axes; ``vlat`` couples every payload value to its row's
    latitude (a mis-sliced ragged row hash-mismatches); ``wsum`` keeps
    flat storage order sensitive; ``forecast_hours`` rides the PDS
    lead octets through the same unified surface.  The foreign-bytes
    witness (tests/test_foreign_grib.py::
    test_foreign_reduced_gaussian_grib1_decodes_to_pinned_values)
    pins the GDS layout against hand-assembled octets.

    Scale: the landing posture — per-record CPU in one Arrow stage,
    O(rows) metadata for the latitude axis, statistic rows shuffle.
    """
    import numpy as np

    from ..grid.grib1 import encode_grib1_message

    def build(d: int) -> bytes:
        nj = 2 * (2 + d % 2)
        row_ni = [3 + ((d + 2 * j) % 4) for j in range(nj)]
        vals = np.concatenate(
            [
                80.0 + 2 * ((d * 7 + j * 13 + np.arange(n) * 5) % 40)
                for j, n in enumerate(row_ni)
            ]
        )
        return encode_grib1_message(
            vals,
            parameter=52,
            reduced_ni=row_ni,
            forecast=dict(unit=1, value=6 * (1 + d % 3)),
            reference_value=80.0,
            nbits=8,
        )

    records = landed_records(spark, sf_dir, (23, 5, 460), build)
    zero = F.lit(0).cast("bigint")
    lat_weighted = F.zip_with(
        "latitudes_udeg",
        F.sequence(F.lit(1), F.size("latitudes_udeg")),
        lambda lu, j: lu * j.cast("bigint"),
    )
    cell_lat_udeg = F.transform(
        "cell_lats_deg", lambda x: F.round(x * F.lit(1e6)).cast("bigint")
    )
    cell_lon_udeg = F.transform(
        "cell_lons_deg", lambda x: F.round(x * F.lit(1e6)).cast("bigint")
    )
    vlat = F.zip_with(
        "values", cell_lat_udeg, lambda v, lu: v.cast("bigint") * lu
    )
    return records.select(
        "doc_id",
        "edition",
        "parameter",
        "forecast_hours",
        "nj",
        "ni",
        F.size("values").cast("bigint").alias("n_cells"),
        vsum(),
        wsum(),
        F.aggregate(lat_weighted, zero, lambda a, x: a + x).alias("latwsum"),
        F.aggregate(cell_lon_udeg, zero, lambda a, x: a + x).alias(
            "lonsum_udeg"
        ),
        F.aggregate(vlat, zero, lambda a, x: a + x).alias("vlat"),
    ).orderBy("doc_id")


@query(
    "grid_grib1_reduced_latlon_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id, 4 + doc_id % 3 AS nj,
         (70000 - (doc_id % 20) * 1000) * 1000 AS lat0_udeg
  FROM documents WHERE doc_id % 89 = 7 AND doc_id < 712
),
rows_ AS (
  SELECT g.doc_id, g.nj, j.j AS j,
         3 + ((g.doc_id + 5 * j.j) % 4) AS rowni,
         g.lat0_udeg - j.j * 2500 * 1000 AS lat_udeg
  FROM g, LATERAL (SELECT unnest(generate_series(0, g.nj - 1)) AS j) j
),
offs AS (
  SELECT doc_id, nj, j, rowni, lat_udeg,
         COALESCE(SUM(rowni) OVER (
           PARTITION BY doc_id ORDER BY j
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS start_pos
  FROM rows_
),
cells AS (
  SELECT o.doc_id, o.j, o.lat_udeg, r.r + 1 AS rn,
         o.start_pos + i.i AS pos,
         90 + ((o.doc_id * 11 + (r.r + 1) * 7 + o.j * 13 + i.i * 3) % 40)
           AS v,
         CAST(ROUND(((i.i * 360.0) / o.rowni) * 1e6) AS BIGINT) AS lon_udeg
  FROM offs o,
       UNNEST(generate_series(0, 1)) AS r(r),
       LATERAL (SELECT unnest(generate_series(0, o.rowni - 1)) AS i) i
),
latw AS (
  SELECT doc_id, SUM(lat_udeg * (j + 1)) AS latwsum
  FROM rows_ GROUP BY doc_id
)
SELECT c.doc_id,
       CAST(c.rn AS INTEGER) AS record_number,
       CAST(MIN(g.nj) AS INTEGER) AS nj,
       CAST(NULL AS INTEGER) AS ni,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(c.v) AS BIGINT) AS vsum,
       CAST(SUM(c.v * c.pos) AS BIGINT) AS wsum,
       CAST(MIN(lw.latwsum) AS BIGINT) AS latwsum,
       CAST(SUM(c.lon_udeg) AS BIGINT) AS lonsum_udeg,
       CAST(SUM(c.v * c.lat_udeg) AS BIGINT) AS vlat
FROM cells c
JOIN g ON g.doc_id = c.doc_id
JOIN latw lw ON lw.doc_id = c.doc_id
GROUP BY c.doc_id, c.rn
ORDER BY c.doc_id, c.rn
""",
)
def grid_grib1_reduced_latlon_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REDUCED (thinned) LAT/LON edition-1 grids through the landing
    scan — the DWD-era sibling of the reduced Gaussian form: the same
    GDS PL per-parallel point-count machinery on grid type 0, but with
    an AFFINE latitude axis (La1 → La2; Di/Dj coded missing, the step
    re-derived exactly from the span — a non-dividing span stops
    loudly, as does a given Dj contradicting La2).  Odd parallel
    counts are legal here (no global-Gaussian evenness), witnessed by
    per-document nj ∈ {4,5,6}.  Per-row latitudes ride the SAME
    ``latitudes_udeg``/per-cell-coordinate landing surface the reduced
    Gaussian form uses, so the unified cell explode serves both.

    Record 1 is simple-packed; record 2 carries the SAME grid through
    SECOND-ORDER (complex) packing — the thinned-grid + second-order
    composition real DWD archives shipped, exercising row-grouped
    group reassembly over ragged rows.  The oracle is fully
    closed-form (affine latitudes need no quadrature table): payload
    sums, storage-order weighting, per-row latitude weighting and the
    ragged longitude axes all pin exactly.

    Scale: the landing posture — one Arrow decode stage, O(rows)
    latitude metadata, statistic rows shuffle.
    """
    import numpy as np

    from ..grid.grib1 import encode_grib1_message

    def build(d: int) -> bytes:
        nj = 4 + d % 3
        row_ni = [3 + ((d + 5 * j) % 4) for j in range(nj)]

        def field(r: int) -> np.ndarray:
            return np.concatenate(
                [
                    90.0
                    + ((d * 11 + r * 7 + j * 13 + np.arange(n) * 3) % 40)
                    for j, n in enumerate(row_ni)
                ]
            )

        enc = dict(
            reduced_ni=row_ni,
            reduced_latlon=True,
            lat_first_mdeg=70_000 - (d % 20) * 1000,
            dlat_mdeg=2_500,
            reference_value=90.0,
            nbits=8,
        )
        msgs = [
            encode_grib1_message(field(1), **enc),
            encode_grib1_message(
                field(2), second_order=dict(groups="rows"), **enc
            ),
        ]
        return b"".join(msgs)

    records = landed_records(spark, sf_dir, (89, 7, 712), build)
    zero = F.lit(0).cast("bigint")
    lat_weighted = F.zip_with(
        "latitudes_udeg",
        F.sequence(F.lit(1), F.size("latitudes_udeg")),
        lambda lu, j: lu * j.cast("bigint"),
    )
    cell_lat_udeg = F.transform(
        "cell_lats_deg", lambda x: F.round(x * F.lit(1e6)).cast("bigint")
    )
    cell_lon_udeg = F.transform(
        "cell_lons_deg", lambda x: F.round(x * F.lit(1e6)).cast("bigint")
    )
    vlat = F.zip_with(
        "values", cell_lat_udeg, lambda v, lu: v.cast("bigint") * lu
    )
    return records.select(
        "doc_id",
        "record_number",
        "nj",
        "ni",
        F.size("values").cast("bigint").alias("n_cells"),
        vsum(),
        wsum(),
        F.aggregate(lat_weighted, zero, lambda a, x: a + x).alias("latwsum"),
        F.aggregate(cell_lon_udeg, zero, lambda a, x: a + x).alias(
            "lonsum_udeg"
        ),
        F.aggregate(vlat, zero, lambda a, x: a + x).alias("vlat"),
    ).orderBy("doc_id", "record_number")


@query(
    "grid_grib1_second_order_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id,
         5 + doc_id % 3 AS ni,
         4 + doc_id % 2 AS nj
  FROM documents WHERE doc_id % 73 = 17 AND doc_id < 700
),
cells AS (
  SELECT doc_id, r.r + 1 AS rn,
         60 + ((doc_id * 7 + r.r * 13 + i.i * 3 + j.j * 11) % 50) AS v,
         j.j * ni + i.i AS pos
  FROM g,
       UNNEST(generate_series(0, 2)) AS r(r),
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj - 1)) AS j) j
)
SELECT doc_id,
       CAST(rn AS INTEGER) AS record_number,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(v) AS BIGINT) AS vsum,
       CAST(SUM(v * pos) AS BIGINT) AS wsum
FROM cells
GROUP BY doc_id, rn
ORDER BY doc_id, rn
""",
)
def grid_grib1_second_order_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SECOND-ORDER (complex) grid-point packing through the landing
    scan — the WMO extended-BDS form DWD/ECMWF-era edition-1 archives
    ship (wgrib reads it; the reference's wgrib path,
    /root/reference/src/file-conversions.js:114-127): BDS flag bits
    2+4 raise the octet-14 extended flags carrying N1/N2 stream
    pointers, P1 group minima ("first-order values") at the octet-11
    width, and per-point deviations packed as one continuous bitstream
    at per-group widths.

    Each document's archive exercises all three layout axes on
    separate records: row-by-row grouping with a constant width,
    row-by-row with VARYING per-group widths (one width octet per
    group), and explicit groups via the SECONDARY BITMAP (a set bit
    starts a group).  The position-weighted ``wsum`` pins storage
    order through the group reassembly — a group boundary off by one
    hash-mismatches even where the plain sum would cancel.  The
    gribex general-extended bits, the matrix form and primary bitmaps
    stay loud stops (tests/test_grib1.py pins them), and a foreign
    hand-assembled witness pins the octet layout
    (tests/test_foreign_grib.py).

    Scale: identical plan shape to every landing scan — one Arrow
    decode stage, only per-record statistic rows shuffle.
    """
    import numpy as np

    from ..grid.grib1 import encode_grib1_message

    def build(d: int) -> bytes:
        ni, nj = 5 + d % 3, 4 + d % 2
        i = np.arange(ni)[None, :]
        j = np.arange(nj)[:, None]

        def field(r: int) -> np.ndarray:
            return (
                60 + ((d * 7 + r * 13 + i * 3 + j * 11) % 50)
            ).astype(np.float64)

        total = ni * nj
        k = 1 + d % (total - 1)
        enc = dict(reference_value=60.0, nbits=8)
        msgs = [
            encode_grib1_message(
                field(0), second_order=dict(groups="rows"), **enc
            ),
            encode_grib1_message(
                field(1),
                second_order=dict(groups="rows", varying=True),
                **enc,
            ),
            encode_grib1_message(
                field(2),
                second_order=dict(
                    groups=[k, total - k], varying=True
                ),
                **enc,
            ),
        ]
        return b"".join(msgs)

    records = landed_records(spark, sf_dir, (73, 17, 700), build)
    return records.select(
        "doc_id",
        "record_number",
        F.size("values").cast("bigint").alias("n_cells"),
        vsum(),
        wsum(),
    ).orderBy("doc_id", "record_number")


@query(
    "grid_geotiff_publish_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id,
         6 + doc_id % 3 AS ni,
         4 + doc_id % 2 AS nj
  FROM documents WHERE doc_id % 83 = 29 AND doc_id < 700
),
cells AS (
  SELECT doc_id, m.m AS month,
         ((doc_id * 3 + m.m * 17 + i.i * 5 + j.j * 7) % 60)
           - ((doc_id * 3 + i.i * 5 + j.j * 7) % 30) AS anomaly,
         j.j * ni + i.i AS pos
  FROM g,
       UNNEST(generate_series(1, 3)) AS m(m),
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj - 1)) AS j) j
)
SELECT c.doc_id, CAST(c.month AS INTEGER) AS month,
       CAST(MIN(g.ni) AS INTEGER) AS width,
       CAST(MIN(g.nj) AS INTEGER) AS height,
       CAST(MIN(g.doc_id % 360 - 180) AS DOUBLE) AS west,
       CAST(MIN(60 - g.doc_id % 30) AS DOUBLE) AS north,
       CAST(COUNT(*) FILTER (WHERE c.pos = 0) AS BIGINT) AS n_nodata,
       CAST(SUM(c.anomaly) FILTER (WHERE c.pos <> 0) AS BIGINT) AS vsum,
       CAST(SUM(c.anomaly * c.pos) FILTER (WHERE c.pos <> 0) AS BIGINT)
         AS wsum
FROM cells c JOIN g ON g.doc_id = c.doc_id
GROUP BY c.doc_id, c.month
ORDER BY c.doc_id, c.month
""",
)
def grid_geotiff_publish_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's TRUE output format, round-tripped as dataflow:
    every dataset the reference publishes is an LZW-compressed Float32
    GeoTIFF with floating-point predictor 3 and nodata −9999
    (/root/reference/src/file-conversions.js:57-74 ``gdal_translate
    -co COMPRESS=LZW -co PREDICTOR=3 -ot Float32``, ``:174-195``
    ``gdalwarp -dstnodata -9999``), consumed downstream by the GSKY
    tile server.  This query runs the anomaly math (current month −
    climatological normal), encodes each month AS that exact GeoTIFF
    through the pure-Python codec in one Arrow stage, then re-ingests
    the published bytes through a second Arrow decode stage — georef
    (tie point, pixel scale), dimensions, the nodata sentinel→NULL
    contract (P5) and payload sums all hash-checked closed-form, so a
    predictor/LZW/strip-layout defect anywhere in the publish→consume
    loop mismatches.

    One cell per raster is masked to the −9999 sentinel before encode;
    the landing surfaces it as a NULL (never a plausible −9999 value)
    and the oracle pins both the NULL count and the sums excluding it.
    Values are integer-valued anomalies (exact in Float32), so sums
    compare exactly.

    Scale: the publish/decode pair is the same fixed-work Arrow regime
    as every codec query — at 100 TB each month-file encodes/decodes
    independently (parallelism = files), only statistic rows shuffle.
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from ..grid.geotiff import GeoRaster, decode_geotiff, encode_geotiff

    ids = (
        table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % 83 == 29) & (F.col("doc_id") < 700))
        .select("doc_id")
    )

    def publish(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                ni, nj = 6 + d % 3, 4 + d % 2
                i = np.arange(ni)[None, :]
                j = np.arange(nj)[:, None]
                normal = (d * 3 + i * 5 + j * 7) % 30
                for m in (1, 2, 3):
                    current = (d * 3 + m * 17 + i * 5 + j * 7) % 60
                    anomaly = (current - normal).astype(np.float32)
                    anomaly[0, 0] = -9999.0  # clipped cell → nodata
                    tif = encode_geotiff(
                        GeoRaster(
                            values=anomaly,
                            west=float(d % 360 - 180),
                            north=float(60 - d % 30),
                            xres=0.25,
                            yres=0.25,
                            nodata=-9999.0,
                        ),
                        compress=True,
                    )
                    rows.append(
                        {"path": f"tif://{d}/{m}", "content": tif}
                    )
            yield pd.DataFrame(rows)

    def ingest(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                r = decode_geotiff(bytes(content))
                vals = r.values.astype(np.float64)
                if r.nodata is not None:
                    vals[vals == r.nodata] = np.nan  # sentinel → NULL
                rows.append(
                    {
                        "path": path,
                        "width": r.values.shape[1],
                        "height": r.values.shape[0],
                        "west": r.west,
                        "north": r.north,
                        "values": vals.reshape(-1).tolist(),
                    }
                )
            yield pd.DataFrame(rows)

    files = ids.mapInPandas(publish, schema="path string, content binary")
    records = files.mapInPandas(
        ingest,
        schema=(
            "path string, width int, height int, west double, "
            "north double, values array<double>"
        ),
    )
    zero = F.lit(0).cast("bigint")

    weighted = F.zip_with(
        "values",
        F.sequence(F.lit(0), F.size("values") - 1),
        lambda v, idx: F.when(
            _present(v), v.cast("bigint") * idx.cast("bigint")
        ).otherwise(F.lit(0).cast("bigint")),
    )
    return records.select(
        F.regexp_extract("path", r"tif://(\d+)/", 1).cast("bigint").alias("doc_id"),
        F.regexp_extract("path", r"/(\d+)$", 1).cast("int").alias("month"),
        "width",
        "height",
        "west",
        "north",
        F.aggregate(
            "values",
            zero,
            lambda a, x: a + F.when(_present(x), 0).otherwise(1).cast("bigint"),
        ).alias("n_nodata"),
        F.aggregate(
            "values",
            zero,
            lambda a, x: a
            + F.when(_present(x), x).otherwise(F.lit(0)).cast("bigint"),
        ).alias("vsum"),
        F.aggregate(weighted, zero, lambda a, x: a + x).alias("wsum"),
    ).orderBy("doc_id", "month")


# --- multi-field (submessage) GRIB2 archives --------------------------------
# Per selected document ONE archive = a single multi-field message
# holding fields rn=1..3 on a shared (5 + d%3) × (4 + d%2) grid
# (section 3 emitted once and INHERITED — the NDFD submessage layout)
# followed by a single-field message rn=4 on its own (3 + d%2) × 3
# grid; field r's cell (i, j) is 140 + 2*((d*9 + r*17 + i*5 + j*3) % 50),
# packed simple / complex+diff / PNG / simple by field.


