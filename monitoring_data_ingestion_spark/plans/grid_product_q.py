"""GRIB catalog queries — product-definition-template families
(SURVEY.md §2 S5): multi-field messages, the ensemble / derived /
cluster / probability / percentile family, satellite and radar
products, forecast-lead and layer surfaces, wgrib2-style -match
selection and edition-1 Gaussian grids.  Split out of the former
monolithic plans/grid_q.py in r16 — every registry name and oracle is
unchanged.

The gate → archive synth → decode scaffold and the shared witness
columns live in plans/grid_common.py (``landed_records`` /
``doc_archives``); each query here owns only its archive ``build`` function
and its witness arithmetic."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import query
from .grid_codec_q import _gauss_lat_values_sql
from .grid_common import doc_id, landed_records, vsum, wsum

@query(
    "grid_grib2_multifield_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id FROM documents WHERE doc_id % 37 = 4 AND doc_id < 666
),
rows_ AS (
  SELECT doc_id, r.r + 1 AS rn,
         CASE WHEN r.r = 3 THEN 3 + doc_id % 2 ELSE 5 + doc_id % 3 END AS ni,
         CASE WHEN r.r = 3 THEN 3 ELSE 4 + doc_id % 2 END AS nj
  FROM g, UNNEST(generate_series(0, 3)) AS r(r)
),
cells AS (
  SELECT doc_id, rn,
         140 + 2 * ((doc_id * 9 + (rn - 1) * 17 + i.i * 5 + j.j * 3) % 50) AS v,
         j.j * ni + i.i AS pos
  FROM rows_,
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj - 1)) AS j) j
)
SELECT doc_id,
       CAST(rn AS INTEGER) AS record_number,
       CAST(rn AS INTEGER) AS number,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(v) AS BIGINT) AS vsum,
       CAST(SUM(v * pos) AS BIGINT) AS wsum
FROM cells
GROUP BY doc_id, rn
ORDER BY doc_id, rn
""",
)
def grid_grib2_multifield_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-FIELD (submessage) GRIB2 archives through the REAL landing
    path: one message legally carries several fields
    (``0 1 (3 (4 5 6 7))+ 8`` — the layout NDFD-style archives ship,
    which the reference reads through wgrib2's N.M submessage numbering,
    /root/reference/src/file-conversions.js:120-127).  The landing scan
    numbers, inventories, match-filters and decodes per FIELD
    (``sources/grib_source._record_units``), with the persisting
    section 3 inherited across fields exactly once, so a submessage
    archive behaves identically to its split-into-messages form.

    Per document: fields 1-3 ride in ONE message on a shared inherited
    grid — packed simple, complex+spatial-differencing, and PNG, so the
    representation variety composes with the submessage layout — and
    record 4 is an ordinary single-field message on its own grid,
    pinning that the field counter spans message boundaries.  The
    position-weighted ``wsum`` keeps each field's raster order
    sensitive; a scan that collapsed repeated sections 4-7 (or
    mis-attributed the inherited grid) hash-mismatches.

    Scale: the landing posture — archive bytes decode executor-side in
    one Arrow stage; header-only field splitting costs section slicing,
    never value bits; only per-record statistic rows shuffle.
    """
    import numpy as np

    from ..grid.grib2 import encode_grib2_message, merge_grib2_fields

    def build(d: int) -> bytes:
        def field(r: int, ni: int, nj: int) -> np.ndarray:
            i = np.arange(ni)[None, :]
            j = np.arange(nj)[:, None]
            return (
                140 + 2 * ((d * 9 + r * 17 + i * 5 + j * 3) % 50)
            ).astype(np.float64)

        ni, nj = 5 + d % 3, 4 + d % 2
        packings = ("simple", "complex_diff", "png")
        multi = merge_grib2_fields(
            [
                encode_grib2_message(
                    field(r, ni, nj), category=0, number=r + 1,
                    reference_value=140.0, binary_scale=1, nbits=8,
                    packing=packings[r],
                )
                for r in range(3)
            ]
        )
        single = encode_grib2_message(
            field(3, 3 + d % 2, 3), category=0, number=4,
            reference_value=140.0, binary_scale=1, nbits=8,
        )
        return multi + single

    records = landed_records(spark, sf_dir, (37, 4, 666), build)
    return records.select(
        "doc_id",
        "record_number",
        "number",
        F.size("values").cast("bigint").alias("n_cells"),
        vsum(),
        wsum(),
    ).orderBy("doc_id", "record_number")


# --- ensemble products (PDT 4.1 / 4.11) through the landing ----------------
# Per selected document ONE multi-field message carrying the whole
# ensemble: members m = 0, 1, 2 of a 3-member ensemble via PDT 4.1 on a
# shared inherited (5 + d%2) × (4 + d%3) grid, plus a 4th field — the
# ensemble-mean ACCUMULATION via PDT 4.11 (member 0 of 3 + the 4.8
# statistical block).  Field r's cell (i, j) is
# 125 + 2*((d*11 + r*7 + i*3 + j*13) % 55).


@query(
    "grid_grib2_ensemble_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id,
         5 + doc_id % 2 AS ni,
         4 + doc_id % 3 AS nj
  FROM documents WHERE doc_id % 43 = 11 AND doc_id < 645
),
cells AS (
  SELECT doc_id, r.r + 1 AS rn,
         125 + 2 * ((doc_id * 11 + r.r * 7 + i.i * 3 + j.j * 13) % 55) AS v,
         j.j * ni + i.i AS pos
  FROM g,
       UNNEST(generate_series(0, 3)) AS r(r),
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj - 1)) AS j) j
)
SELECT doc_id,
       CAST(rn AS INTEGER) AS record_number,
       CAST(CASE WHEN rn <= 3 THEN rn - 1 ELSE 0 END AS INTEGER)
         AS ensemble_member,
       CAST(3 AS INTEGER) AS ensemble_size,
       CAST(CASE WHEN rn = 4 THEN 1 END AS INTEGER) AS statistical_process,
       CASE WHEN rn = 4 THEN make_timestamp(
         2020, 1 + doc_id % 12, 1, 6, 0, 0
       ) END AS interval_end,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(v) AS BIGINT) AS vsum,
       CAST(SUM(v * pos) AS BIGINT) AS wsum
FROM cells
GROUP BY doc_id, rn
ORDER BY doc_id, rn
""",
)
def grid_grib2_ensemble_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENSEMBLE products (PDT 4.1 individual member / 4.11 member +
    statistical interval) through the REAL landing path — the product
    form ensemble archives (ECMWF ENS, GEFS, ERA5 EDA) ship, read by
    the reference through wgrib2 (/root/reference/src/
    file-conversions.js:120-127).  The whole ensemble rides in ONE
    multi-field message (section 3 inherited across members — how
    ensemble GRIBs are actually laid out), and the landing schema's
    ``ensemble_member``/``ensemble_size`` columns make
    control-vs-perturbed a plain column filter; the 4.11 field also
    carries the statistical columns, witnessing that the ensemble
    octets SHIFT the statistical block by three (a parser that reused
    4.8's offsets on 4.11 would decode a garbage interval end).

    The oracle pins membership, size, the statistical contract (NULL
    for the 4.1 members), per-field payload sums and the
    raster-order-sensitive ``wsum`` closed-form.

    Scale: the landing posture — submessage splitting is section
    slicing; per-record statistic rows shuffle; nothing else moves.
    """
    import numpy as np

    from ..grid.grib2 import encode_grib2_message, merge_grib2_fields

    def build(d: int) -> bytes:
        ni, nj = 5 + d % 2, 4 + d % 3
        i = np.arange(ni)[None, :]
        j = np.arange(nj)[:, None]

        def field(r: int) -> np.ndarray:
            return (
                125 + 2 * ((d * 11 + r * 7 + i * 3 + j * 13) % 55)
            ).astype(np.float64)

        msgs = [
            encode_grib2_message(
                field(m), category=0, number=1,
                reference_value=125.0, binary_scale=1, nbits=8,
                ensemble=dict(type=3, member=m, size=3),
            )
            for m in range(3)
        ]
        msgs.append(
            encode_grib2_message(
                field(3), category=0, number=1,
                reference_value=125.0, binary_scale=1, nbits=8,
                ensemble=dict(type=0, member=0, size=3),
                statistical=dict(
                    process=1,
                    interval_end=(2020, 1 + d % 12, 1, 6, 0),
                    range_hours=6,
                ),
            )
        )
        return merge_grib2_fields(msgs)

    records = landed_records(spark, sf_dir, (43, 11, 645), build)
    return records.select(
        "doc_id",
        "record_number",
        "ensemble_member",
        "ensemble_size",
        "statistical_process",
        "interval_end",
        F.size("values").cast("bigint").alias("n_cells"),
        vsum(),
        wsum(),
    ).orderBy("doc_id", "record_number")


@query(
    "grid_grib2_derived_ensemble_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id,
         5 + doc_id % 3 AS ni,
         3 + doc_id % 2 AS nj
  FROM documents WHERE doc_id % 47 = 13 AND doc_id < 645
),
cells AS (
  SELECT doc_id, r.r + 1 AS rn,
         120 + 2 * ((doc_id * 5 + r.r * 9 + i.i * 7 + j.j * 3) % 50) AS v,
         j.j * ni + i.i AS pos
  FROM g,
       UNNEST(generate_series(0, 3)) AS r(r),
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj - 1)) AS j) j
)
SELECT doc_id,
       CAST(rn AS INTEGER) AS record_number,
       CAST(CASE WHEN rn <= 2 THEN rn - 1 END AS INTEGER) AS ensemble_member,
       CAST(CASE WHEN rn = 3 THEN 0 WHEN rn = 4 THEN 4 END AS INTEGER)
         AS derived_forecast,
       CAST(2 AS INTEGER) AS ensemble_size,
       CAST(CASE WHEN rn = 4 THEN 0 END AS INTEGER) AS statistical_process,
       CAST(CASE WHEN rn = 4 THEN 2 END AS INTEGER) AS time_range_count,
       CASE WHEN rn = 4 THEN make_timestamp(
         2020, 1 + doc_id % 12, 2, 18, 0, 0
       ) END AS interval_end,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(v) AS BIGINT) AS vsum,
       CAST(SUM(v * pos) AS BIGINT) AS wsum
FROM cells
GROUP BY doc_id, rn
ORDER BY doc_id, rn
""",
)
def grid_grib2_derived_ensemble_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DERIVED-ensemble products (PDT 4.2 mean / 4.12 spread +
    statistical interval) through the REAL landing path — the products
    ECMWF ENS and GEFS publish ALONGSIDE the 4.1 members the engine
    already lands, read by the reference through wgrib2
    (/root/reference/src/file-conversions.js:49-51,76-112).  One
    multi-field message per document carries two 4.1 members, a 4.2
    ensemble mean and a 4.12 ensemble spread over a statistical
    interval, so members-vs-derived is a plain column filter
    (``ensemble_member`` vs ``derived_forecast``) on landed archives.

    The oracle pins the code-table-4.7 derived type per field, the
    shared ensemble size, NULL membership on derived fields, the 4.12
    statistical block's +2 offset past 4.8 (a parser reusing 4.8's
    offsets would decode a garbage interval end), the n=2 compound
    time-range count on the spread field, and raster-order-sensitive
    payload sums.

    Scale: the landing posture — submessage splitting is section
    slicing; only per-record statistic rows shuffle.
    """
    import numpy as np

    from ..grid.grib2 import encode_grib2_message, merge_grib2_fields

    def build(d: int) -> bytes:
        ni, nj = 5 + d % 3, 3 + d % 2
        i = np.arange(ni)[None, :]
        j = np.arange(nj)[:, None]

        def field(r: int) -> np.ndarray:
            return (
                120 + 2 * ((d * 5 + r * 9 + i * 7 + j * 3) % 50)
            ).astype(np.float64)

        msgs = [
            encode_grib2_message(
                field(m), category=0, number=1,
                reference_value=120.0, binary_scale=1, nbits=8,
                ensemble=dict(type=3, member=m, size=2),
            )
            for m in range(2)
        ]
        msgs.append(
            encode_grib2_message(
                field(2), category=0, number=1,
                reference_value=120.0, binary_scale=1, nbits=8,
                derived=dict(type=0, size=2),  # unweighted mean
            )
        )
        msgs.append(
            encode_grib2_message(
                field(3), category=0, number=1,
                reference_value=120.0, binary_scale=1, nbits=8,
                derived=dict(type=4, size=2),  # spread
                statistical=dict(
                    process=0,
                    interval_end=(2020, 1 + d % 12, 2, 18, 0),
                    range_hours=6,
                    # n = 2: spread of HOURLY MAXIMA — the
                    # compound form time_range_count surfaces
                    inner_specs=[dict(process=2, range_hours=1)],
                ),
            )
        )
        return merge_grib2_fields(msgs)

    records = landed_records(spark, sf_dir, (47, 13, 645), build)
    return records.select(
        "doc_id",
        "record_number",
        "ensemble_member",
        "derived_forecast",
        "ensemble_size",
        "statistical_process",
        "time_range_count",
        "interval_end",
        F.size("values").cast("bigint").alias("n_cells"),
        vsum(),
        wsum(),
    ).orderBy("doc_id", "record_number")


@query(
    "grid_grib2_cluster_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id,
         4 + doc_id % 3 AS ni,
         3 + doc_id % 2 AS nj
  FROM documents WHERE doc_id % 43 = 11 AND doc_id < 645
),
cells AS (
  SELECT doc_id, r.r + 1 AS rn,
         80 + 2 * ((doc_id * 7 + r.r * 5 + i.i * 3 + j.j * 11) % 45) AS v,
         j.j * ni + i.i AS pos
  FROM g,
       UNNEST(generate_series(0, 4)) AS r(r),
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj - 1)) AS j) j
)
SELECT doc_id,
       CAST(rn AS INTEGER) AS record_number,
       CAST(CASE WHEN rn = 1 THEN 0 END AS INTEGER) AS ensemble_member,
       CAST(CASE rn WHEN 2 THEN 0 WHEN 3 THEN 2 WHEN 4 THEN 0 WHEN 5 THEN 4
         END AS INTEGER) AS derived_forecast,
       CAST(10 + doc_id % 5 AS INTEGER) AS ensemble_size,
       CAST(CASE rn WHEN 3 THEN 1 + doc_id % 5 WHEN 4 THEN 2 + doc_id % 4
         WHEN 5 THEN 3 + doc_id % 3 END AS INTEGER) AS cluster_identifier,
       CAST(CASE WHEN rn IN (3, 4, 5) THEN 3 + doc_id % 3 END AS INTEGER)
         AS cluster_total,
       CAST(CASE rn WHEN 3 THEN 2 + doc_id % 3 WHEN 4 THEN 1 + doc_id % 2
         WHEN 5 THEN 2 + doc_id % 2 END AS INTEGER) AS cluster_size,
       CAST(CASE WHEN rn = 5 THEN 0 END AS INTEGER) AS statistical_process,
       CASE WHEN rn = 5 THEN make_timestamp(
         2020, 1 + doc_id % 12, 3, 6, 0, 0
       ) END AS interval_end,
       CAST(CASE WHEN rn = 5 THEN 1 END AS INTEGER) AS time_range_count,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(v) AS BIGINT) AS vsum,
       CAST(SUM(v * pos) AS BIGINT) AS wsum
FROM cells
GROUP BY doc_id, rn
ORDER BY doc_id, rn
""",
)
def grid_grib2_cluster_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER-derived ensemble products (PDT 4.3 rectangular / 4.4
    circular cluster domains + the 4.13 statistical sibling) through
    the REAL landing path — the last members of the operational 4.x
    family the engine decodes (completing 4.0-4.6, 4.8-4.15),
    published by EPS cluster post-processing beside the 4.1 members
    and 4.2 all-member products the reference reads through wgrib2
    (/root/reference/src/file-conversions.js:49-51,76-112).  One
    multi-field message per document carries a 4.1 member, a 4.2
    ensemble mean, a 4.3 rectangular-domain cluster product, a 4.4
    circular-domain one and a 4.13 cluster-spread over a statistical
    interval, so member-vs-all-vs-cluster is a plain column filter on
    landed archives (``cluster_identifier`` / ``cluster_total`` /
    ``cluster_size`` — NULL on every non-cluster product).

    The oracle pins the shared ensemble size across all five
    templates, the per-template cluster identifier / total / NC (the
    4.4 layout reads NC four octets earlier than 4.3 — a parser
    reusing 4.3's offsets would decode a garbage member count),
    NULL cluster columns on 4.1/4.2 fields, the 4.13 statistical
    block's VARIABLE offset after the NC-long member list (the only
    4.x form whose statistical base depends on a count field — the
    interval-end timestamp only decodes right if the offset walk is),
    and raster-order-sensitive payload sums.

    Scale: the landing posture — submessage splitting is section
    slicing; only per-record statistic rows shuffle.
    """
    import numpy as np

    from ..grid.grib2 import encode_grib2_message, merge_grib2_fields

    def build(d: int) -> bytes:
        ni, nj = 4 + d % 3, 3 + d % 2
        i = np.arange(ni)[None, :]
        j = np.arange(nj)[:, None]

        def field(r: int) -> np.ndarray:
            return (
                80 + 2 * ((d * 7 + r * 5 + i * 3 + j * 11) % 45)
            ).astype(np.float64)

        enc = dict(
            category=0, number=1,
            reference_value=80.0, binary_scale=1, nbits=8,
        )
        size = 10 + d % 5
        msgs = [
            encode_grib2_message(
                field(0),
                ensemble=dict(type=3, member=0, size=size),
                **enc,
            ),
            encode_grib2_message(
                field(1),
                derived=dict(type=0, size=size),
                **enc,
            ),
            encode_grib2_message(
                field(2),
                cluster=dict(
                    type=2, size=size,
                    identifier=1 + d % 5, total=3 + d % 3,
                    method=d % 2,
                    members=list(range(2 + d % 3)),
                    stddev=(1, 10 + d % 20),
                    bounds=(
                        60_000_000, 30_000_000,
                        40_000_000, -10_000_000,
                    ),
                ),
                **enc,
            ),
            encode_grib2_message(
                field(3),
                cluster=dict(
                    type=0, size=size,
                    identifier=2 + d % 4, total=3 + d % 3,
                    method=1,
                    members=list(range(1 + d % 2)),
                    distance=(0, 3 + d % 9),
                    center=(45_000_000, 10_000_000, 500_000),
                ),
                **enc,
            ),
            # 4.13: cluster + statistical interval — the
            # statistical block rides AFTER the NC-long member
            # list (the only variable-offset 4.x form), so the
            # oracle's interval-end pin proves the offset walk
            encode_grib2_message(
                field(4),
                cluster=dict(
                    type=4, size=size,
                    identifier=3 + d % 3, total=3 + d % 3,
                    method=0,
                    members=list(range(2 + d % 2)),
                    stddev=(0, 5 + d % 7),
                    bounds=(
                        55_000_000, 25_000_000,
                        35_000_000, -5_000_000,
                    ),
                ),
                statistical=dict(
                    process=0,
                    interval_end=(2020, 1 + d % 12, 3, 6, 0),
                    range_hours=12,
                ),
                **enc,
            ),
        ]
        return merge_grib2_fields(msgs)

    records = landed_records(spark, sf_dir, (43, 11, 645), build)
    return records.select(
        "doc_id",
        "record_number",
        "ensemble_member",
        "derived_forecast",
        "ensemble_size",
        "cluster_identifier",
        "cluster_total",
        "cluster_size",
        "statistical_process",
        "interval_end",
        "time_range_count",
        F.size("values").cast("bigint").alias("n_cells"),
        vsum(),
        wsum(),
    ).orderBy("doc_id", "record_number")


@query(
    "grid_grib_quarantine_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id,
         4 + doc_id % 3 AS ni,
         3 + doc_id % 2 AS nj
  FROM documents WHERE doc_id % 59 = 23 AND doc_id < 645
),
cells AS (
  SELECT doc_id, r.r + 1 AS rn,
         40 + 2 * ((doc_id * 11 + r.r * 3 + i.i * 7 + j.j * 5) % 30) AS v
  FROM g,
       UNNEST(generate_series(0, 2)) AS r(r),
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj - 1)) AS j) j
  WHERE r.r <> 1  -- record 2 is the quarantined one: no cells land
),
rec AS (
  SELECT doc_id, rn, CAST(COUNT(*) AS BIGINT) AS n_cells,
         CAST(SUM(v) AS BIGINT) AS vsum
  FROM cells GROUP BY doc_id, rn
  UNION ALL
  SELECT doc_id, 2, NULL, NULL FROM g
  UNION ALL
  SELECT doc_id, 4, NULL, NULL FROM g
)
SELECT doc_id,
       CAST(rn AS INTEGER) AS record_number,
       CAST(CASE WHEN rn IN (2, 4) THEN 1 ELSE 0 END AS BIGINT) AS is_error,
       CASE rn WHEN 2 THEN 'template' WHEN 4 THEN 'framing' END
         AS error_kind,
       n_cells, vsum
FROM rec
ORDER BY doc_id, rn
""",
)
def grid_grib_quarantine_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRUPT-RECORD QUARANTINE — the 100 TB operational posture of
    the landing scan: one torn or undecodable record among 100k files
    must not kill the job, and silently skipping it would be data
    loss, so ``on_error="quarantine"`` lands it as ONE row with the
    ``error`` column set (path, record number, the codec's ValueError
    text) and every other field NULL — the quarantine manifest a
    re-ingest job consumes — while good records, INCLUDING those
    before a tear in the same file, land normally (Spark's own
    PERMISSIVE/columnNameOfCorruptRecord posture, applied to the GRIB
    codec boundary; the default ``fail`` mode keeps the strict stop
    every other catalog query runs under).

    Each document's archive carries a good record, a record whose PDT
    word is patched to the RESERVED 4.65534 (no WMO template is or
    will be assigned there — a semantic reject that can never start
    decoding, unlike the previously-used 4.30 and 4.40, both of which
    the engine has since learned; quarantined, scan CONTINUES to the
    next record), another good
    record, and a torn trailing message (framing reject — quarantined,
    file ends there since record numbering itself is gone).  The
    oracle pins the exact 4-row pattern per document: good rows keep
    their payload sums, error rows carry their kind and NULL payload.

    Scale: identical plan shape to every landing scan (one Arrow
    decode stage, only statistic rows shuffle) — quarantine adds a
    per-record try/except, no extra pass and no extra shuffle.
    """
    import numpy as np

    from ..grid.grib2 import encode_grib2_message

    def build(d: int) -> bytes:
        ni, nj = 4 + d % 3, 3 + d % 2
        i = np.arange(ni)[None, :]
        j = np.arange(nj)[:, None]

        def field(r: int) -> np.ndarray:
            return (
                40 + 2 * ((d * 11 + r * 3 + i * 7 + j * 5) % 30)
            ).astype(np.float64)

        enc = dict(
            category=0, number=1,
            reference_value=40.0, binary_scale=1, nbits=8,
        )
        msgs = [encode_grib2_message(field(r), **enc) for r in range(3)]
        # record 2: PDT word patched to the RESERVED 4.65534
        # (never assignable — the fixture's reject template is
        # now PERMANENT; its r14 pick 4.30 and r15 pick 4.40
        # both since started decoding) — the decode must
        # quarantine it and CONTINUE
        bad = bytearray(msgs[1])
        pos = 16
        while bad[pos + 4] != 4:
            pos += int.from_bytes(bad[pos : pos + 4], "big")
        bad[pos + 7] = 0xFF
        bad[pos + 8] = 0xFE
        # record 4: a torn trailing message (magic present,
        # body chopped) — framing quarantine ends the file
        torn = msgs[2][: len(msgs[2]) - 9]
        return msgs[0] + bytes(bad) + msgs[2] + torn

    records = landed_records(
        spark, sf_dir, (59, 23, 645), build, on_error="quarantine"
    )
    zero = F.lit(0).cast("bigint")
    return records.select(
        "doc_id",
        "record_number",
        F.col("error").isNotNull().cast("bigint").alias("is_error"),
        F.when(F.col("error").startswith("record framing"), "framing")
        .when(F.col("error").contains("product definition template"), "template")
        .alias("error_kind"),
        F.when(
            F.col("error").isNull(), F.size("values").cast("bigint")
        ).alias("n_cells"),
        F.when(
            F.col("error").isNull(),
            F.aggregate("values", zero, lambda a, x: a + x.cast("bigint")),
        ).alias("vsum"),
    ).orderBy("doc_id", "record_number")


@query(
    "grid_grib2_error_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id,
         4 + doc_id % 3 AS ni,
         3 + doc_id % 2 AS nj
  FROM documents WHERE doc_id % 53 = 17 AND doc_id < 645
),
cells AS (
  SELECT doc_id, r.r + 1 AS rn,
         60 + 2 * ((doc_id * 3 + r.r * 7 + i.i * 5 + j.j * 9) % 40) AS v,
         j.j * ni + i.i AS pos
  FROM g,
       UNNEST(generate_series(0, 2)) AS r(r),
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj - 1)) AS j) j
)
SELECT doc_id,
       CAST(rn AS INTEGER) AS record_number,
       CAST(CASE rn WHEN 1 THEN 0 WHEN 2 THEN 7 WHEN 3 THEN 8 END
         AS INTEGER) AS product_template,
       CAST(CASE WHEN rn = 3 THEN 1 END AS INTEGER) AS statistical_process,
       CASE WHEN rn = 3 THEN make_timestamp(
         2020, 1 + doc_id % 12, 2, 6, 0, 0
       ) END AS interval_end,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(v) AS BIGINT) AS vsum,
       CAST(SUM(v * pos) AS BIGINT) AS wsum
FROM cells
GROUP BY doc_id, rn
ORDER BY doc_id, rn
""",
)
def grid_grib2_error_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYSIS-ERROR fields (PDT 4.7) and the ``product_template``
    landing column that makes them usable: template 4.7's octet layout
    is IDENTICAL to 4.0's — an error field is distinguishable from the
    analysis itself only by the template number, so the landing schema
    now carries it (NULL on edition 1, which has no PDT numbering).
    This is also the wgrib2-style family selector: "all statistical
    products" / "all ensemble-derived products" become plain column
    filters on landed archives (the reference reads these archives
    through wgrib2, /root/reference/src/file-conversions.js:49-51).

    One multi-field message per document carries the 4.0 analysis, its
    4.7 error field and a 4.8 statistical product; the oracle pins the
    template number per record (0 / 7 / 8 — a decoder collapsing 4.7
    onto 4.0 hash-mismatches immediately), the statistical columns
    staying NULL on 4.0 AND 4.7, and raster-order-sensitive payload
    sums.

    Scale: the landing posture — submessage splitting is section
    slicing; only per-record statistic rows shuffle.
    """
    import numpy as np

    from ..grid.grib2 import encode_grib2_message, merge_grib2_fields

    def build(d: int) -> bytes:
        ni, nj = 4 + d % 3, 3 + d % 2
        i = np.arange(ni)[None, :]
        j = np.arange(nj)[:, None]

        def field(r: int) -> np.ndarray:
            return (
                60 + 2 * ((d * 3 + r * 7 + i * 5 + j * 9) % 40)
            ).astype(np.float64)

        enc = dict(
            category=0, number=1,
            reference_value=60.0, binary_scale=1, nbits=8,
        )
        msgs = [
            encode_grib2_message(field(0), **enc),
            encode_grib2_message(field(1), error=True, **enc),
            encode_grib2_message(
                field(2),
                statistical=dict(
                    process=1,
                    interval_end=(2020, 1 + d % 12, 2, 6, 0),
                    range_hours=6,
                ),
                **enc,
            ),
        ]
        return merge_grib2_fields(msgs)

    records = landed_records(spark, sf_dir, (53, 17, 645), build)
    return records.select(
        "doc_id",
        "record_number",
        "product_template",
        "statistical_process",
        "interval_end",
        F.size("values").cast("bigint").alias("n_cells"),
        vsum(),
        wsum(),
    ).orderBy("doc_id", "record_number")


@query(
    "grid_grib2_satellite_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id,
         4 + doc_id % 3 AS ni,
         3 + doc_id % 2 AS nj
  FROM documents WHERE doc_id % 61 = 29 AND doc_id < 645
),
cells AS (
  SELECT doc_id, r.r + 1 AS rn,
         40 + 2 * ((doc_id * 7 + r.r * 5 + i.i * 3 + j.j * 11) % 45) AS v
  FROM g,
       UNNEST(generate_series(0, 2)) AS r(r),
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj - 1)) AS j) j
),
vs AS (
  SELECT doc_id, rn, CAST(SUM(v) AS BIGINT) AS vsum
  FROM cells GROUP BY doc_id, rn
),
bands31 AS (
  SELECT doc_id, b.b AS b,
         300 + doc_id % 5 AS series,
         10 + b.b AS sat_number,
         600 + (doc_id + b.b) % 7 AS instrument,
         CAST(700 + (doc_id % 50) + b.b AS DOUBLE)
           / POWER(10, (b.b % 3) - 1) AS wave
  FROM g,
       LATERAL (SELECT unnest(generate_series(0, doc_id % 3)) AS b) b
),
w31 AS (
  SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS satellite_bands,
         CAST(MIN(CASE WHEN b = 0 THEN series END) AS INTEGER)
           AS first_series,
         CAST(SUM(sat_number) AS BIGINT) AS num_sum,
         CAST(MIN(CASE WHEN b = 0 THEN instrument END) AS INTEGER)
           AS first_instrument,
         ROUND(SUM(wave), 6) AS wave_sum
  FROM bands31 GROUP BY doc_id
),
rec AS (
  SELECT g.doc_id, 1 AS rn, CAST(31 AS INTEGER) AS product_template,
         w31.satellite_bands, w31.first_series, w31.num_sum,
         w31.first_instrument, w31.wave_sum,
         CAST(NULL AS INTEGER) AS forecast_hours
  FROM g JOIN w31 ON g.doc_id = w31.doc_id
  UNION ALL
  SELECT doc_id, 2, CAST(32 AS INTEGER), CAST(1 AS INTEGER),
         CAST(310 AS INTEGER), CAST(15 AS BIGINT),
         CAST(650 + doc_id % 5 AS INTEGER),
         ROUND(CAST(900 + doc_id % 30 AS DOUBLE), 6),
         CAST(6 * (1 + doc_id % 4) AS INTEGER)
  FROM g
  UNION ALL
  SELECT doc_id, 3, CAST(0 AS INTEGER), CAST(NULL AS INTEGER),
         CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
         CAST(NULL AS INTEGER), CAST(NULL AS DOUBLE),
         CAST(0 AS INTEGER)
  FROM g
)
SELECT rec.doc_id, CAST(rec.rn AS INTEGER) AS record_number,
       rec.product_template, rec.satellite_bands, rec.first_series,
       rec.num_sum, rec.first_instrument,
       rec.wave_sum, rec.forecast_hours, vs.vsum
FROM rec JOIN vs ON rec.doc_id = vs.doc_id AND rec.rn = vs.rn
ORDER BY rec.doc_id, rec.rn
""",
)
def grid_grib2_satellite_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SATELLITE products through the landing scan — PDT 4.31
    (observational satellite imagery, the non-deprecated successor of
    4.30) and 4.32 (simulated/synthetic satellite imagery, the
    GOES-brightness-temperature form NCEP publishes from GFS/NAM).
    Both templates abandon the 4.0 family layout after the parameter
    octets: there are NO fixed surfaces (the contributing-spectral-
    band list stands where the level octets would be — a family-offset
    read would decode band data as levels), and 4.31 has no
    forecast-time octets either (an observation at the reference
    time).  The decode lands ``satellite_bands`` /
    ``satellite_instruments`` / ``central_wavenumbers`` columns (NULL
    on every non-satellite product), the level columns stay NULL, and
    ``forecast_hours`` is NULL on 4.31 but carries 4.32's real lead.

    Each document's archive holds a 4.31 record with 1-3 bands (the
    first band's wave-number scale factor is NEGATIVE — sign-magnitude
    on this surface too), a single-band 4.32 with a per-document lead,
    and a plain 4.0 record proving the NULL contract.  The oracle pins
    the per-band central wave numbers (value · 10^-scale), the band
    counts, the first instrument, the lead split (NULL / real / 0) and
    payload sums.

    The ensemble satellite forms 4.33/4.34 decode through the same
    branch (witnessed by grid_grib2_ensemble_satellite_scan), the
    radar template 4.20 through its own (grid_grib2_radar_scan), and
    since r15 the deprecated 4.30 decodes through its own ONE-OCTET-
    narrower band width (witnessed by
    grid_grib2_deprecated_satellite_scan) — no named product-template
    boundary remains.

    Scale: identical plan shape to every landing scan — one Arrow
    decode stage, only per-record statistic rows shuffle.
    """
    import numpy as np

    from ..grid.grib2 import encode_grib2_message

    def build(d: int) -> bytes:
        ni, nj = 4 + d % 3, 3 + d % 2
        i = np.arange(ni)[None, :]
        j = np.arange(nj)[:, None]

        def field(r: int) -> np.ndarray:
            return (
                40 + 2 * ((d * 7 + r * 5 + i * 3 + j * 11) % 45)
            ).astype(np.float64)

        enc = dict(
            category=4, number=7,
            reference_value=40.0, binary_scale=1, nbits=8,
        )
        obs_bands = [
            dict(
                series=300 + d % 5,
                number=10 + b,
                instrument=600 + (d + b) % 7,
                scale=(b % 3) - 1,
                value=700 + (d % 50) + b,
            )
            for b in range(1 + d % 3)
        ]
        msgs = [
            encode_grib2_message(
                field(0), satellite=dict(bands=obs_bands), **enc
            ),
            encode_grib2_message(
                field(1),
                satellite=dict(
                    simulated=True,
                    bands=[
                        dict(
                            series=310,
                            number=15,
                            instrument=650 + d % 5,
                            scale=0,
                            value=900 + d % 30,
                        )
                    ],
                ),
                forecast=dict(unit=1, value=6 * (1 + d % 4)),
                **enc,
            ),
            encode_grib2_message(field(2), **enc),
        ]
        return b"".join(msgs)

    records = landed_records(spark, sf_dir, (61, 29, 645), build)
    return records.select(
        "doc_id",
        "record_number",
        "product_template",
        "satellite_bands",
        F.element_at("satellite_series", 1).alias("first_series"),
        F.aggregate(
            "satellite_numbers",
            F.lit(0).cast("bigint"),
            lambda a, x: a + x.cast("bigint"),
        ).alias("num_sum"),
        F.element_at("satellite_instruments", 1).alias("first_instrument"),
        F.round(
            F.aggregate(
                "central_wavenumbers", F.lit(0.0), lambda a, x: a + x
            ),
            6,
        ).alias("wave_sum"),
        "forecast_hours",
        vsum(),
    ).orderBy("doc_id", "record_number")


@query(
    "grid_grib2_ensemble_satellite_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id,
         4 + doc_id % 3 AS ni,
         3 + doc_id % 2 AS nj
  FROM documents WHERE doc_id % 67 = 31 AND doc_id < 700
),
cells AS (
  SELECT doc_id, r.r + 1 AS rn,
         30 + 2 * ((doc_id * 5 + r.r * 9 + i.i * 7 + j.j * 3) % 35) AS v
  FROM g,
       UNNEST(generate_series(0, 2)) AS r(r),
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj - 1)) AS j) j
),
vs AS (
  SELECT doc_id, rn, CAST(SUM(v) AS BIGINT) AS vsum
  FROM cells GROUP BY doc_id, rn
),
w33 AS (
  SELECT doc_id,
         CAST(COUNT(*) AS INTEGER) AS satellite_bands,
         ROUND(SUM(
           CAST(500 + doc_id % 40 + 3 * b.b AS DOUBLE)
             / POWER(10, b.b % 2)
         ), 6) AS wave_sum
  FROM g, LATERAL (SELECT unnest(generate_series(0, doc_id % 2)) AS b) b
  GROUP BY doc_id
),
rec AS (
  SELECT g.doc_id, 1 AS rn, CAST(33 AS INTEGER) AS product_template,
         CAST(1 + g.doc_id % 5 AS INTEGER) AS ensemble_member,
         CAST(10 AS INTEGER) AS ensemble_size,
         w33.satellite_bands, w33.wave_sum,
         CAST(6 * (1 + g.doc_id % 3) AS INTEGER) AS forecast_hours,
         CAST(NULL AS INTEGER) AS statistical_process,
         CAST(NULL AS TIMESTAMP) AS interval_end
  FROM g JOIN w33 ON w33.doc_id = g.doc_id
  UNION ALL
  SELECT doc_id, 2, CAST(34 AS INTEGER),
         CAST(2 + doc_id % 4 AS INTEGER), CAST(8 AS INTEGER),
         CAST(1 AS INTEGER),
         ROUND(CAST((90 + doc_id % 10) * 10 AS DOUBLE), 6),
         CAST(6 AS INTEGER), CAST(1 AS INTEGER),
         make_timestamp(2021, 1 + doc_id % 12, 2, 6, 0, 0)
  FROM g
  UNION ALL
  SELECT doc_id, 3, CAST(32 AS INTEGER),
         CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
         CAST(1 AS INTEGER),
         ROUND(CAST(777 AS DOUBLE), 6),
         CAST(12 AS INTEGER), CAST(NULL AS INTEGER),
         CAST(NULL AS TIMESTAMP)
  FROM g
)
SELECT rec.doc_id, CAST(rec.rn AS INTEGER) AS record_number,
       rec.product_template, rec.ensemble_member, rec.ensemble_size,
       rec.satellite_bands, rec.wave_sum, rec.forecast_hours,
       rec.statistical_process, rec.interval_end, vs.vsum
FROM rec JOIN vs ON rec.doc_id = vs.doc_id AND rec.rn = vs.rn
ORDER BY rec.doc_id, rec.rn
""",
)
def grid_grib2_ensemble_satellite_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENSEMBLE SIMULATED SATELLITE products (PDT 4.33/4.34 — the
    per-member synthetic-imagery forms ensembles publish beside 4.32)
    through the landing scan: 4.32's leading layout, the three
    4.1-style ensemble octets AFTER the contributing-spectral-band
    list, and — 4.34 — the 4.8 statistical block after those, the
    second variable-offset statistical family besides 4.13/4.14 (a
    parser reusing a fixed offset would decode band octets as the
    interval end).  The ensemble octets land in the SAME unified
    ``ensemble_member``/``ensemble_size`` columns as 4.1/4.11, so
    "member 7 of the simulated-imagery ensemble" filters identically
    across plain and satellite archives; levels stay NULL (no fixed
    surfaces).

    Each document's archive holds a 4.33 with 1-2 bands and a
    per-document member/lead, a single-band 4.34 accumulation (its
    interval end exercising the variable-offset statistical block
    behind the band list), and a 4.32 control proving the ensemble
    columns stay NULL on the non-ensemble form.  The oracle pins the
    per-band central wave numbers, the member/size split, the
    statistical columns and payload sums.

    Scale: identical plan shape to every landing scan — one Arrow
    decode stage, only per-record statistic rows shuffle.
    """
    import numpy as np

    from ..grid.grib2 import encode_grib2_message

    def build(d: int) -> bytes:
        ni, nj = 4 + d % 3, 3 + d % 2
        i = np.arange(ni)[None, :]
        j = np.arange(nj)[:, None]

        def field(r: int) -> np.ndarray:
            return (
                30 + 2 * ((d * 5 + r * 9 + i * 7 + j * 3) % 35)
            ).astype(np.float64)

        enc = dict(
            category=4, number=9,
            reference_value=30.0, binary_scale=1, nbits=8,
        )
        bands33 = [
            dict(
                series=300 + b,
                number=12 + b,
                instrument=600 + b,
                scale=b % 2,
                value=500 + d % 40 + 3 * b,
            )
            for b in range(1 + d % 2)
        ]
        msgs = [
            encode_grib2_message(
                field(0),
                satellite=dict(simulated=True, bands=bands33),
                ensemble=dict(type=3, member=1 + d % 5, size=10),
                forecast=dict(unit=1, value=6 * (1 + d % 3)),
                **enc,
            ),
            encode_grib2_message(
                field(1),
                satellite=dict(
                    simulated=True,
                    bands=[
                        dict(
                            series=310, number=20, instrument=650,
                            scale=-1, value=90 + d % 10,
                        )
                    ],
                ),
                ensemble=dict(type=4, member=2 + d % 4, size=8),
                forecast=dict(unit=1, value=6),
                statistical=dict(
                    process=1,
                    interval_end=(2021, 1 + d % 12, 2, 6, 0),
                    range_hours=6,
                ),
                **enc,
            ),
            encode_grib2_message(
                field(2),
                satellite=dict(
                    simulated=True,
                    bands=[
                        dict(
                            series=320, number=25, instrument=660,
                            scale=0, value=777,
                        )
                    ],
                ),
                forecast=dict(unit=1, value=12),
                **enc,
            ),
        ]
        return b"".join(msgs)

    records = landed_records(spark, sf_dir, (67, 31, 700), build)
    return records.select(
        "doc_id",
        "record_number",
        "product_template",
        "ensemble_member",
        "ensemble_size",
        "satellite_bands",
        F.round(
            F.aggregate(
                "central_wavenumbers", F.lit(0.0), lambda a, x: a + x
            ),
            6,
        ).alias("wave_sum"),
        "forecast_hours",
        "statistical_process",
        "interval_end",
        vsum(),
    ).orderBy("doc_id", "record_number")


@query(
    "grid_grib2_radar_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id,
         4 + doc_id % 3 AS ni,
         3 + doc_id % 2 AS nj
  FROM documents WHERE doc_id % 71 = 13 AND doc_id < 700
),
cells AS (
  SELECT doc_id, r.r + 1 AS rn,
         20 + ((doc_id * 3 + r.r * 11 + i.i * 5 + j.j * 7) % 45) AS v
  FROM g,
       UNNEST(generate_series(0, 1)) AS r(r),
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj - 1)) AS j) j
),
vs AS (
  SELECT doc_id, rn, CAST(SUM(v) AS BIGINT) AS vsum
  FROM cells GROUP BY doc_id, rn
)
SELECT g.doc_id,
       CAST(vs.rn AS INTEGER) AS record_number,
       CAST(CASE vs.rn WHEN 1 THEN 20 ELSE 0 END AS INTEGER)
         AS product_template,
       CAST(CASE WHEN vs.rn = 1 THEN 1 + g.doc_id % 4 END AS INTEGER)
         AS radar_sites,
       CASE WHEN vs.rn = 1 THEN
         CASE g.doc_id % 4 WHEN 0 THEN 'KTLX' WHEN 1 THEN 'KFWS'
                           WHEN 2 THEN 'KAMA' ELSE 'KINX' END
       END AS radar_site_id,
       CAST(CASE WHEN vs.rn = 1 THEN 300 + g.doc_id % 50 END AS INTEGER)
         AS radar_site_number,
       CASE WHEN vs.rn = 1 THEN 30.5 + g.doc_id % 20 END
         AS radar_site_lat,
       CASE WHEN vs.rn = 1 THEN -(90.0 + (g.doc_id % 30) * 0.5) END
         AS radar_site_lon,
       CAST(CASE WHEN vs.rn = 1 THEN 100 + g.doc_id % 300 END AS INTEGER)
         AS radar_elevation_m,
       CAST(CASE WHEN vs.rn = 1 THEN g.doc_id % 3 END AS INTEGER)
         AS radar_operating_mode,
       CAST(CASE WHEN vs.rn = 2 THEN 0 END AS INTEGER) AS forecast_hours,
       vs.vsum
FROM g JOIN vs ON vs.doc_id = g.doc_id
ORDER BY g.doc_id, vs.rn
""",
)
def grid_grib2_radar_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RADAR products (PDT 4.20 — the site-based template wgrib2
    consumes through the very -match scan path the reference shells to,
    /root/reference/src/file-conversions.js:76-112) through the landing
    scan: the template shares nothing past the parameter octets with
    the 4.0 family — site coordinates (signed-magnitude µdeg, the
    longitude here NEGATIVE to witness the sign bit), elevation,
    CCITT-IA5 and numeric site identifiers and the code-table-4.12
    operating mode land in the radar_* columns, while the level
    columns and ``forecast_hours`` stay NULL (an observation at the
    reference time has neither).

    Each document's archive holds a 4.20 with per-document site
    metadata and a plain 4.0 control record proving the NULL contract
    both ways (radar columns NULL on 4.0, lead/level NULL on 4.20).
    The oracle pins every site column plus payload sums.

    Scale: identical plan shape to every landing scan — one Arrow
    decode stage, only per-record statistic rows shuffle.
    """
    import numpy as np

    from ..grid.grib2 import encode_grib2_message

    def build(d: int) -> bytes:
        ni, nj = 4 + d % 3, 3 + d % 2
        i = np.arange(ni)[None, :]
        j = np.arange(nj)[:, None]

        def field(r: int) -> np.ndarray:
            return (
                20 + ((d * 3 + r * 11 + i * 5 + j * 7) % 45)
            ).astype(np.float64)

        enc = dict(reference_value=20.0, binary_scale=0, nbits=8)
        site_id = ["KTLX", "KFWS", "KAMA", "KINX"][d % 4]
        msgs = [
            encode_grib2_message(
                field(0),
                discipline=15,
                category=1,
                number=195,
                radar=dict(
                    sites=1 + d % 4,
                    site_id=site_id,
                    site_number=300 + d % 50,
                    lat_udeg=30_500_000 + (d % 20) * 1_000_000,
                    lon_udeg=-(90_000_000 + (d % 30) * 500_000),
                    elevation_m=100 + d % 300,
                    mode=d % 3,
                ),
                **enc,
            ),
            encode_grib2_message(field(1), **enc),
        ]
        return b"".join(msgs)

    records = landed_records(spark, sf_dir, (71, 13, 700), build)
    return records.select(
        "doc_id",
        "record_number",
        "product_template",
        "radar_sites",
        "radar_site_id",
        "radar_site_number",
        "radar_site_lat",
        "radar_site_lon",
        "radar_elevation_m",
        "radar_operating_mode",
        "forecast_hours",
        vsum(),
    ).orderBy("doc_id", "record_number")


@query(
    "grid_grib2_probability_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id,
         4 + doc_id % 3 AS ni,
         3 + doc_id % 2 AS nj
  FROM documents WHERE doc_id % 41 = 7 AND doc_id < 645
),
cells AS (
  SELECT doc_id, r.r + 1 AS rn,
         50 + ((doc_id * 13 + r.r * 3 + i.i * 5 + j.j * 7) % 40) AS v
  FROM g,
       UNNEST(generate_series(0, 3)) AS r(r),
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj - 1)) AS j) j
)
SELECT doc_id,
       CAST(rn AS INTEGER) AS record_number,
       CAST(CASE rn WHEN 1 THEN 3 WHEN 2 THEN 0 WHEN 3 THEN 2
                    WHEN 4 THEN 1 END AS INTEGER) AS probability_type,
       CASE rn
         WHEN 1 THEN (27315 + doc_id) / 100.0
         WHEN 2 THEN CAST(-(5 + doc_id % 7) AS DOUBLE)
         WHEN 3 THEN (doc_id % 50) / 10.0
       END AS prob_lower_limit,
       CASE rn
         WHEN 3 THEN (doc_id % 50 + 25) / 10.0
         WHEN 4 THEN (2 + doc_id % 5) / POWER(10.0, -1)
       END AS prob_upper_limit,
       CAST(CASE WHEN rn = 4 THEN 1 END AS INTEGER) AS statistical_process,
       CASE WHEN rn = 4 THEN make_timestamp(
         2020, 1 + doc_id % 12, 1, 6, 0, 0
       ) END AS interval_end,
       CAST(CASE WHEN rn = 4 THEN 1 END AS INTEGER) AS time_range_count,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(v) AS BIGINT) AS vsum
FROM cells
GROUP BY doc_id, rn
ORDER BY doc_id, rn
""",
)
def grid_grib2_probability_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROBABILITY forecasts (PDT 4.5 / 4.9 + statistical interval)
    through the REAL landing path — the other common operational
    ensemble-derived form (NCEP SREF/GEFS probability products), read
    by the reference through wgrib2 (/root/reference/src/
    file-conversions.js:49-51,76-112).  One multi-field message per
    document carries P(>lower), P(<lower), P(between) and a 4.9
    P(>upper) over a statistical interval; the landing schema's
    ``probability_type`` / ``prob_lower_limit`` / ``prob_upper_limit``
    columns make threshold filters plain column predicates on landed
    archives.

    The oracle pins the error-prone threshold decode closed-form:
    positive/zero/NEGATIVE scale factors (value / 10^scale with
    signed-magnitude octets — two's complement would decode a negative
    threshold as a huge magnitude), a sign-magnitude NEGATIVE scaled
    value, and the NULL contract on whichever side each probability
    type leaves unbounded — plus the 4.9 statistical block at +13 past
    4.8's offset and per-field payload sums.

    Scale: the landing posture — submessage splitting is section
    slicing; only per-record statistic rows shuffle.
    """
    import numpy as np

    from ..grid.grib2 import encode_grib2_message, merge_grib2_fields

    def build(d: int) -> bytes:
        ni, nj = 4 + d % 3, 3 + d % 2
        i = np.arange(ni)[None, :]
        j = np.arange(nj)[:, None]

        def field(r: int) -> np.ndarray:
            return (
                50 + ((d * 13 + r * 3 + i * 5 + j * 7) % 40)
            ).astype(np.float64)

        enc = dict(category=1, number=8, reference_value=50.0, nbits=8)
        msgs = [
            encode_grib2_message(
                field(0), **enc,
                probability=dict(
                    number=0, total=4, type=3, lower=(2, 27315 + d)
                ),
            ),
            encode_grib2_message(
                field(1), **enc,
                probability=dict(
                    number=1, total=4, type=0,
                    lower=(0, -(5 + d % 7)),
                ),
            ),
            encode_grib2_message(
                field(2), **enc,
                probability=dict(
                    number=2, total=4, type=2,
                    lower=(1, d % 50), upper=(1, d % 50 + 25),
                ),
            ),
            encode_grib2_message(
                field(3), **enc,
                probability=dict(
                    number=3, total=4, type=1,
                    upper=(-1, 2 + d % 5),
                ),
                statistical=dict(
                    process=1,
                    interval_end=(2020, 1 + d % 12, 1, 6, 0),
                    range_hours=6,
                ),
            ),
        ]
        return merge_grib2_fields(msgs)

    records = landed_records(spark, sf_dir, (41, 7, 645), build)
    return records.select(
        "doc_id",
        "record_number",
        "probability_type",
        "prob_lower_limit",
        "prob_upper_limit",
        "statistical_process",
        "interval_end",
        "time_range_count",
        F.size("values").cast("bigint").alias("n_cells"),
        vsum(),
    ).orderBy("doc_id", "record_number")


@query(
    "grid_grib2_percentile_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id,
         4 + doc_id % 2 AS ni,
         3 + doc_id % 3 AS nj
  FROM documents WHERE doc_id % 37 = 5 AND doc_id < 645
),
cells AS (
  SELECT doc_id, r.r + 1 AS rn,
         80 + ((doc_id * 7 + r.r * 11 + i.i * 3 + j.j * 5) % 45) AS v
  FROM g,
       UNNEST(generate_series(0, 3)) AS r(r),
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj - 1)) AS j) j
)
SELECT doc_id,
       CAST(rn AS INTEGER) AS record_number,
       CAST(CASE rn WHEN 1 THEN 10 WHEN 2 THEN 50 WHEN 3 THEN 90
                    WHEN 4 THEN 75 END AS INTEGER) AS percentile_value,
       CAST(CASE WHEN rn = 4 THEN 0 END AS INTEGER) AS statistical_process,
       CASE WHEN rn = 4 THEN make_timestamp(
         2020, 1 + doc_id % 12, 3, 12, 0, 0
       ) END AS interval_end,
       CAST(CASE WHEN rn = 4 THEN 1 END AS INTEGER) AS time_range_count,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(v) AS BIGINT) AS vsum
FROM cells
GROUP BY doc_id, rn
ORDER BY doc_id, rn
""",
)
def grid_grib2_percentile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENTILE forecasts (PDT 4.6 / 4.10 + statistical interval)
    through the REAL landing path — completing the operational
    ensemble-derived family (members 4.1/4.11, derived 4.2/4.12,
    probability 4.5/4.9, percentile 4.6/4.10), read by the reference
    through wgrib2 (/root/reference/src/file-conversions.js:49-51,
    76-112).  One multi-field message per document carries the
    10th/50th/90th instantaneous percentiles and a 4.10 75th
    percentile over a statistical interval; the landing schema's
    ``percentile_value`` column makes percentile selection a plain
    column filter on landed archives.

    The oracle pins the percentile octet per field, the NULL contract
    on statistical columns for instantaneous 4.6 records, the 4.10
    statistical block at +1 past 4.8's offset, and per-field payload
    sums.

    Scale: the landing posture — submessage splitting is section
    slicing; only per-record statistic rows shuffle.
    """
    import numpy as np

    from ..grid.grib2 import encode_grib2_message, merge_grib2_fields

    def build(d: int) -> bytes:
        ni, nj = 4 + d % 2, 3 + d % 3
        i = np.arange(ni)[None, :]
        j = np.arange(nj)[:, None]

        def field(r: int) -> np.ndarray:
            return (
                80 + ((d * 7 + r * 11 + i * 3 + j * 5) % 45)
            ).astype(np.float64)

        enc = dict(category=1, number=8, reference_value=80.0, nbits=8)
        msgs = [
            encode_grib2_message(field(r), **enc, percentile=p)
            for r, p in ((0, 10), (1, 50), (2, 90))
        ]
        msgs.append(
            encode_grib2_message(
                field(3), **enc, percentile=75,
                statistical=dict(
                    process=0,
                    interval_end=(2020, 1 + d % 12, 3, 12, 0),
                    range_hours=24,
                ),
            )
        )
        return merge_grib2_fields(msgs)

    records = landed_records(spark, sf_dir, (37, 5, 645), build)
    return records.select(
        "doc_id",
        "record_number",
        "percentile_value",
        "statistical_process",
        "interval_end",
        "time_range_count",
        F.size("values").cast("bigint").alias("n_cells"),
        vsum(),
    ).orderBy("doc_id", "record_number")


@query(
    "grid_grib2_forecast_lead_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id,
         4 + doc_id % 3 AS ni,
         3 + doc_id % 2 AS nj
  FROM documents WHERE doc_id % 53 = 17 AND doc_id < 645
),
cells AS (
  SELECT doc_id, r.r + 1 AS rn,
         60 + ((doc_id * 3 + r.r * 7 + i.i * 11 + j.j * 2) % 50) AS v,
         CASE r.r WHEN 0 THEN 0
                  WHEN 1 THEN 6 + doc_id % 12
                  WHEN 2 THEN 3 * (2 + doc_id % 3)
                  WHEN 3 THEN 24 * (1 + doc_id % 5) END AS lead_h
  FROM g,
       UNNEST(generate_series(0, 3)) AS r(r),
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj - 1)) AS j) j
)
SELECT doc_id,
       CAST(rn AS INTEGER) AS record_number,
       CAST(lead_h AS INTEGER) AS forecast_hours,
       make_timestamp(2020, 1, 1, 0, 0, 0) + to_hours(lead_h) AS valid_time,
       CAST(CASE WHEN rn = 4 THEN 1 END AS INTEGER) AS statistical_process,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(v) AS BIGINT) AS vsum
FROM cells
GROUP BY doc_id, rn, lead_h
ORDER BY doc_id, rn
""",
)
def grid_grib2_forecast_lead_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORECAST LEAD TIME through the REAL landing path — octets 18-22
    of every 4.0-family product definition (unit from code table 4.4 +
    signed-magnitude value), the field that distinguishes GFS
    f000/f006/.../f384 products the reference reads through wgrib2
    (/root/reference/src/file-conversions.js:49-51,76-112).  One
    multi-field message per document carries an analysis (lead 0),
    an hour-unit lead, a 3-HOUR-unit lead (witnessing the code-table
    conversion — a decoder reading the value without the unit would be
    3x off) and a day-unit lead on a statistical 4.8 field (the lead
    octets precede octet 34, so they must NOT shift the statistical
    block).  ``valid_time`` is derived reftime + lead in BOTH engines,
    making lead-time selection and valid-time filtering plain column
    predicates on landed archives.

    Scale: the landing posture — submessage splitting is section
    slicing; only per-record statistic rows shuffle.
    """
    import numpy as np

    from ..grid.grib2 import encode_grib2_message, merge_grib2_fields

    def build(d: int) -> bytes:
        ni, nj = 4 + d % 3, 3 + d % 2
        i = np.arange(ni)[None, :]
        j = np.arange(nj)[:, None]

        def field(r: int) -> np.ndarray:
            return (
                60 + ((d * 3 + r * 7 + i * 11 + j * 2) % 50)
            ).astype(np.float64)

        enc = dict(category=0, number=0, reference_value=60.0, nbits=8)
        msgs = [
            encode_grib2_message(field(0), **enc),  # analysis
            encode_grib2_message(
                field(1), **enc,
                forecast=dict(unit=1, value=6 + d % 12),
            ),
            encode_grib2_message(
                field(2), **enc,
                forecast=dict(unit=10, value=2 + d % 3),  # 3-hour
            ),
            encode_grib2_message(
                field(3), **enc,
                forecast=dict(unit=2, value=1 + d % 5),  # days
                statistical=dict(
                    process=1,
                    interval_end=(2020, 2, 1, 0, 0),
                    range_hours=24,
                ),
            ),
        ]
        return merge_grib2_fields(msgs)

    records = landed_records(spark, sf_dir, (53, 17, 645), build)
    return records.select(
        "doc_id",
        "record_number",
        "forecast_hours",
        F.expr(
            "timestampadd(HOUR, forecast_hours,"
            " make_timestamp(year, month, day, hour, 0, 0))"
        ).alias("valid_time"),
        "statistical_process",
        F.size("values").cast("bigint").alias("n_cells"),
        vsum(),
    ).orderBy("doc_id", "record_number")


@query(
    "grid_grib1_forecast_lead_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id,
         4 + doc_id % 3 AS ni,
         3 + doc_id % 2 AS nj
  FROM documents WHERE doc_id % 53 = 29 AND doc_id < 645
),
cells AS (
  SELECT doc_id, r.r + 1 AS rn,
         60 + ((doc_id * 3 + r.r * 7 + i.i * 11 + j.j * 2) % 50) AS v,
         CASE r.r WHEN 0 THEN 0
                  WHEN 1 THEN 12 * (1 + doc_id % 4)
                  WHEN 2 THEN 300 + doc_id % 90
                  WHEN 3 THEN doc_id % 4 END AS lead_h
  FROM g,
       UNNEST(generate_series(0, 3)) AS r(r),
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj - 1)) AS j) j
)
SELECT doc_id,
       CAST(rn AS INTEGER) AS record_number,
       CAST(lead_h AS INTEGER) AS forecast_hours,
       make_timestamp(2020, 1, 1, 0, 0, 0) + to_hours(lead_h) AS valid_time,
       CAST(CASE WHEN rn = 4 THEN 1 END AS INTEGER) AS statistical_process,
       CASE WHEN rn = 4 THEN make_timestamp(2020, 1, 1, 0, 0, 0)
                            + to_hours(doc_id % 4 + 6) END AS interval_end,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(v) AS BIGINT) AS vsum
FROM cells
GROUP BY doc_id, rn, lead_h
ORDER BY doc_id, rn
""",
)
def grid_grib1_forecast_lead_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRIB EDITION-1 forecast lead times through the REAL landing path
    — PDS octets 18-21 (code-table-4 unit, P1, P2, time range
    indicator), the fields that distinguish an ERA5 analysis from a
    forecast step in the edition-1 downloads the reference feeds to
    wgrib (/root/reference/src/file-conversions.js:114-127).  One
    4-record file per document carries an analysis (TRI 0, lead 0), a
    12-HOUR-unit lead (witnessing the code-table multiply — a decoder
    reading P1 without the unit would be 12x off), a >255-hour lead in
    the TRI-10 layout (P1 spans octets 19-20 — the GFS f384 case a
    1-octet reader truncates) and a TRI-4 accumulation whose P1/P2
    interval lands as the SAME statistical_process / interval_end
    columns GRIB2's template 4.8 uses (process normalized to
    code-table-4.10 numbering) — so lead-time selection, valid-time
    arithmetic and accumulation filtering are identical column
    predicates across editions on mixed archives.

    Scale: the landing posture — one decode task per file batch; only
    per-record statistic rows shuffle.
    """
    import numpy as np

    from ..grid.grib1 import encode_grib1_message

    def build(d: int) -> bytes:
        ni, nj = 4 + d % 3, 3 + d % 2
        i = np.arange(ni)[None, :]
        j = np.arange(nj)[:, None]

        def field(r: int) -> np.ndarray:
            return (
                60 + ((d * 3 + r * 7 + i * 11 + j * 2) % 50)
            ).astype(np.float64)

        enc = dict(reference_value=60.0, nbits=8)
        msgs = [
            encode_grib1_message(field(0), **enc),  # analysis
            encode_grib1_message(
                field(1), **enc,
                forecast=dict(unit=12, value=1 + d % 4),  # 12-hour
            ),
            encode_grib1_message(
                field(2), **enc,
                forecast=dict(unit=1, value=300 + d % 90),  # TRI 10
            ),
            encode_grib1_message(
                field(3), **enc,
                statistical=dict(
                    process=1, start=d % 4, end=d % 4 + 6
                ),
            ),
        ]
        return b"".join(msgs)

    records = landed_records(spark, sf_dir, (53, 29, 645), build)
    return records.select(
        "doc_id",
        "record_number",
        "forecast_hours",
        F.expr(
            "timestampadd(HOUR, forecast_hours,"
            " make_timestamp(year, month, day, hour, 0, 0))"
        ).alias("valid_time"),
        "statistical_process",
        "interval_end",
        F.size("values").cast("bigint").alias("n_cells"),
        vsum(),
    ).orderBy("doc_id", "record_number")


@query(
    "grid_grib_layer_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id,
         4 + doc_id % 3 AS ni,
         3 + doc_id % 2 AS nj
  FROM documents WHERE doc_id % 53 = 41 AND doc_id < 645
),
cells AS (
  SELECT doc_id, r.r + 1 AS rn,
         60 + ((doc_id * 3 + r.r * 7 + i.i * 11 + j.j * 2) % 50) AS v
  FROM g,
       UNNEST(generate_series(0, 3)) AS r(r),
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj - 1)) AS j) j
)
SELECT doc_id,
       CAST(rn AS INTEGER) AS record_number,
       CAST(CASE WHEN rn <= 2 THEN 2 ELSE 1 END AS INTEGER) AS edition,
       CAST(CASE rn WHEN 1 THEN 100 WHEN 2 THEN 106
                    WHEN 3 THEN 100 WHEN 4 THEN 112 END AS INTEGER)
         AS level_type,
       CAST(CASE rn WHEN 1 THEN 850 + doc_id % 100 WHEN 2 THEN 0
                    WHEN 3 THEN 500 + doc_id % 200
                    WHEN 4 THEN doc_id % 20 END AS INTEGER) AS level,
       CAST(CASE rn WHEN 2 THEN 106 WHEN 4 THEN 112 END AS INTEGER)
         AS level2_type,
       CAST(CASE rn WHEN 2 THEN 10 * (1 + doc_id % 3)
                    WHEN 4 THEN doc_id % 20 + 10 END AS INTEGER) AS level2,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(v) AS BIGINT) AS vsum
FROM cells
GROUP BY doc_id, rn
ORDER BY doc_id, rn
""",
)
def grid_grib_layer_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAYER products through the REAL landing path, BOTH editions —
    the level surface the reference's wgrib/wgrib2 invocations print as
    "0-10 cm down" (/root/reference/src/file-conversions.js:49-51,
    114-127).  GRIB2 template 4.0's SECOND fixed surface (octets 29-34,
    coded missing on point levels) and GRIB1's code-table-3 layer level
    types (octets 11-12 split as top/bottom for types like 112) both
    land on unified ``level2_type``/``level2`` columns, NULL on point
    levels — so "is a layer" and "which layer" are plain column
    predicates on mixed-edition archives.  Each document's file mixes a
    GRIB2 isobaric point level, a GRIB2 soil layer whose second surface
    uses a NEGATIVE signed-magnitude scale factor (value x 10 — a
    two's-complement or sign-blind reader lands a wrong bottom), a
    GRIB1 16-bit point level (witnessing the split is NOT applied to
    point types) and a GRIB1 type-112 depth layer (witnessing it IS
    applied — folding octets 11-12 into one 16-bit number would
    fabricate "level 10" from a 0-10 cm layer).

    Scale: the landing posture — decode is one embarrassingly parallel
    Arrow stage; only per-record statistic rows shuffle.
    """
    import numpy as np

    from ..grid.grib1 import encode_grib1_message
    from ..grid.grib2 import encode_grib2_message

    def build(d: int) -> bytes:
        ni, nj = 4 + d % 3, 3 + d % 2
        i = np.arange(ni)[None, :]
        j = np.arange(nj)[:, None]

        def field(r: int) -> np.ndarray:
            return (
                60 + ((d * 3 + r * 7 + i * 11 + j * 2) % 50)
            ).astype(np.float64)

        enc2 = dict(category=0, number=0, reference_value=60.0, nbits=8)
        enc1 = dict(reference_value=60.0, nbits=8)
        msgs = [
            encode_grib2_message(
                field(0), **enc2,
                level_type=100, level_value=850 + d % 100,
            ),
            encode_grib2_message(
                field(1), **enc2,
                level_type=106, level_value=0,
                level2=dict(type=106, scale=-1, value=1 + d % 3),
            ),
            encode_grib1_message(
                field(2), **enc1,
                level_type=100, level=500 + d % 200,
            ),
            encode_grib1_message(
                field(3), **enc1,
                level_type=112, level=d % 20, level2=d % 20 + 10,
            ),
        ]
        return b"".join(msgs)

    records = landed_records(spark, sf_dir, (53, 41, 645), build)
    return records.select(
        "doc_id",
        "record_number",
        "edition",
        "level_type",
        "level",
        "level2_type",
        "level2",
        F.size("values").cast("bigint").alias("n_cells"),
        vsum(),
    ).orderBy("doc_id", "record_number")


@query(
    "grid_grib_match_lead_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id,
         4 + doc_id % 3 AS ni,
         3 + doc_id % 2 AS nj
  FROM documents WHERE doc_id % 53 = 5 AND doc_id < 645
),
cells AS (
  SELECT doc_id, r.r + 1 AS rn,
         60 + ((doc_id * 3 + r.r * 7 + i.i * 11 + j.j * 2) % 50) AS v
  FROM g,
       UNNEST(generate_series(1, 2)) AS r(r),
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj - 1)) AS j) j
)
SELECT doc_id,
       CAST(rn AS INTEGER) AS record_number,
       CAST(CASE rn WHEN 2 THEN 2 WHEN 3 THEN 1 END AS INTEGER) AS edition,
       CAST(6 AS INTEGER) AS forecast_hours,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(v) AS BIGINT) AS vsum
FROM cells
GROUP BY doc_id, rn
ORDER BY doc_id, rn
""",
)
def grid_grib_match_lead_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wgrib2-style ``-match`` on FORECAST LEAD, header-side — the
    inventory line now carries the converted lead as a trailing
    ``:f{hours}``, so "give me the 6-hour forecasts" is a regex the
    landing scan applies BEFORE any value bit unpacks (the reference's
    wgrib2 -match contract, /root/reference/src/file-conversions.js:
    76-99).  Each document's mixed-edition file carries an analysis
    (f0), a GRIB2 hour-unit f6, a GRIB1 f6 coded in the 3-HOUR unit
    (value 2 — matching must happen on the CONVERTED hours, or the
    regex would see f2) and a GRIB1 18-hour record whose BDS carries a
    spherical-harmonics flag the decoder rejects loudly — the scan with
    ``match=":f6$"`` must select exactly the two f6 records AND never
    decode the poisoned one, proving the filter runs header-side
    (a decode-then-filter engine crashes here).  Record numbers stay
    the file positions (2 and 3), wgrib2's N.M numbering contract.

    Scale: at 100 TB this is THE archive-subsetting path — headers are
    a few hundred bytes per record, so a lead/level/parameter match
    reads ~0.1% of the bytes a full decode would.
    """
    import numpy as np

    from ..grid.grib1 import encode_grib1_message
    from ..grid.grib2 import encode_grib2_message

    def build(d: int) -> bytes:
        ni, nj = 4 + d % 3, 3 + d % 2
        i = np.arange(ni)[None, :]
        j = np.arange(nj)[:, None]

        def field(r: int) -> np.ndarray:
            return (
                60 + ((d * 3 + r * 7 + i * 11 + j * 2) % 50)
            ).astype(np.float64)

        enc2 = dict(category=0, number=0, reference_value=60.0, nbits=8)
        enc1 = dict(reference_value=60.0, nbits=8)
        poisoned = bytearray(
            encode_grib1_message(
                field(3), **enc1, forecast=dict(unit=1, value=18)
            )
        )
        # Flip the BDS flags to "spherical harmonic coefficients"
        # (bit 1 of octet 4): headers still inventory fine, but
        # any attempt to DECODE this record stops loudly — so a
        # scan that only yields the matched records proves the
        # match ran header-side.
        pds_len = int.from_bytes(poisoned[8:11], "big")
        gds_off = 8 + pds_len
        bds_off = gds_off + int.from_bytes(
            poisoned[gds_off : gds_off + 3], "big"
        )
        poisoned[bds_off + 3] |= 0x80
        msgs = [
            encode_grib2_message(field(0), **enc2),  # analysis f0
            encode_grib2_message(
                field(1), **enc2, forecast=dict(unit=1, value=6)
            ),
            encode_grib1_message(
                field(2), **enc1,
                forecast=dict(unit=10, value=2),  # 3-hour unit → f6
            ),
            bytes(poisoned),  # f18, undecodable
        ]
        return b"".join(msgs)

    records = landed_records(spark, sf_dir, (53, 5, 645), build, match=r":f6$")
    return records.select(
        "doc_id",
        "record_number",
        "edition",
        "forecast_hours",
        F.size("values").cast("bigint").alias("n_cells"),
        vsum(),
    ).orderBy("doc_id", "record_number")


@query(
    "grid_grib1_gaussian_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle=f"""
WITH g AS (
  SELECT doc_id,
         4 + doc_id % 3 AS n,
         9 + doc_id % 5 AS ni,
         3 + doc_id % 2 AS nj1
  FROM documents WHERE doc_id % 11 = 7 AND doc_id < 440
),
lat(n, j, lat_udeg) AS (
  VALUES {_gauss_lat_values_sql()}
),
cells1 AS (
  SELECT doc_id, 1 AS rn,
         60 + ((doc_id * 3 + i.i * 11 + j.j * 2) % 50) AS v,
         CAST((60000 - j.j * 1000) AS BIGINT) * 1000 AS lat_udeg
  FROM g,
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, nj1 - 1)) AS j) j
),
cells2 AS (
  SELECT doc_id, 2 AS rn,
         60 + ((doc_id * 3 + 7 + i.i * 11 + j.j * 2) % 50) AS v,
         l.lat_udeg
  FROM g,
       LATERAL (SELECT unnest(generate_series(0, ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, 2 * n - 1)) AS j) j,
       lat l
  WHERE l.n = g.n AND l.j = j.j
),
cells AS (
  SELECT * FROM cells1 UNION ALL SELECT * FROM cells2
)
SELECT doc_id,
       CAST(rn AS INTEGER) AS record_number,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(v) AS BIGINT) AS vsum,
       CAST(MAX(lat_udeg) AS BIGINT) AS lat_max_udeg,
       CAST(SUM(v * lat_udeg) AS BIGINT) AS latvsum
FROM cells
GROUP BY doc_id, rn
ORDER BY doc_id, rn
""",
)
def grid_grib1_gaussian_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRIB EDITION-1 GAUSSIAN grids (data representation type 4 — the
    ECMWF F-grid geometry in its edition-1 form) through the REAL
    landing path and the unified CELL explode.  GDS octets 26-27 carry
    N (parallels pole→equator) instead of Dj; the engine recomputes the
    exact Legendre quadrature latitudes (grid/grib2.py::
    gaussian_latitudes, shared across editions) and the landing record
    carries them in integer microdegrees with the affine latitude
    georef NULL — never a fabricated dlat.  Per document one file mixes
    a regular lat/lon record (affine latitudes witnessed closed-form)
    with a global F(4 + d%3) Gaussian record; ``grib1_cells`` serves
    both through the same lat_udeg column.

    Witness independence: the oracle's Gaussian latitude table comes
    from numpy's Gauss-Legendre roots (a SECOND root finder) rounded to
    integer microdegrees; ``lat_max_udeg`` pins the first parallel and
    the payload-weighted ``latvsum`` pins every row-to-latitude
    assignment exactly (integer compare, no float tolerance).

    Scale: the landing posture — decode and explode are one Arrow +
    JVM stage; only per-record statistic rows shuffle.
    """
    import numpy as np

    from ..grid.grib1 import encode_grib1_message
    from ..sources.grib_source import grib1_cells

    def build(d: int) -> bytes:
        n = 4 + d % 3
        ni, nj1 = 9 + d % 5, 3 + d % 2
        i = np.arange(ni)[None, :]

        def field(r: int, nj: int) -> np.ndarray:
            j = np.arange(nj)[:, None]
            return (
                60 + ((d * 3 + r * 7 + i * 11 + j * 2) % 50)
            ).astype(np.float64)

        enc = dict(reference_value=60.0, nbits=8)
        msgs = [
            encode_grib1_message(
                field(0, nj1), **enc,
                lat_first_mdeg=60_000, dlat_mdeg=1_000,
            ),
            encode_grib1_message(field(1, 2 * n), **enc, gaussian=True),
        ]
        return b"".join(msgs)

    cells = grib1_cells(landed_records(spark, sf_dir, (11, 7, 440), build))
    return (
        cells.groupBy(doc_id(), "record_number")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum(F.col("value").cast("bigint")).alias("vsum"),
            F.max("lat_udeg").alias("lat_max_udeg"),
            F.sum(F.col("value").cast("bigint") * F.col("lat_udeg")).alias(
                "latvsum"
            ),
        )
        .orderBy("doc_id", "record_number")
    )


