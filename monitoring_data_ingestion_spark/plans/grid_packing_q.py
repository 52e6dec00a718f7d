"""GRIB catalog queries — advanced packings and r15/r16 product
families (SURVEY.md §2 S5): reduced-grid and predefined bitmaps (both
editions), edition-1 complex spectral, spatial-differencing ×
missing-value management, IEEE floats, CCSDS/AEC, log packing,
run-length level packing, the deprecated satellite form and the
chemistry/aerosol families.  Split out of the former monolithic
plans/grid_q.py in r16 — every registry name and oracle is
unchanged.

The gate → archive synth → decode scaffold and the shared witness
columns live in plans/grid_common.py (``landed_records`` /
``doc_archives``); each query here owns only its archive ``build`` function
and its witness arithmetic."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import query
from .grid_common import (
    _present,
    doc_archives,
    landed_records,
    present_stats,
    vsum,
)
from .grid_spectral_q import _spectral_coeffs

@query(
    "grid_grib1_reduced_bitmap_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id FROM documents WHERE doc_id % 29 = 11 AND doc_id < 580
),
r1rows AS (
  SELECT g.doc_id, j.j AS j,
         3 + ((g.doc_id + 5 * j.j) % 4) AS rowni,
         2 * (2 + g.doc_id % 2) AS nj
  FROM g,
       LATERAL (
         SELECT unnest(generate_series(0, 2 * (2 + g.doc_id % 2) - 1)) AS j
       ) j
),
r1off AS (
  SELECT doc_id, j, rowni, nj,
         COALESCE(SUM(rowni) OVER (
           PARTITION BY doc_id ORDER BY j
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS start_pos
  FROM r1rows
),
r1cells AS (
  SELECT o.doc_id, 1 AS rn, o.nj, o.start_pos + i.i AS pos,
         60 + 2 * ((o.doc_id * 3 + o.j * 7 + i.i * 5) % 35) AS v,
         ((o.doc_id + o.start_pos + i.i) % 4) <> 0 AS present
  FROM r1off o,
       LATERAL (SELECT unnest(generate_series(0, o.rowni - 1)) AS i) i
),
r2cells AS (
  SELECT g.doc_id, 2 AS rn, 4 AS nj, p.pos,
         40 + 3 * ((g.doc_id * 7 + p.pos * 5) % 30) AS v,
         ((p.pos + 1 + g.doc_id % 7) % 3) <> 0 AS present
  FROM g, LATERAL (SELECT unnest(generate_series(0, 15)) AS pos) p
),
cells AS (
  SELECT * FROM r1cells UNION ALL SELECT * FROM r2cells
)
SELECT doc_id,
       CAST(rn AS INTEGER) AS record_number,
       CAST(MIN(nj) AS INTEGER) AS nj,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(CASE WHEN present THEN 1 ELSE 0 END) AS BIGINT) AS n_present,
       CAST(SUM(CASE WHEN present THEN v ELSE 0 END) AS BIGINT) AS vsum,
       CAST(SUM(CASE WHEN present THEN v * pos ELSE 0 END) AS BIGINT) AS wsum,
       CAST(SUM(CASE WHEN present THEN 0 ELSE pos END) AS BIGINT) AS misspos
FROM cells
GROUP BY doc_id, rn
ORDER BY doc_id, rn
""",
)
def grid_grib1_reduced_bitmap_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITMAPPED THINNED GRIDS + CENTRE-PREDEFINED BITMAPS through the
    landing scan — the r14 verdict's top remaining real-archive shape
    (a masked ocean/land field on a reduced ERA5-era grid; wgrib reads
    both forms, /root/reference/src/file-conversions.js:114-127).

    Record 1 is a reduced GAUSSIAN grid with a PRIMARY BITMAP: the BMS
    ships sum(row_ni) bits in storage order, the BDS packs only the
    present cells, and masked cells land NaN→NULL while the per-cell
    GEOMETRY still covers every cell (the mask hits values, never
    coordinates).  Record 2 is a reduced grid whose BMS carries a
    CENTRE-PREDEFINED bitmap NUMBER (octets 5-6 nonzero, NO bits ride
    — WMO BMS note 2): the scan resolves the mask through the job-wide
    ``predefined_bitmaps`` (centre, number) catalog threaded into the
    Arrow decode stage, and a record naming an uncatalogued mask
    quarantines loudly instead of guessing.

    Witnesses per (document, record): present/missing cell counts, the
    present-value sum, the position-weighted present sum (a mask
    shifted by ONE cell scatters every value and hash-mismatches) and
    the missing-position checksum.  Record 2's mask depends only on
    the CATALOG NUMBER — decoding it with the wrong catalog entry
    (or with record 1's in-stream logic) cannot match.  The
    foreign-bytes witness (tests/test_foreign_grib.py::
    test_foreign_reduced_bitmapped_grib1_decodes_to_pinned_values)
    pins both BMS layouts against hand-assembled octets.

    Scale: the landing posture — one Arrow decode stage, statistic
    rows shuffle; the predefined-mask catalog is a task constant
    shipped once per executor, exactly how a centre's bitmap table
    would ride a 100 TB scan.
    """
    import numpy as np

    from ..grid.grib1 import encode_grib1_message

    # the consumer-side catalog: ECMWF-style centre 74 (the encoder's
    # fixed centre octet), numbers 1-7, each mask a pure function of
    # the NUMBER over the fixed 16-cell [3,4,5,4] geometry — exactly
    # how real predefined bitmaps are published (per centre, per
    # fixed grid)
    catalog = {
        (74, n): (np.arange(16) + n) % 3 != 0 for n in range(1, 8)
    }

    def build(d: int) -> bytes:
        nj = 2 * (2 + d % 2)
        row_ni = [3 + ((d + 5 * j) % 4) for j in range(nj)]
        v1 = np.concatenate(
            [
                60.0 + 2 * ((d * 3 + j * 7 + np.arange(n) * 5) % 35)
                for j, n in enumerate(row_ni)
            ]
        )
        pos1 = np.arange(v1.size)
        bm1 = (d + pos1) % 4 != 0
        msg1 = encode_grib1_message(
            v1, reduced_ni=row_ni, bitmap=bm1,
            reference_value=60.0, nbits=8,
        )
        rows2 = [3, 4, 5, 4]
        pos2 = np.arange(16)
        v2 = 40.0 + 3 * ((d * 7 + pos2 * 5) % 30)
        n = 1 + d % 7
        msg2 = encode_grib1_message(
            v2, reduced_ni=rows2,
            predefined_bitmap=dict(
                number=n, mask=(pos2 + n) % 3 != 0
            ),
            reference_value=40.0, nbits=8,
        )
        return msg1 + msg2

    records = landed_records(
        spark, sf_dir, (29, 11, 580), build, predefined_bitmaps=catalog
    )
    cells = records.select(
        "doc_id",
        "record_number",
        "nj",
        F.posexplode("values").alias("pos", "v"),
    )
    return (
        cells.groupBy("doc_id", "record_number")
        .agg(
            F.min("nj").alias("nj"),
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            *present_stats(),
        )
        .orderBy("doc_id", "record_number")
    )


@query(
    "grid_grib1_spectral_complex_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id, 4 + doc_id % 3 AS t
  FROM documents WHERE doc_id % 31 = 12 AND doc_id < 620
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
       CAST(f.f AS INTEGER) AS complex_form,
       CAST(MIN(t) AS INTEGER) AS truncation,
       CAST(CASE WHEN f.f = 1 THEN 1 + k.doc_id % 2 END AS INTEGER)
         AS sub_truncation,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(re) AS BIGINT) AS re_sum,
       CAST(SUM(im) AS BIGINT) AS im_sum,
       CAST(SUM((k + 1) * re) AS BIGINT) AS re_wsum,
       CAST(SUM((k + 1) * im) AS BIGINT) AS im_wsum
FROM k, (SELECT unnest([0, 1]) AS f) f
GROUP BY k.doc_id, f.f
ORDER BY doc_id, complex_form
""",
)
def grid_grib1_spectral_complex_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDITION-1 COMPLEX spherical-harmonic packing (BDS flags 0b1100 —
    the ECMWF gribex compact archive form, the r14 verdict's item 3):
    the n ≤ TS sub-spectrum rides UNPACKED as IBM-32 floats behind the
    octet-12 N pointer (octets 14-15 carry IP = P×1000, 16-18 the
    J1/K1/M1 sub-truncation) and every remaining value is multiplied
    by the Laplacian weight (n(n+1))^P before simple packing — the
    SAME split as GRIB2 template 5.51
    (grid_grib2_spectral_complex_decode), on the edition-1 BDS layout.
    Per document the SAME integer spectrum encodes as one SIMPLE
    (flags 0b1000, the (0,0) real part at octets 12-15) and one
    COMPLEX message (P = 1: integer weights, so BOTH decode
    bit-exactly); the scan must recover identical coefficient sums
    from the two layouts.

    Witness: per (document, form) the plain and position-weighted
    integer sums of real and imaginary parts — a sub-spectrum boundary
    off by one coefficient, a weight applied to the wrong side, an N
    pointer mis-read or a swapped unpacked/packed order cannot cancel;
    the complex rows also pin the per-document TS through the
    ``sub_truncation`` landing column (NULL on the simple form).  The
    foreign-bytes witness (tests/test_foreign_grib.py::
    test_foreign_spectral_complex_grib1_decodes_to_pinned_values) pins
    the N/IP/J1K1M1 head against hand-assembled octets.

    Scale: codec posture — and the operational payoff mirrors 5.51's:
    Laplacian weighting is why ECMWF's edition-1 spectral archives fit
    fixed-width packing, so this is the byte shape a 100 TB pre-GRIB2
    ERA archive scan actually reads.
    """
    from ..grid.grib1 import decode_grib1, encode_grib1_message, iter_messages

    def build(d: int) -> bytes:
        t = 4 + d % 3
        c = _spectral_coeffs(d, t, 7, 13, 5, 11, 101)
        return encode_grib1_message(
            c, spectral=dict(truncation=t), nbits=8, parameter=80
        ) + encode_grib1_message(
            c,
            spectral=dict(
                truncation=t,
                sub_truncation=1 + d % 2,
                laplacian=1.0,
            ),
            nbits=16,
            parameter=80,
        )

    def decode(d: int, buf: bytes):
        for msg in iter_messages(buf):
            rec = decode_grib1(msg)
            co = rec.spectral_coeffs
            yield {
                "complex_form": int(
                    rec.spectral_sub_truncation is not None
                ),
                "truncation": rec.spectral_truncation,
                "sub_truncation": rec.spectral_sub_truncation,
                "re": co.real.tolist(),
                "im": co.imag.tolist(),
            }

    decoded = doc_archives(
        spark, sf_dir, (31, 12, 620), build, decode,
        "complex_form int, truncation int, sub_truncation int, "
        "re array<double>, im array<double>",
    )
    pair = F.posexplode(F.arrays_zip("re", "im")).alias("k", "pair")
    return (
        decoded.select(
            "doc_id", "complex_form", "truncation", "sub_truncation", pair
        )
        .select(
            "doc_id",
            "complex_form",
            "truncation",
            "sub_truncation",
            "k",
            F.col("pair.re").cast("bigint").alias("re"),
            F.col("pair.im").cast("bigint").alias("im"),
        )
        .groupBy("doc_id", "complex_form")
        .agg(
            F.min("truncation").alias("truncation"),
            F.min("sub_truncation").alias("sub_truncation"),
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("re").alias("re_sum"),
            F.sum("im").alias("im_sum"),
            F.sum((F.col("k") + 1) * F.col("re")).alias("re_wsum"),
            F.sum((F.col("k") + 1) * F.col("im")).alias("im_wsum"),
        )
        .orderBy("doc_id", "complex_form")
    )


@query(
    "grid_grib2_diff_missing_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id, 5 + doc_id % 3 AS ni, 3 + doc_id % 2 AS nj
  FROM documents WHERE doc_id % 37 = 14 AND doc_id < 740
),
cells AS (
  SELECT g.doc_id, j.j * g.ni + i.i AS pos,
         70 + 3 * ((g.doc_id * 7 + i.i * 5 + j.j * 11) % 50) AS v,
         ((i.i + 2 * j.j + g.doc_id) % 5) <> 0 AS present
  FROM g,
       LATERAL (SELECT unnest(generate_series(0, g.nj - 1)) AS j) j,
       LATERAL (SELECT unnest(generate_series(0, g.ni - 1)) AS i) i
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(CASE WHEN present THEN 1 ELSE 0 END) AS BIGINT) AS n_present,
       CAST(SUM(CASE WHEN present THEN v ELSE 0 END) AS BIGINT) AS vsum,
       CAST(SUM(CASE WHEN present THEN v * pos ELSE 0 END) AS BIGINT) AS wsum,
       CAST(SUM(CASE WHEN present THEN 0 ELSE pos END) AS BIGINT) AS misspos
FROM cells
GROUP BY doc_id
ORDER BY doc_id
""",
)
def grid_grib2_diff_missing_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPATIAL DIFFERENCING × MISSING-VALUE MANAGEMENT (template 5.3
    with mvm = 1 — the combination NCEP precipitation products ship,
    the r14 verdict's item 4): the differencing runs over the
    NON-MISSING subsequence only (g2clib's comunpack convention) and
    missing points ride IN-DATA as all-ones group markers — no
    section-6 bitmap.  Per document one field encodes at a
    per-document order (1 or 2) and group length with a deterministic
    missing mask; the decode must place NaN exactly at the masked
    positions while reconstructing every present value bit-exactly
    through the subsequence cumulative sums.

    Witness: present/missing counts, the present-value sum, the
    position-weighted present sum (an off-by-one in the subsequence
    scatter shifts every reconstructed value one cell and cannot
    cancel) and the missing-position checksum (that the record really
    takes the 5.3 path is pinned record-level by
    tests/test_grib2.py::test_spatial_diff_with_missing_value_
    management_property's packing_template assertion).  The
    foreign-bytes
    witness (tests/test_foreign_grib.py::
    test_foreign_spatial_diff_missing_grib2_decodes_to_pinned_values)
    pins the descriptor block and marker layout against hand-computed
    octets.

    Scale: codec posture — one Arrow decode stage, statistic rows
    shuffle; supporting 5.3+mvm is what lets a 100 TB NCEP precip
    archive scan read the producer's actual bytes instead of
    quarantining every masked record.
    """
    import numpy as np

    from ..grid.grib2 import encode_grib2_message

    def build(d: int) -> bytes:
        ni, nj = 5 + d % 3, 3 + d % 2
        i = np.arange(ni)[None, :]
        j = np.arange(nj)[:, None]
        v = (70 + 3 * ((d * 7 + i * 5 + j * 11) % 50)).astype(np.float64)
        mm = ((i + 2 * j + d) % 5 == 0) | np.zeros_like(v, bool)
        return encode_grib2_message(
            v,
            packing="complex_diff",
            spatial_diff_order=1 + d % 2,
            group_len=4 + d % 5,
            missing_mask=mm,
            reference_value=0.0,
        )

    records = landed_records(spark, sf_dir, (37, 14, 740), build)
    cells = records.select(
        "doc_id",
        F.posexplode("values").alias("pos", "v"),
    )
    return (
        cells.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            *present_stats(),
        )
        .orderBy("doc_id")
    )


@query(
    "grid_grib2_deprecated_satellite_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id, 4 + doc_id % 3 AS ni, 3 + doc_id % 2 AS nj,
         1 + doc_id % 3 AS nb
  FROM documents WHERE doc_id % 43 = 17 AND doc_id < 700
),
b30 AS (
  SELECT g.doc_id,
         ROUND(SUM(
           (400 + g.doc_id % 50 + 3 * b.b)
           * POWER(10.0, CAST(b.b % 2 AS DOUBLE))
         ), 6) AS wave_sum_b,
         CAST(SUM(150 + ((g.doc_id + 7 * b.b) % 100)) AS BIGINT) AS isum
  FROM g, LATERAL (SELECT unnest(generate_series(0, g.nb - 1)) AS b) b
  GROUP BY g.doc_id
),
vs AS (
  SELECT g.doc_id, r.r + 1 AS rn,
         CAST(SUM(20 + 2 * ((g.doc_id * 3 + r.r * 5 + i.i * 7 + j.j * 9)
           % 30)) AS BIGINT) AS vsum
  FROM g,
       UNNEST(generate_series(0, 1)) AS r(r),
       LATERAL (SELECT unnest(generate_series(0, g.ni - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(0, g.nj - 1)) AS j) j
  GROUP BY g.doc_id, r.r
),
rec AS (
  SELECT g.doc_id, 1 AS rn, CAST(30 AS INTEGER) AS product_template,
         CAST(g.nb AS INTEGER) AS satellite_bands,
         b30.isum AS instr_sum,
         b30.wave_sum_b AS wave_sum
  FROM g JOIN b30 ON b30.doc_id = g.doc_id
  UNION ALL
  SELECT doc_id, 2, CAST(31 AS INTEGER), CAST(1 AS INTEGER),
         CAST(600 + doc_id % 120 AS BIGINT),
         ROUND((900 + doc_id % 30) / 10.0, 6)
  FROM g
)
SELECT rec.doc_id, CAST(rec.rn AS INTEGER) AS record_number,
       rec.product_template, rec.satellite_bands, rec.instr_sum,
       rec.wave_sum,
       CAST(NULL AS INTEGER) AS level_type,
       CAST(NULL AS INTEGER) AS forecast_hours,
       vs.vsum
FROM rec JOIN vs ON rec.doc_id = vs.doc_id AND rec.rn = vs.rn
ORDER BY rec.doc_id, rec.rn
""",
)
def grid_grib2_deprecated_satellite_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DEPRECATED satellite products (PDT 4.30 — pre-2003 archives;
    the r14 verdict's item 5, decided: DECODE, closing the LAST named
    product-template boundary): 4.31's leading layout with a band
    block one octet NARROWER per band (the instrument type is a
    SINGLE octet), so each template must decode through its own width
    — a 4.31-offset read of a 4.30 record would shear every band
    after the first, which is exactly why this template stayed a
    named error until its own decode landed.

    Each document's archive holds a 4.30 record with 1-3 bands
    (alternating wave-number scale signs) and a 4.31 CONTROL record
    whose instrument number NEEDS two octets (600+) — the pair proves
    the two band widths never cross-contaminate: the 1-octet read
    applied to the control (or the 2-octet read to the 4.30 record)
    shifts every following band byte and hash-mismatches on
    ``instr_sum``/``wave_sum``.  Levels and leads stay NULL on both
    (observations at the reference time, no fixed surfaces).

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
                20 + 2 * ((d * 3 + r * 5 + i * 7 + j * 9) % 30)
            ).astype(np.float64)

        enc = dict(
            category=0, number=7,
            reference_value=20.0, binary_scale=1, nbits=8,
        )
        bands30 = [
            dict(
                series=333,
                number=50 + b,
                instrument=150 + ((d + 7 * b) % 100),
                scale=-(b % 2),
                value=400 + d % 50 + 3 * b,
            )
            for b in range(1 + d % 3)
        ]
        msgs = [
            encode_grib2_message(
                field(0),
                satellite=dict(deprecated=True, bands=bands30),
                **enc,
            ),
            encode_grib2_message(
                field(1),
                satellite=dict(
                    bands=[
                        dict(
                            series=500, number=77,
                            instrument=600 + d % 120,
                            scale=1, value=900 + d % 30,
                        )
                    ]
                ),
                **enc,
            ),
        ]
        return b"".join(msgs)

    records = landed_records(spark, sf_dir, (43, 17, 700), build)
    zero = F.lit(0).cast("bigint")
    return records.select(
        "doc_id",
        "record_number",
        "product_template",
        "satellite_bands",
        F.aggregate(
            "satellite_instruments", zero, lambda a, x: a + x.cast("bigint")
        ).alias("instr_sum"),
        F.round(
            F.aggregate(
                "central_wavenumbers", F.lit(0.0), lambda a, x: a + x
            ),
            6,
        ).alias("wave_sum"),
        "level_type",
        "forecast_hours",
        vsum(),
    ).orderBy("doc_id", "record_number")


@query(
    "grid_grib2_ieee_float_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id, 4 + doc_id % 3 AS ni, 3 + doc_id % 2 AS nj
  FROM documents WHERE doc_id % 41 = 15 AND doc_id < 820
),
r1 AS (
  SELECT g.doc_id, 1 AS rn, j.j * g.ni + i.i AS pos,
         ((g.doc_id * 3 + i.i * 7 + j.j * 5) % 40) * 2 - 20 AS vq,
         TRUE AS present
  FROM g,
       LATERAL (SELECT unnest(generate_series(0, g.nj - 1)) AS j) j,
       LATERAL (SELECT unnest(generate_series(0, g.ni - 1)) AS i) i
),
r2 AS (
  SELECT g.doc_id, 2 AS rn, j.j * g.ni + i.i AS pos,
         ((g.doc_id * 7 + (j.j * g.ni + i.i) * 3) % 50) - 12 AS vq,
         ((j.j * g.ni + i.i + g.doc_id) % 5) <> 0 AS present
  FROM g,
       LATERAL (SELECT unnest(generate_series(0, g.nj - 1)) AS j) j,
       LATERAL (SELECT unnest(generate_series(0, g.ni - 1)) AS i) i
),
cells AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
SELECT doc_id,
       CAST(rn AS INTEGER) AS record_number,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(CASE WHEN present THEN 1 ELSE 0 END) AS BIGINT) AS n_present,
       CAST(SUM(CASE WHEN present THEN vq ELSE 0 END) AS BIGINT) AS vsum_q,
       CAST(SUM(CASE WHEN present THEN vq * pos ELSE 0 END) AS BIGINT)
         AS wsum_q,
       CAST(SUM(CASE WHEN present THEN 0 ELSE pos END) AS BIGINT) AS misspos
FROM cells
GROUP BY doc_id, rn
ORDER BY doc_id, rn
""",
)
def grid_grib2_ieee_float_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IEEE FLOATING-POINT packing (data representation template 5.4 —
    raw floats, NO reference value / scales / width; some ECMWF and
    ocean-model products ship it where quantization is unacceptable)
    through the landing scan.  Section 5 is just the point count +
    precision octet (code table 5.7), so a decoder reading the 5.0
    layout here would slice float bytes as R/E/D and shear section 7 —
    the decode must branch BEFORE the generic header reads.

    Record 1 is binary32 with half-integer values (exact in float32,
    including negatives — 5.4 is the one packing with no
    non-negative-increment constraint); record 2 is binary64 under a
    section-6 BITMAP, proving raw-float payloads compose with masking.
    Witnesses are fixed-point quarter-scaled BIGINT sums (vq = 4·v,
    exact), position-weighted, plus present/missing counts; the
    foreign-bytes witness (tests/test_foreign_grib.py::
    test_foreign_ieee_float_grib2_decodes_to_pinned_values) pins the
    short section-5 layout octet-by-octet for both precisions.

    Scale: codec posture — one Arrow decode stage, statistic rows
    shuffle; at 100 TB template 5.4 archives trade bytes for zero
    decode CPU (a memcpy-shaped frombuffer per record, the cheapest
    packing the engine reads).
    """
    import numpy as np

    from ..grid.grib2 import encode_grib2_message

    def build(d: int) -> bytes:
        ni, nj = 4 + d % 3, 3 + d % 2
        i = np.arange(ni)[None, :]
        j = np.arange(nj)[:, None]
        # quarter-exact values: vq/4 with vq the oracle's ints
        v1 = (((d * 3 + i * 7 + j * 5) % 40) * 2 - 20) / 4.0
        v1 = (v1 + np.zeros((nj, ni))).astype(np.float64)
        pos = (j * ni + i).astype(np.int64)
        v2 = (((d * 7 + pos * 3) % 50) - 12) / 4.0
        bm2 = (pos + d) % 5 != 0
        msgs = [
            encode_grib2_message(v1, packing="ieee32"),
            encode_grib2_message(v2, packing="ieee64", bitmap=bm2),
        ]
        return b"".join(msgs)

    records = landed_records(spark, sf_dir, (41, 15, 820), build)
    cells = records.select(
        "doc_id",
        "record_number",
        F.posexplode("values").alias("pos", "v"),
    )
    vq = F.round(F.col("v") * 4).cast("bigint")
    return (
        cells.groupBy("doc_id", "record_number")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.count(F.when(_present("v"), F.lit(1)))
            .cast("bigint")
            .alias("n_present"),
            F.sum(F.when(_present("v"), vq).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("vsum_q"),
            F.sum(F.when(_present("v"), vq * F.col("pos")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("wsum_q"),
            F.sum(F.when(~_present("v"), F.col("pos")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("misspos"),
        )
        .orderBy("doc_id", "record_number")
    )


@query(
    "grid_grib2_secondary_missing_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id, 5 + doc_id % 3 AS ni, 3 + doc_id % 2 AS nj,
         500 + doc_id % 20 AS sub2
  FROM documents WHERE doc_id % 47 = 21 AND doc_id < 940
),
cells AS (
  SELECT g.doc_id, g.sub2, j.j * g.ni + i.i AS pos,
         80 + 2 * ((g.doc_id * 5 + i.i * 3 + j.j * 7) % 45) AS v,
         (i.i + 2 * j.j + g.doc_id) % 7 AS kind
  FROM g,
       LATERAL (SELECT unnest(generate_series(0, g.nj - 1)) AS j) j,
       LATERAL (SELECT unnest(generate_series(0, g.ni - 1)) AS i) i
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(CASE WHEN kind = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_primary,
       CAST(SUM(CASE WHEN kind = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_secondary,
       CAST(SUM(CASE WHEN kind = 0 THEN 0
                     WHEN kind = 1 THEN sub2 ELSE v END) AS BIGINT) AS vsum,
       CAST(SUM(CASE WHEN kind = 0 THEN 0
                     WHEN kind = 1 THEN sub2 * pos
                     ELSE v * pos END) AS BIGINT) AS wsum,
       CAST(SUM(CASE WHEN kind = 0 THEN pos ELSE 0 END) AS BIGINT) AS nanpos
FROM cells
GROUP BY doc_id
ORDER BY doc_id
""",
)
def grid_grib2_secondary_missing_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SECONDARY MISSING VALUES (missing-value management 2, code
    table 5.5 — the NEXRAD-style distinction between "missing" and
    e.g. "below detection threshold") through the landing scan: the
    top TWO codes at every group width are the primary / secondary
    markers, an all-secondary group codes as the all-ones-minus-1
    group reference, and the section-5 SECONDARY SUBSTITUTE (octets
    28-31) lands RAW at secondary points — the producer's declared
    field value, preserved where NaN would destroy it — while primary
    points land NaN→NULL as ever.  Composes with spatial differencing
    (the subsequence skips BOTH kinds): per document the order cycles
    0/1/2.

    Witnesses: primary/secondary counts (substitute values are
    disjoint from the data range, so the count is exact), the value
    sum INCLUDING substitutes, the position-weighted sum (a marker
    read at the wrong width scatters both) and the NaN-position
    checksum.  The foreign-bytes witness (tests/test_foreign_grib.py::
    test_foreign_mvm2_grib2_decodes_to_pinned_values) pins the marker
    codes and the raw substitute landing octet-by-octet.

    Scale: codec posture — one Arrow decode stage, statistic rows
    shuffle; supporting mvm=2 is what lets a 100 TB radar-product
    archive land without quarantining every below-threshold record.
    """
    import numpy as np

    from ..grid.grib2 import encode_grib2_message

    def build(d: int) -> bytes:
        ni, nj = 5 + d % 3, 3 + d % 2
        i = np.arange(ni)[None, :]
        j = np.arange(nj)[:, None]
        v = (80 + 2 * ((d * 5 + i * 3 + j * 7) % 45)).astype(np.float64)
        kind = (i + 2 * j + d) % 7
        mm = (kind == 0) | np.zeros_like(v, bool)
        sm = (kind == 1) | np.zeros_like(v, bool)
        order = d % 3
        kw = dict(
            packing="complex" if order == 0 else "complex_diff",
            missing_mask=mm,
            secondary_mask=sm,
            secondary_substitute=float(500 + d % 20),
            group_len=3 + d % 6,
            reference_value=0.0,
        )
        if order:
            kw["spatial_diff_order"] = order
        return encode_grib2_message(v, **kw)

    records = landed_records(spark, sf_dir, (47, 21, 940), build)
    cells = records.select(
        "doc_id",
        F.posexplode("values").alias("pos", "v"),
    )
    sub2 = F.lit(500) + F.col("doc_id") % 20
    is_sec = _present("v") & (F.col("v").cast("bigint") == sub2)
    return (
        cells.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.count(F.when(~_present("v"), F.lit(1)))
            .cast("bigint")
            .alias("n_primary"),
            F.count(F.when(is_sec, F.lit(1)))
            .cast("bigint")
            .alias("n_secondary"),
            F.sum(F.when(_present("v"), F.col("v")).otherwise(F.lit(0.0)))
            .cast("bigint")
            .alias("vsum"),
            F.sum(
                F.when(_present("v"), F.col("v") * F.col("pos")).otherwise(
                    F.lit(0.0)
                )
            )
            .cast("bigint")
            .alias("wsum"),
            F.sum(F.when(~_present("v"), F.col("pos")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("nanpos"),
        )
        .orderBy("doc_id")
    )


@query(
    "grid_grib2_aec_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id, 6 + doc_id % 4 AS ni, 3 + doc_id % 2 AS nj
  FROM documents WHERE doc_id % 53 = 11 AND doc_id < 1060
),
cells AS (
  SELECT g.doc_id, p.pos,
         100 + ((g.doc_id * 3 + p.pos * 5) % 40) AS v
  FROM g,
       LATERAL (
         SELECT unnest(generate_series(0, g.ni * g.nj - 1)) AS pos
       ) p
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(v) AS BIGINT) AS vsum,
       CAST(SUM(v * pos) AS BIGINT) AS wsum
FROM cells
GROUP BY doc_id
ORDER BY doc_id
""",
)
def grid_grib2_aec_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCSDS 121.0 / AEC packing (data representation template 5.42 —
    the lossless Rice coding NCEP adopted for operational GFS output;
    wgrib2 reads it through libaec) through the landing scan, on the
    engine's FROM-SCRATCH codec (grid/aec.py, like the JPEG2000 and
    PNG codecs): per document the field encodes at a per-document
    CCSDS block size (8/16/32) and reference sample interval (1-4),
    exercising the preprocessor's reference-sample restarts, the
    per-block option selection and the zero/low-entropy run machinery
    across documents.

    Witness: exact integer value and position-weighted sums — any
    mis-decoded block, swallowed reference sample or off-by-one in the
    FS/split bitstream scatters values and cannot cancel.  The codec
    itself carries its own foreign-bytes witnesses for EVERY decoder
    option (tests/test_aec.py: hand-laid FS / split-k / uncompressed /
    zero-run + ROS / second-extension / preprocessed-reference
    bitstreams) and the template's octet layout is pinned by
    tests/test_foreign_grib.py::
    test_foreign_aec_grib2_decodes_to_pinned_values.

    Scale: codec posture — one Arrow decode stage, statistic rows
    shuffle; at 100 TB, 5.42 is why a post-2022 NCEP archive scan
    reads the producer's actual bytes (GFS moved to AEC), and the
    pure-Python block decoder is the same swap-in CPU constant as the
    complex unpacker (grib2._complex_decode docstring).
    """
    import numpy as np

    from ..grid.grib2 import encode_grib2_message

    def build(d: int) -> bytes:
        ni, nj = 6 + d % 4, 3 + d % 2
        pos = np.arange(ni * nj)
        v = (100 + ((d * 3 + pos * 5) % 40)).astype(np.float64).reshape(nj, ni)
        return encode_grib2_message(
            v,
            packing="aec",
            nbits=8,
            reference_value=100.0,
            aec_block_size=8 << (d % 3),
            aec_rsi=1 + d % 4,
        )

    records = landed_records(spark, sf_dir, (53, 11, 1060), build)
    cells = records.select(
        "doc_id",
        F.posexplode("values").alias("pos", "v"),
    )
    return (
        cells.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.sum("v").cast("bigint").alias("vsum"),
            F.sum(F.col("v") * F.col("pos")).cast("bigint").alias("wsum"),
        )
        .orderBy("doc_id")
    )


@query(
    "grid_grib2_log_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id, 4 + doc_id % 3 AS ni, 3 + doc_id % 2 AS nj
  FROM documents WHERE doc_id % 59 = 7 AND doc_id < 1180
),
cells AS (
  SELECT g.doc_id, j.j * g.ni + i.i AS pos,
         CAST(ROUND(
           (EXP((g.doc_id * 3 + i.i * 5 + j.j * 7) % 9) - 10) * 1e6
         ) AS BIGINT) AS v6
  FROM g,
       LATERAL (SELECT unnest(generate_series(0, g.nj - 1)) AS j) j,
       LATERAL (SELECT unnest(generate_series(0, g.ni - 1)) AS i) i
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(v6) AS BIGINT) AS v6sum,
       CAST(SUM(v6 * pos) AS BIGINT) AS w6sum
FROM cells
GROUP BY doc_id
ORDER BY doc_id
""",
)
def grid_grib2_log_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOGARITHM pre-processing (data representation template 5.61 —
    the ECMWF form for precipitation-style fields whose dynamic range
    spans decades): Z = ln(Y + B) simple-packs with the B parameter at
    section-5 octets 21-24, and decode inverts Y = e^Z − B.  The
    fixture builds Y = e^k − B from integer k, so the packed Z domain
    is EXACTLY the integer k sequence (R = 0, E = D = 0) and the only
    float arithmetic is one exp per cell — restated identically by the
    oracle's EXP(), with the micro-scaled fixed-point rounding margins
    verified safe for every k in 0..8 (nearest fractional distance to
    a rounding boundary is 7e-3, vs the ~1e-13 cross-library exp
    disagreement bound).

    Witness: per document the micro-scaled value and position-weighted
    sums — a B applied on the wrong side, a log/exp inversion slip or
    an off-by-one in the Z stream cannot cancel.  The template layout
    is pinned by tests/test_foreign_grib.py::
    test_foreign_log_grib2_decodes_to_pinned_values.

    Scale: codec posture — one Arrow decode stage; the exp inversion
    is one vectorized numpy pass per record.
    """
    import numpy as np

    from ..grid.grib2 import encode_grib2_message

    def build(d: int) -> bytes:
        ni, nj = 4 + d % 3, 3 + d % 2
        i = np.arange(ni)[None, :]
        j = np.arange(nj)[:, None]
        k = ((d * 3 + i * 5 + j * 7) % 9).astype(np.float64)
        v = np.exp(k) - 10.0
        return encode_grib2_message(
            v,
            packing="log",
            log_offset=10.0,
            nbits=8,
            reference_value=0.0,
        )

    records = landed_records(spark, sf_dir, (59, 7, 1180), build)
    cells = records.select(
        "doc_id",
        F.posexplode("values").alias("pos", "v"),
    )
    v6 = F.round(F.col("v") * F.lit(1e6)).cast("bigint")
    return (
        cells.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.sum(v6).cast("bigint").alias("v6sum"),
            F.sum(v6 * F.col("pos")).cast("bigint").alias("w6sum"),
        )
        .orderBy("doc_id")
    )


@query(
    "grid_grib2_chemistry_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id, 4 + doc_id % 3 AS ni, 3 + doc_id % 2 AS nj
  FROM documents WHERE doc_id % 61 = 13 AND doc_id < 1220
),
rec AS (
  SELECT doc_id, ni, nj, r.r AS r
  FROM g, UNNEST(generate_series(0, 3)) AS r(r)
),
cells AS (
  SELECT doc_id, r, p.pos,
         50 + ((doc_id * 3 + r * 7 + p.pos * 5) % 60) AS v
  FROM rec,
       LATERAL (
         SELECT unnest(generate_series(0, ni * nj - 1)) AS pos
       ) p
)
SELECT doc_id,
       CAST(r + 1 AS INTEGER) AS record_number,
       CAST(40 + r AS INTEGER) AS product_template,
       CAST((doc_id * 7 + r) % 200 AS INTEGER) AS constituent_type,
       CAST(CASE WHEN r IN (1, 3) THEN 1 + doc_id % 50 END
         AS INTEGER) AS ensemble_member,
       CAST(CASE WHEN r IN (2, 3) THEN 1 END AS INTEGER)
         AS statistical_process,
       CASE WHEN r IN (2, 3)
         THEN make_timestamp(2022, 1 + doc_id % 12, 3, 0, 0, 0)
       END AS interval_end,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(v) AS BIGINT) AS vsum
FROM cells
GROUP BY doc_id, r
ORDER BY doc_id, r
""",
)
def grid_grib2_chemistry_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATMOSPHERIC-CHEMISTRY product templates 4.40-4.43 (the CAMS
    family: every form is its 4.0-family base with the 2-octet
    code-table-4.230 constituent type inserted after the parameter
    number) through the landing scan: each document's archive carries
    all four forms — plain (4.40), ensemble member (4.41),
    statistical (4.42) and ensemble-statistical (4.43) — with a
    per-record constituent, landing the new ``constituent_type``
    column beside the family's shifted ensemble / statistical fields.
    wgrib2 scans these through the same ``-match`` path the reference
    shells out to (/root/reference/src/file-conversions.js:76-112);
    CAMS forecast archives ship them operationally.

    Witness: per (document, record) the template number, constituent,
    ensemble member, statistical process AND interval end — every
    field the 2-octet insert shifts — plus exact value sums; a decoder
    reading the base-template offsets unspliced would land the
    constituent octets as the generating process and shear every later
    field.  The wire layout is pinned foreign by
    tests/test_foreign_grib.py::
    test_foreign_chemistry_ensemble_statistical_decodes.

    Scale: landing-scan posture — one Arrow decode stage, only
    per-record statistic rows shuffle; at 100 TB the constituent lands
    as a plain filterable column, so "only NO2" is a pushed predicate
    on the landed table, not a re-decode.
    """
    import numpy as np

    from ..grid.grib2 import encode_grib2_message

    def build(d: int) -> bytes:
        ni, nj = 4 + d % 3, 3 + d % 2
        pos = np.arange(ni * nj)
        ens = {"type": 3, "member": 1 + d % 50, "size": 51}
        stat = {
            "process": 1,
            "interval_end": (2022, 1 + d % 12, 3, 0, 0),
            "range_hours": 24,
        }
        content = b""
        for r, extra in enumerate(
            (
                {},
                {"ensemble": ens},
                {"statistical": stat},
                {"ensemble": ens, "statistical": stat},
            )
        ):
            v = (
                50 + ((d * 3 + r * 7 + pos * 5) % 60)
            ).astype(np.float64).reshape(nj, ni)
            content += encode_grib2_message(
                v,
                chemistry=(d * 7 + r) % 200,
                nbits=8,
                reference_value=50.0,
                **extra,
            )
        return content

    records = landed_records(spark, sf_dir, (61, 13, 1220), build)
    return records.select(
        "doc_id",
        "record_number",
        "product_template",
        "constituent_type",
        "ensemble_member",
        "statistical_process",
        "interval_end",
        F.size("values").cast("bigint").alias("n_cells"),
        vsum(),
    ).orderBy("doc_id", "record_number")


@query(
    "grid_grib2_aerosol_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id, 4 + doc_id % 3 AS ni, 3 + doc_id % 2 AS nj
  FROM documents WHERE doc_id % 67 = 5 AND doc_id < 1340
),
rec AS (
  SELECT doc_id, ni, nj, r.r AS r
  FROM g, UNNEST(generate_series(0, 2)) AS r(r)
),
cells AS (
  SELECT doc_id, r, p.pos,
         30 + ((doc_id * 5 + r * 11 + p.pos * 3) % 50) AS v
  FROM rec,
       LATERAL (
         SELECT unnest(generate_series(0, ni * nj - 1)) AS pos
       ) p
)
SELECT doc_id,
       CAST(r + 1 AS INTEGER) AS record_number,
       CAST(CASE r WHEN 0 THEN 45 WHEN 1 THEN 48 ELSE 49 END AS INTEGER)
         AS product_template,
       CAST(CASE r WHEN 0 THEN 62000 + doc_id % 20 ELSE 62010 END
         AS INTEGER) AS aerosol_type,
       CAST(2 AS INTEGER) AS aerosol_size_interval,
       CAST(ROUND((20 + doc_id % 30) / POWER(10, 8) * 1e9) AS BIGINT)
         AS first_size_nm,
       CAST(ROUND((50 + doc_id % 45) / POWER(10, 7) * 1e9) AS BIGINT)
         AS second_size_nm,
       CAST(CASE WHEN r >= 1 THEN 11 END AS INTEGER)
         AS wavelength_interval,
       CAST(CASE WHEN r >= 1
         THEN ROUND((440 + doc_id % 200) / POWER(10, 9) * 1e9)
       END AS BIGINT) AS first_wavelength_nm,
       CAST(CASE WHEN r >= 1 THEN 865 END AS BIGINT)
         AS second_wavelength_nm,
       CAST(CASE WHEN r <> 1 THEN 1 + doc_id % 40 END AS INTEGER)
         AS ensemble_member,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(v) AS BIGINT) AS vsum
FROM cells
GROUP BY doc_id, r
ORDER BY doc_id, r
""",
)
def grid_grib2_aerosol_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AEROSOL product templates 4.45/4.48/4.49 through the landing
    scan: each document's archive carries an ensemble aerosol record
    (4.45 — the code-table-4.233 aerosol type plus the code-table-4.91
    size interval with both signed-magnitude (scale, value) bounds,
    then the 4.1-style ensemble octets shifted 13 deep), an
    optical-depth record (4.48 — the same block plus the wavelength
    interval, 24 inserted octets) and an ENSEMBLE optical-depth record
    (4.49 — the CAMS AOD-ensemble form: the 24-octet insert with the
    ensemble octets shifted past it), landing the aerosol type, the
    decoded size bounds and the wavelength bounds as columns.

    Witness: the size/wavelength bounds land as exact nanometre
    integers (ROUND(m·1e9) — both sides compute the same
    value/10^scale double then the same rounding, so any
    signed-magnitude or offset slip in the 13/24-octet insert shifts a
    bound or a later field and cannot cancel), beside the
    per-template ensemble-member presence pattern (4.45 yes, 4.48 no,
    4.49 yes — at the 24-octet-deep offset) and exact value sums.  The 4.48 wire layout is pinned foreign by
    tests/test_foreign_grib.py::test_foreign_aerosol_wavelength_decodes.

    Scale: identical landing-scan posture to the chemistry scan — one
    Arrow decode stage, statistic rows shuffle, aerosol metadata as
    filterable columns.
    """
    import numpy as np

    from ..grid.grib2 import encode_grib2_message

    def build(d: int) -> bytes:
        ni, nj = 4 + d % 3, 3 + d % 2
        pos = np.arange(ni * nj)

        def field(r: int) -> np.ndarray:
            return (
                30 + ((d * 5 + r * 11 + pos * 3) % 50)
            ).astype(np.float64).reshape(nj, ni)

        sizes = {
            "size_interval": 2,
            "first_size": (8, 20 + d % 30),
            "second_size": (7, 50 + d % 45),
        }
        m45 = encode_grib2_message(
            field(0),
            aerosol={"type": 62000 + d % 20, **sizes},
            ensemble={"type": 3, "member": 1 + d % 40, "size": 40},
            nbits=8,
            reference_value=30.0,
        )
        wl = {
            "type": 62010,
            **sizes,
            "wavelength_interval": 11,
            "first_wavelength": (9, 440 + d % 200),
            "second_wavelength": (9, 865),
        }
        m48 = encode_grib2_message(
            field(1), aerosol=wl, nbits=8, reference_value=30.0
        )
        m49 = encode_grib2_message(
            field(2),
            aerosol=wl,
            ensemble={"type": 3, "member": 1 + d % 40, "size": 40},
            nbits=8,
            reference_value=30.0,
        )
        return m45 + m48 + m49

    records = landed_records(spark, sf_dir, (67, 5, 1340), build)

    def nm(col: str):
        return F.round(F.col(col) * F.lit(1e9)).cast("bigint")

    return records.select(
        "doc_id",
        "record_number",
        "product_template",
        "aerosol_type",
        "aerosol_size_interval",
        nm("aerosol_first_size_m").alias("first_size_nm"),
        nm("aerosol_second_size_m").alias("second_size_nm"),
        F.col("aerosol_wavelength_interval").alias("wavelength_interval"),
        nm("aerosol_first_wavelength_m").alias("first_wavelength_nm"),
        nm("aerosol_second_wavelength_m").alias("second_wavelength_nm"),
        "ensemble_member",
        F.size("values").cast("bigint").alias("n_cells"),
        vsum(),
    ).orderBy("doc_id", "record_number")


@query(
    "grid_grib2_reduced_bitmap_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id FROM documents WHERE doc_id % 71 = 3 AND doc_id < 1420
),
rrows AS (
  SELECT g.doc_id, r.r AS r, j.j AS j,
         3 + ((g.doc_id + 5 * j.j) % 4) AS rowni,
         2 * (2 + g.doc_id % 2) AS nj
  FROM g,
       UNNEST(generate_series(1, 2)) AS r(r),
       LATERAL (
         SELECT unnest(generate_series(0, 2 * (2 + g.doc_id % 2) - 1)) AS j
       ) j
),
roff AS (
  SELECT doc_id, r, j, rowni, nj,
         COALESCE(SUM(rowni) OVER (
           PARTITION BY doc_id, r ORDER BY j
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS start_pos
  FROM rrows
),
cells AS (
  SELECT o.doc_id, o.r, o.nj, o.start_pos + i.i AS pos,
         60 + 2 * ((o.doc_id * 3 + o.r * 5 + o.j * 7 + i.i * 5) % 35) AS v,
         ((o.doc_id + o.r + o.start_pos + i.i) % 4) <> 0 AS present
  FROM roff o,
       LATERAL (SELECT unnest(generate_series(0, o.rowni - 1)) AS i) i
)
SELECT doc_id,
       CAST(r AS INTEGER) AS record_number,
       CAST(MIN(nj) AS INTEGER) AS nj,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(CASE WHEN present THEN 1 ELSE 0 END) AS BIGINT) AS n_present,
       CAST(SUM(CASE WHEN present THEN v ELSE 0 END) AS BIGINT) AS vsum,
       CAST(SUM(CASE WHEN present THEN v * pos ELSE 0 END) AS BIGINT) AS wsum,
       CAST(SUM(CASE WHEN present THEN 0 ELSE pos END) AS BIGINT) AS misspos
FROM cells
GROUP BY doc_id, r
ORDER BY doc_id, r
""",
)
def grid_grib2_reduced_bitmap_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITMAP × REDUCED Gaussian in EDITION 2 — closing the r15
    cross-edition asymmetry (GRIB1 reduced bitmaps landed in r15;
    the GRIB2 encoder refused the combination until r16 even though
    the decode composed generically): section 6 carries sum(row_ni)
    bits in FLAT storage order, the data section packs only the
    present cells, masked cells land NaN→NULL while the per-cell
    geometry still covers every cell.

    Record 1 packs the present subsequence SIMPLE (template 5.0);
    record 2 packs it COMPLEX with order-2 spatial differencing
    (template 5.3) — the group-splitting machinery runs over the
    bitmap-compacted stream, so a mask slip ALSO corrupts the
    differencing origin and cannot cancel.

    Witnesses per (document, record): present/missing counts, the
    present-value sum, the position-weighted present sum (a mask
    shifted by one cell scatters every value) and the missing-position
    checksum.  The wire layout is pinned foreign by
    tests/test_foreign_grib.py::
    test_foreign_reduced_bitmapped_grib2_decodes_to_pinned_values.

    Scale: the landing posture — one Arrow decode stage, statistic
    rows shuffle; masked ocean/land fields on reduced ERA5-native
    grids are exactly what a 100 TB CDS archive scan reads.
    """
    import numpy as np

    from ..grid.grib2 import encode_grib2_message

    def build(d: int) -> bytes:
        nj = 2 * (2 + d % 2)
        row_ni = [3 + ((d + 5 * j) % 4) for j in range(nj)]
        content = b""
        for r, packing in ((1, "simple"), (2, "complex_diff")):
            v = np.concatenate(
                [
                    60.0
                    + 2 * ((d * 3 + r * 5 + j * 7 + np.arange(n) * 5) % 35)
                    for j, n in enumerate(row_ni)
                ]
            )
            pos = np.arange(v.size)
            bm = (d + r + pos) % 4 != 0
            content += encode_grib2_message(
                v, reduced_ni=row_ni, bitmap=bm,
                reference_value=60.0, nbits=8,
                packing=packing, group_len=4,
            )
        return content

    records = landed_records(spark, sf_dir, (71, 3, 1420), build)
    cells = records.select(
        "doc_id",
        "record_number",
        "nj",
        F.posexplode("values").alias("pos", "v"),
    )
    return (
        cells.groupBy("doc_id", "record_number")
        .agg(
            F.min("nj").alias("nj"),
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            *present_stats(),
        )
        .orderBy("doc_id", "record_number")
    )


@query(
    "grid_grib2_runlength_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id,
         10 + doc_id % 5 AS ni,
         6 + doc_id % 3 AS nj
  FROM documents WHERE doc_id % 73 = 9 AND doc_id < 1460
),
cells AS (
  SELECT doc_id, p.pos,
         CASE WHEN (doc_id + p.pos) % 7 < 3 THEN 0
              ELSE 1 + ((doc_id * 3 + p.pos // 5) % 6) END AS lv
  FROM g,
       LATERAL (
         SELECT unnest(generate_series(0, ni * nj - 1)) AS pos
       ) p
),
vals AS (
  SELECT doc_id, pos, lv,
         CASE lv WHEN 1 THEN 5 WHEN 2 THEN 10 WHEN 3 THEN 20
                 WHEN 4 THEN 40 WHEN 5 THEN 80 WHEN 6 THEN 160
         END AS v10
  FROM cells
)
SELECT doc_id,
       CAST(1 AS INTEGER) AS record_number,
       CAST(20 AS INTEGER) AS product_template,
       CAST(100 + doc_id % 50 AS INTEGER) AS radar_site_number,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(CASE WHEN lv > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_present,
       CAST(SUM(CASE WHEN lv > 0 THEN v10 ELSE 0 END) AS BIGINT)
         AS v10sum,
       CAST(SUM(CASE WHEN lv > 0 THEN v10 * pos ELSE 0 END) AS BIGINT)
         AS w10sum,
       CAST(SUM(CASE WHEN lv = 0 THEN pos ELSE 0 END) AS BIGINT)
         AS nanpos
FROM vals
GROUP BY doc_id
ORDER BY doc_id
""",
)
def grid_grib2_runlength_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUN-LENGTH LEVEL PACKING (data representation template 5.200 —
    the JMA radar-composite packing) through the landing scan,
    composed with the radar PDT 4.20 exactly the way JMA precipitation
    composites ship: each document's record carries a level field
    (the 2-octet scaled representative table, decimal scale 1) whose
    zero level IS the missing mask, packed as nbits-wide codes with
    base-LNGU run digits (LSB-first, the JMA Technical Information
    No. 215 convention wgrib2 implements).

    The level pattern alternates missing stretches with 5-cell level
    runs, so every document exercises the run-digit machinery; the
    witnesses (present/missing counts, the exact ×10 value sum, the
    position-weighted sum and the missing-position checksum) catch a
    run shifted by one cell, a digit decoded at the wrong significance
    or a level table read at the wrong offset.  The wire layout and
    the LSB-first digit order are pinned foreign by
    tests/test_foreign_grib.py::
    test_foreign_runlength_grib2_decodes_to_pinned_values.

    Scale: the landing posture — one Arrow decode stage, statistic
    rows shuffle; RLE level fields are the densest national-composite
    archives (radar mosaics at 1 km), and the level table rides in
    section 5 per record, no side catalog.
    """
    import numpy as np

    from ..grid.grib2 import encode_grib2_message

    tbl = [5, 10, 20, 40, 80, 160]

    def build(d: int) -> bytes:
        ni, nj = 10 + d % 5, 6 + d % 3
        pos = np.arange(ni * nj)
        lv = np.where((d + pos) % 7 < 3, 0, 1 + ((d * 3 + pos // 5) % 6))
        v = np.where(
            lv == 0,
            np.nan,
            np.array([np.nan] + tbl)[lv] / 10.0,
        ).reshape(nj, ni)
        return encode_grib2_message(
            v,
            packing="runlength",
            rle_table=tbl,
            nbits=4,
            decimal_scale=1,
            radar=dict(
                lat=36.0, lon=140.0, elevation=50,
                site_id="RJTD", site_number=100 + d % 50,
            ),
        )

    records = landed_records(spark, sf_dir, (73, 9, 1460), build)
    cells = records.select(
        "doc_id",
        "record_number",
        "product_template",
        "radar_site_number",
        F.posexplode("values").alias("pos", "v"),
    )
    v10 = F.round(F.col("v") * F.lit(10.0)).cast("bigint")
    return (
        cells.groupBy("doc_id")
        .agg(
            F.min("record_number").alias("record_number"),
            F.min("product_template").alias("product_template"),
            F.min("radar_site_number").alias("radar_site_number"),
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.count(F.when(_present("v"), F.lit(1)))
            .cast("bigint")
            .alias("n_present"),
            F.sum(F.when(_present("v"), v10).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("v10sum"),
            F.sum(
                F.when(_present("v"), v10 * F.col("pos")).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("w10sum"),
            F.sum(F.when(~_present("v"), F.col("pos")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("nanpos"),
        )
        .orderBy("doc_id")
    )


@query(
    "grid_grib2_reforecast_scan",
    tags=("grid", "codec", "python", "ingest"),
    oracle="""
WITH g AS (
  SELECT doc_id, 4 + doc_id % 3 AS ni, 3 + doc_id % 2 AS nj
  FROM documents WHERE doc_id % 79 = 15 AND doc_id < 1580
),
rec AS (
  SELECT doc_id, ni, nj, r.r AS r
  FROM g, UNNEST(generate_series(0, 1)) AS r(r)
),
cells AS (
  SELECT doc_id, r, p.pos,
         20 + ((doc_id * 7 + r * 13 + p.pos * 3) % 60) AS v
  FROM rec,
       LATERAL (
         SELECT unnest(generate_series(0, ni * nj - 1)) AS pos
       ) p
)
SELECT doc_id,
       CAST(r + 1 AS INTEGER) AS record_number,
       CAST(60 + r AS INTEGER) AS product_template,
       CAST(1 + doc_id % 10 AS INTEGER) AS ensemble_member,
       CAST(11 AS INTEGER) AS ensemble_size,
       make_timestamp(
         2011 + doc_id % 10, 1 + doc_id % 12, 1 + doc_id % 28,
         doc_id % 24, 0, 0
       ) AS model_version,
       CAST(CASE r WHEN 1 THEN 1 END AS INTEGER) AS statistical_process,
       CASE r WHEN 1
         THEN make_timestamp(2020, 1 + doc_id % 12, 4, 6, 0, 0)
       END AS interval_end,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(v) AS BIGINT) AS vsum
FROM cells
GROUP BY doc_id, r
ORDER BY doc_id, r
""",
)
def grid_grib2_reforecast_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENSEMBLE REFORECAST products (PDTs 4.60 point-in-time / 4.61
    statistical-interval — the GEFS v12 reforecast archive form, the
    decades-deep hindcast datasets ML-weather training pipelines
    consume): 4.1/4.11's layout with the MODEL VERSION DATE appended
    after the ensemble octets, landing as a ``model_version``
    timestamp column — the field that separates the interleaved runs
    of different model versions a reforecast archive mixes over its
    reference-time span.  4.61's statistical block rides SEVEN octets
    past 4.11's (after the version date); the oracle pins the shifted
    interval end.

    Witness: per (document, record) the template number, ensemble
    member/size, the full model-version timestamp, and — on 4.61 —
    the statistical process and interval end, beside exact value sums;
    a decoder reading 4.11's statistical offset on a 4.61 would decode
    the version date as the interval head.  The wire layout is pinned
    foreign by tests/test_foreign_grib.py::
    test_foreign_reforecast_grib2_decodes.

    Scale: the landing posture — one Arrow decode stage, statistic
    rows shuffle; at 100 TB, ``model_version`` is a pushed column
    predicate ("only the v12 runs") on the landed archive, not a
    re-decode.
    """
    import numpy as np

    from ..grid.grib2 import encode_grib2_message

    def build(d: int) -> bytes:
        ni, nj = 4 + d % 3, 3 + d % 2
        pos = np.arange(ni * nj)
        mv = (2011 + d % 10, 1 + d % 12, 1 + d % 28, d % 24, 0, 0)
        ens = {"type": 3, "member": 1 + d % 10, "size": 11}
        stat = {
            "process": 1,
            "interval_end": (2020, 1 + d % 12, 4, 6, 0),
            "range_hours": 6,
        }
        content = b""
        for r, extra in enumerate(({}, {"statistical": stat})):
            v = (
                20 + ((d * 7 + r * 13 + pos * 3) % 60)
            ).astype(np.float64).reshape(nj, ni)
            content += encode_grib2_message(
                v,
                nbits=8,
                reference_value=20.0,
                ensemble=ens,
                model_version=mv,
                **extra,
            )
        return content

    records = landed_records(spark, sf_dir, (79, 15, 1580), build)
    return records.select(
        "doc_id",
        "record_number",
        "product_template",
        "ensemble_member",
        "ensemble_size",
        "model_version",
        "statistical_process",
        "interval_end",
        F.size("values").cast("bigint").alias("n_cells"),
        vsum(),
    ).orderBy("doc_id", "record_number")
