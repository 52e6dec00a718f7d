"""File-based GRIB source: point the engine at a directory of ``.grib``
downloads (edition 1, edition 2 or both mixed) and get cells as a
DataFrame — batch or streaming.

This is the literal form of the reference's ingest entry: its sources
download GRIB files into a landing area and every downstream step reads
those bytes (/root/reference/src/sources/era5monthly.js:172-195 download,
src/file-conversions.js record extract). Here the landing directory is
scanned with Spark's ``binaryFile`` source (path/length/content rows,
works identically under ``read`` and ``readStream``), each file's
records decode through the pure-Python codecs (grid/grib1.py for
edition 1, grid/grib2.py for edition 2, per message) inside one Arrow
``mapInPandas`` stage, and the raster becomes relational rows.

One rule lands a record of either edition (:func:`_decode_record_row`):
every ``RECORD_SCHEMA`` product column copies from the decoded record's
same-named field, and one georeference mapping fills the grid columns.
Only the decode call, the level rule (edition-1 layer octets, edition-2
scaled surfaces) and how a coordinate reads in millidegrees differ per
edition.  The header-only inventory follows the same by-name rule.

Layering:

* :func:`grib1_records` — one row per (file, record): full header
  metadata + the value grid as ``array<double>`` (row-major, NULL where
  the bitmap masks). Payload bytes never leave the executor; the array
  column is the decoded raster.
* :func:`grib1_cells` — JVM-side ``posexplode`` of the record rows into
  (lat_mdeg, lon_mdeg, value) cells with coordinates derived from the
  decoded GDS. No Python in this step.
* :func:`grib1_records_stream` — the same decode over
  ``readStream.format("binaryFile")``: new files landing in the
  directory become micro-batches, so the reference's "one month per
  run" incremental pull is just file arrival + this stream.

Scale: files decode independently (embarrassingly parallel scan);
``binaryFile`` splits by file, so partition count tracks file count —
for a 100 TB archive of month-files this is exactly the unit of work
you want, and ``maxFilesPerTrigger`` paces the streaming form.
"""

from __future__ import annotations

import re
from functools import partial
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..grid.grib1 import iter_grib_messages, loud_truncation

_LOUD_CODEC: dict = {}


def _loud(fn):
    """Memoized :func:`loud_truncation` wrapper — the codec-boundary
    guard runs per RECORD on the scan hot path, so the wrapper is
    built once per callable, not once per record."""
    w = _LOUD_CODEC.get(fn)
    if w is None:
        w = _LOUD_CODEC[fn] = loud_truncation(fn)
    return w

RECORD_SCHEMA = (
    "path string, record_number int, edition int, grid_template int, "
    "product_template int, "
    "parameter int, category int, number int, "
    "level_type int, level int, level2_type int, level2 int, "
    "year int, month int, day int, hour int, "
    "forecast_hours int, statistical_process int, interval_end timestamp, "
    "time_range_count int, "
    "ensemble_member int, ensemble_size int, derived_forecast int, "
    "cluster_identifier int, cluster_total int, cluster_size int, "
    "probability_type int, prob_lower_limit double, "
    "prob_upper_limit double, percentile_value int, "
    "satellite_bands int, satellite_series array<int>, "
    "satellite_numbers array<int>, satellite_instruments array<int>, "
    "central_wavenumbers array<double>, "
    "radar_sites int, radar_site_id string, radar_site_number int, "
    "radar_site_lat double, radar_site_lon double, "
    "radar_elevation_m int, radar_operating_mode int, "
    "constituent_type int, aerosol_type int, "
    "aerosol_size_interval int, aerosol_first_size_m double, "
    "aerosol_second_size_m double, aerosol_wavelength_interval int, "
    "aerosol_first_wavelength_m double, "
    "aerosol_second_wavelength_m double, "
    "model_version timestamp, "
    "ni int, nj int, lat_first_mdeg int, lon_first_mdeg int, "
    "dlat_mdeg int, dlon_mdeg int, latitudes_udeg array<bigint>, "
    "cell_lats_deg array<double>, cell_lons_deg array<double>, "
    "values array<double>, error string"
)


def _columns(schema: str) -> list[str]:
    """Column names of a DDL schema string, in order."""
    return [c.split()[0] for c in schema.split(", ")]


_RECORD_COLUMNS = _columns(RECORD_SCHEMA)


def _udeg_to_mdeg(udeg: int) -> int:
    """GRIB2 microdegrees → the unified millidegree columns, EXACTLY.
    Sub-millidegree grids raise instead of silently truncating (floor
    division would also round negative non-multiples away from zero)."""
    q, rem = divmod(int(udeg), 1000)
    if rem:
        raise ValueError(
            f"grid coordinate {udeg} µdeg is not a whole millidegree — "
            "sub-millidegree GRIB2 grids are not representable in the "
            "unified mdeg schema"
        )
    return q


INVENTORY_SCHEMA = (
    "path string, record_number int, edition int, parameter int, "
    "category int, number int, level_type int, level int, "
    "level2_type int, level2 int, forecast_hours int, "
    "year int, month int, day int, hour int, ni int, nj int, "
    "total_bytes int, error string"
)
_INVENTORY_COLUMNS = _columns(INVENTORY_SCHEMA)
# What a record's header fills; the scan adds the rest.
_INVENTORY_FIELDS = _INVENTORY_COLUMNS[2:-1]


def _parse_on_error(on_error: str) -> bool:
    """``fail`` (default): a corrupt record fails the whole scan task —
    the strict posture every oracle query runs under.  ``quarantine``:
    the 100 TB operational posture — a torn or undecodable record
    becomes ONE row with the ``error`` column set (path + record
    number + the codec's ValueError text) and every other field NULL;
    good records, including those BEFORE a tear in the same file, land
    normally.  Silent skipping is never an option: the error rows ARE
    the quarantine manifest a re-ingest job consumes."""
    if on_error not in ("fail", "quarantine"):
        raise ValueError(
            f"on_error must be 'fail' or 'quarantine', got {on_error!r}"
        )
    return on_error == "quarantine"


def _scan_units(buf: bytes, quarantine: bool):
    """Record units with FRAMING errors routed per the scan mode: a
    torn message boundary ends the file's unit stream (nothing after
    it can be trusted — record numbering itself is gone), surfacing as
    one ('error', n, text) item in quarantine mode."""
    it = _record_units(buf)
    n = 0
    while True:
        try:
            unit = next(it)
        except StopIteration:
            return
        except ValueError as e:
            if not quarantine:
                raise
            yield "error", n + 1, f"record framing: {e}"
            return
        n += 1
        yield "unit", n, unit


def _quarantine_row(columns, path: str, n: int, error: str) -> dict:
    row = dict.fromkeys(columns)
    row["path"], row["record_number"], row["error"] = path, n, error
    return row


@loud_truncation
def _grib2_header(msg: bytes) -> dict:
    """Header-only inspection of a SINGLE-FIELD GRIB2 message (the
    strict byte-level form; multi-field messages reject via
    ``_sections`` — the scan paths go per-field through
    :func:`_grib2_field_header`)."""
    from ..grid.grib2 import _sections

    return _grib2_field_header(_sections(bytes(msg)))


def _grib2_field_header(s: dict) -> dict:
    """Header-only GRIB2 FIELD inspection from its resolved section
    dict: PDS/GDS extraction WITHOUT touching section 7's packed bits —
    the edition-2 sibling of ``grid.grib1.inspect_grib1``.  Sections
    come from ``_sections`` (single-field) or ``_iter_field_sections``
    (submessage archives), so header cost stays a few hundred bytes
    per field either way."""
    from ..grid.grib2 import (
        _S1,
        _S3,
        _S4,
        _grid_shape,
        _parse_section,
        surface_level_lenient,
        surface_level_text,
    )

    year, month, day, hour, _ = _parse_section(_S1, s[1])["reftime"]
    # Section 3 through the same template table as the full decode, in
    # its head form: the template gate and Ni/Nj, and none of the
    # geometry checks, which stay with the decode.  Section 4 likewise:
    # a calendar-unit or sub-hour lead cannot fill the integer column,
    # but the inventory must still LIST the record (wgrib2 lists every
    # record of a mixed archive), so it reads None; the full decode
    # keeps the loud stop.
    g = _parse_section(_S3, s[3], head=True)
    h = _parse_section(_S4, s[4], head=True)
    # Spectral records have no Ni/Nj: the inventory LISTS them (wgrib2
    # lists spectral fields) with NULL dimensions; only the gridpoint
    # DECODE rejects them (grib_source._decode_batches).  A reduced
    # Gaussian grid has no common Ni.
    ni, nj = _grid_shape(g) if "nj" in g else (None, None)
    l2_value, l2_scale = h["level2_value"], h["level2_scale"]
    return {
        "category": h["category"],
        "number": h["number"],
        "level_type": h["level_type"],
        # LENIENT on the inventory surface: a fractional level (sigma
        # 0.995, scaled soil depth) fills the integer column with NULL
        # — same convention as non-hour leads — and carries its exact
        # decimal in level_text for the inventory line; the full
        # decode keeps the loud surface_level stop.
        "level": surface_level_lenient(h["level_value"], h["level_scale"]),
        "level_text": surface_level_text(h["level_value"], h["level_scale"]),
        "level2_type": h["level2_type"],
        "level2": surface_level_lenient(l2_value, l2_scale),
        "level2_text": (
            None if l2_value is None else surface_level_text(l2_value, l2_scale)
        ),
        "forecast_hours": h["forecast_hours"],
        "year": year,
        "month": month,
        "day": day,
        "hour": hour,
        "ni": ni,
        "nj": nj,
        # bytes attributable to the field: its sections plus the
        # resolved context and terminator — exactly the message length
        # for single-field messages; multi-field fields each count
        # their inherited context once.
        "total_bytes": sum(len(v) for v in s.values()) + 4,
    }


def _record_units(buf: bytes):
    """(edition, message bytes, GRIB2 section dict | None) per RECORD —
    one per GRIB1 message, one per FIELD of a GRIB2 message.  This is
    the unit the landing scan numbers, inventories, match-filters and
    decodes, so submessage archives behave exactly like their
    split-into-messages equivalent."""
    from ..grid.grib2 import _iter_field_sections

    for edition, msg in iter_grib_messages(buf):
        if edition == 1:
            yield 1, msg, None
        else:
            for s in _iter_field_sections(msg):
                yield 2, msg, s


def _layer_type(level_type: int | None, level2: int | None) -> int | None:
    """Edition 1 describes a layer with ONE level type: its bottom lands
    in ``level2`` with ``level2_type`` the same table-3 code, so "is a
    layer" is ``level2 IS NOT NULL`` across editions."""
    return level_type if level2 is not None else None


@loud_truncation
def _unified_inventory(edition: int, msg: bytes, s: dict | None = None) -> dict:
    """One header dict per record, both editions, value bits untouched."""
    from ..grid.grib1 import inspect_grib1

    if edition == 1:
        h = inspect_grib1(msg)
        out = {c: h.get(c) for c in _INVENTORY_FIELDS}
        out.update(edition=1, level2_type=_layer_type(h["level_type"], h["level2"]))
        return out
    from ..grid.grib2 import _sections

    return {
        "edition": 2,
        "parameter": None,
        **_grib2_field_header(s if s is not None else _sections(bytes(msg))),
    }


def inventory_line(edition: int, msg: bytes, s: dict | None = None) -> str:
    """wgrib/wgrib2-style inventory rendering over the UNIFIED header:
    ``e{edition}:p{parameter}|c{category},n{number}:l{level_type}/
    {level}[-{level2}]:{YYYYMMDDHH}:f{forecast_hours}`` — the regex
    surface ``match=`` filters against, derived from headers only (a
    few hundred bytes per record, never a value bit — the reference's
    wgrib2 -match contract at landing scale).  A LAYER's bounds render
    as ``l112/0-10`` and the lead as a trailing ``:f6``, so wgrib2-
    style selections ("only analyses": ``:f0$``, "only the 0-10 cm
    layer": ``l112/0-10``) stay header-side.  For a FIELD of a
    multi-field message pass its resolved section dict as ``s``."""
    h = _unified_inventory(edition, msg, s)
    ident = (
        f"p{h['parameter']}" if edition == 1
        else f"c{h['category']},n{h['number']}"
    )
    lt = "-" if h["level_type"] is None else h["level_type"]
    # GRIB2 headers carry an exact-decimal level_text (fractional
    # surfaces list as e.g. ``l104/0.995``); GRIB1 levels are raw PDS
    # integers, rendered directly.
    lv = h.get("level_text") or ("-" if h["level"] is None else str(h["level"]))
    if h.get("level2_text") is not None:
        lv = f"{lv}-{h['level2_text']}"
    elif h["level2"] is not None:
        lv = f"{lv}-{h['level2']}"
    # A non-hour-convertible lead (calendar units, reinterpreting GRIB1
    # TRIs) inventories as ``f-`` — same sentinel convention as the
    # missing level — so a ``:f6$`` match can never select it.
    fh = "-" if h["forecast_hours"] is None else h["forecast_hours"]
    return (
        f"e{edition}:{ident}:l{lt}/{lv}:"
        f"{h['year']:04d}{h['month']:02d}{h['day']:02d}{h['hour']:02d}"
        f":f{fh}"
    )


def _inventory_batches(batches: "Iterator", on_error: str = "fail") -> "Iterator":
    import pandas as pd

    quarantine = _parse_on_error(on_error)
    for pdf in batches:
        rows = []
        for path, content in zip(pdf["path"], pdf["content"]):
            for kind, n, payload in _scan_units(bytes(content), quarantine):
                if kind == "error":
                    rows.append(_quarantine_row(_INVENTORY_COLUMNS, path, n, payload))
                    continue
                edition, msg, s = payload
                try:
                    rows.append(
                        {
                            "path": path,
                            "record_number": n,
                            "error": None,
                            **_unified_inventory(edition, msg, s),
                        }
                    )
                except ValueError as e:
                    if not quarantine:
                        raise
                    rows.append(_quarantine_row(_INVENTORY_COLUMNS, path, n, str(e)))
        yield pd.DataFrame(rows, columns=_INVENTORY_COLUMNS)


def grib_inventory(
    spark: SparkSession, path: str, on_error: str = "fail"
) -> DataFrame:
    """Header-ONLY landing scan: every record's metadata without
    unpacking a single value bit (GRIB1 via ``inspect_grib1``, GRIB2 via
    section splitting). At 100 TB this is the cheap inventory pass —
    I/O still reads the files, but CPU per record is a few hundred
    header bytes, and the output carries no payload arrays at all."""
    files = spark.read.format("binaryFile").load(path).select("path", "content")
    return files.mapInPandas(
        partial(_inventory_batches, on_error=on_error), schema=INVENTORY_SCHEMA
    )


# The columns the landing rule fills itself.  Every other RECORD_SCHEMA
# column is a product column, copied from the decoded record's
# same-named attribute (None where that edition has no such field).
_GEOREF_COLUMNS = (
    "lat_first_mdeg", "lon_first_mdeg", "dlat_mdeg", "dlon_mdeg",
    "latitudes_udeg", "cell_lats_deg", "cell_lons_deg",
)
_PRODUCT_COLUMNS = [
    c for c in _RECORD_COLUMNS
    if c not in {
        "path", "record_number", "edition", "year", "month", "day", "hour",
        "values", "error", *_GEOREF_COLUMNS,
    }
]
# Calendar tuples (year, month, day, hour, minute) that land as timestamps.
_TIMESTAMP_COLUMNS = ("interval_end", "model_version")


def _timestamp(t: tuple):
    import pandas as pd

    y, mo, d, h, mi = t
    return pd.Timestamp(year=y, month=mo, day=d, hour=h, minute=mi)


def _exact_udeg(lats_deg) -> list[int]:
    """Quadrature latitudes (degrees) -> exact microdegrees."""
    return [int(round(float(v) * 1e6)) for v in lats_deg]


def _georef(rec, mdeg) -> dict:
    """The georeference columns of a decoded record, both editions;
    ``mdeg(field)`` reads a coordinate field in exact millidegrees.
    A column a grid family does not have stays NULL — visible, never
    fabricated.

    1. Ragged rows (reduced Gaussian or lat/lon): no common Ni or dlon,
       so quadrature latitudes per parallel in exact microdegrees AND
       per-cell coordinates, values flat in storage order.
    2. Gaussian: no affine latitude axis (never a fabricated dlat); the
       exact quadrature latitudes ride along.
    3. Per-cell coordinates: projected grids (Mercator, polar
       stereographic, Lambert) have no affine lat/lon axes, and a
       rotated and/or stretched grid's affine fields are coordinates in
       THAT system, so either read as geography would be silent
       corruption.  The georeference is the codec's per-cell coordinate
       arrays in storage order.
    4. Affine lat/lon."""
    if rec.row_ni is not None:
        return {
            "lon_first_mdeg": mdeg("lon_first"),
            "latitudes_udeg": _exact_udeg(rec.latitudes_deg),
            "cell_lats_deg": rec.cell_lats_deg.tolist(),
            "cell_lons_deg": rec.cell_lons_deg.tolist(),
        }
    if rec.gaussian_n is not None:
        return {
            "lon_first_mdeg": mdeg("lon_first"),
            "dlon_mdeg": mdeg("dlon"),
            "latitudes_udeg": _exact_udeg(rec.latitudes_deg),
        }
    if rec.cell_lats_deg is not None:
        return {
            "cell_lats_deg": rec.cell_lats_deg.reshape(-1).tolist(),
            "cell_lons_deg": rec.cell_lons_deg.reshape(-1).tolist(),
        }
    return {f"{f}_mdeg": mdeg(f) for f in ("lat_first", "lon_first", "dlat", "dlon")}


def _decode_record_row(
    path, n, edition, msg, s, rx, synthesize_spectral,
    predefined_bitmaps=None,
):
    """One record unit → one RECORD_SCHEMA row dict, or None when the
    ``match=`` regex rejects it header-side — the shared per-unit body
    of the fail-fast and quarantine scan modes (every reject in here
    is a ValueError, which ``on_error='quarantine'`` converts to an
    error row instead of failing the whole scan).

    One rule lands both editions: product columns copy by name, and
    only the decode call, the level rule and the millidegree read of a
    coordinate differ per edition.  GRIB1 has no product template and
    no (category, number) pair; GRIB2 has no ``parameter``, whose
    numbering would collide with GRIB1's (c0,n11 vs TMP=11), so
    consumers key jointly on (edition, parameter, category, number)."""
    from ..grid.grib1 import decode_grib1
    from ..grid.grib2 import _decode_field, spectral_synthesis, surface_level

    # Predicate pushdown to the codec boundary: the regex runs over the
    # header-derived inventory line, so a non-matching record costs a
    # header parse — its value bits are never unpacked (wgrib2 -match
    # semantics).  Records are FIELDS: a multi-field message's fields
    # number, match and decode independently.
    if rx is not None and not rx.search(inventory_line(edition, msg, s)):
        return None
    if edition == 1:
        rec = decode_grib1(msg, predefined_bitmaps=predefined_bitmaps)
    else:
        rec = _loud(_decode_field)(s)
    if rec.spectral_truncation is not None and synthesize_spectral is None:
        # Spherical-harmonic records have NO gridpoint cells — landing
        # them would fabricate a zero-increment georef.  The inventory
        # LISTS them (ni/nj NULL), ``match=`` can skip them header-side,
        # and synthesis is the explicit decode route.
        raise ValueError(
            f"record {n}: spectral field (T{rec.spectral_truncation}) cannot "
            "land as gridpoints — synthesize explicitly via "
            "synthesize_spectral=(nj, ni) / grib2.spectral_synthesis, or "
            "exclude it with match="
        )
    row = dict.fromkeys(_RECORD_COLUMNS)
    row.update(path=path, record_number=n, edition=edition)
    for c in _PRODUCT_COLUMNS:
        v = getattr(rec, c, None)
        if isinstance(v, tuple):
            v = _timestamp(v) if c in _TIMESTAMP_COLUMNS else list(v)
        row[c] = v
    row["year"], row["month"], row["day"], row["hour"] = rec.reftime[:4]
    if edition == 1:
        # Layer level types split octets 11-12 as (top, bottom).
        row["level2_type"] = _layer_type(rec.level_type, rec.level2)

        def mdeg(f):
            return getattr(rec, f"{f}_mdeg")
    else:
        # The fixed surfaces (scaled value, scale factor) → integer
        # levels; coded-missing surfaces stay NULL (a level filter must
        # fail VISIBLY, not match 0), and a point level's NULL second
        # surface keeps a 0-10 cm soil LAYER from masquerading as a
        # point measurement at its top.
        row["level"] = surface_level(rec.level_value, rec.level_scale)
        row["level2"] = surface_level(rec.level2_value, rec.level2_scale)

        def mdeg(f):
            return _udeg_to_mdeg(getattr(rec, f"{f}_udeg"))
    values = rec.values
    if rec.spectral_truncation is None:
        row.update(_georef(rec, mdeg))
    else:
        # EXPLICIT synthesis at the scan edge (opt-in): the spectrum
        # lands as the global Gaussian raster the caller asked for —
        # quadrature latitudes in exact microdegrees like a native
        # Gaussian record, lon axis from 0°E with the affine step, and
        # grid_template 50 marking the raster SYNTHESIZED so consumers
        # can tell it from a producer-gridded field.  Product metadata
        # (level, lead, statistics) rides unchanged.
        nj_s, ni_s = synthesize_spectral
        if 360_000 % ni_s:
            raise ValueError(
                f"synthesis ni={ni_s} must divide the "
                "360000-mdeg circle for an exact grid step"
            )
        values, s_lats = _loud(spectral_synthesis)(
            rec.spectral_coeffs, rec.spectral_truncation, nj_s, ni_s
        )
        row.update(
            ni=ni_s, nj=nj_s, grid_template=50,
            latitudes_udeg=_exact_udeg(s_lats), lon_first_mdeg=0,
            dlon_mdeg=360_000 // ni_s,
        )
    row["values"] = values.reshape(-1).tolist()
    return row


def _decode_batches(
    batches: "Iterator",
    match: str | None = None,
    synthesize_spectral: "tuple[int, int] | None" = None,
    on_error: str = "fail",
    predefined_bitmaps: dict | None = None,
) -> "Iterator":
    import pandas as pd

    rx = re.compile(match) if match else None
    quarantine = _parse_on_error(on_error)
    for pdf in batches:
        rows = []
        for path, content in zip(pdf["path"], pdf["content"]):
            for kind, n, payload in _scan_units(bytes(content), quarantine):
                if kind == "error":
                    rows.append(_quarantine_row(_RECORD_COLUMNS, path, n, payload))
                    continue
                edition, msg, s = payload
                try:
                    row = _decode_record_row(
                        path, n, edition, msg, s, rx, synthesize_spectral,
                        predefined_bitmaps,
                    )
                except ValueError as e:
                    if not quarantine:
                        raise
                    rows.append(
                        _quarantine_row(_RECORD_COLUMNS, path, n, str(e))
                    )
                    continue
                if row is not None:
                    rows.append(row)
        yield pd.DataFrame(rows, columns=_RECORD_COLUMNS)


def _decode_stage(files: DataFrame, **options) -> DataFrame:
    """The one decode stage of the batch and streaming scans: binaryFile
    rows → RECORD_SCHEMA rows through ``_decode_batches``."""
    return files.select("path", "content").mapInPandas(
        partial(_decode_batches, **options), schema=RECORD_SCHEMA
    )


def grib1_records(
    spark: SparkSession,
    path: str,
    match: str | None = None,
    synthesize_spectral: "tuple[int, int] | None" = None,
    on_error: str = "fail",
    predefined_bitmaps: dict | None = None,
) -> DataFrame:
    """Batch scan of a GRIB landing directory/glob → one row per record.
    ``match`` (regex over :func:`inventory_line`) selects records
    header-side BEFORE any value bit unpacks — the wgrib2 ``-match``
    contract pushed down into the landing scan.

    ``synthesize_spectral=(nj, ni)`` opts spherical-harmonic records
    (both editions) INTO the scan: each synthesizes onto the global
    nj-parallel Gaussian grid with ni longitudes
    (grib2.spectral_synthesis) and lands like a native Gaussian record
    (quadrature latitudes in exact microdegrees, lon axis from 0°E,
    grid_template 50 marking the raster SYNTHESIZED).  Without it,
    spectral records stop the decode loudly — a zero-increment georef
    is never fabricated.

    ``predefined_bitmaps`` is the job-wide (centre, number) → mask
    catalog for records whose BMS names a CENTRE-PREDEFINED bitmap
    (grid.grib1.decode_grib1); the small catalog ships inside the
    Arrow-stage closure, so at 100 TB it broadcasts once per executor
    like any other serialized task constant."""
    return _decode_stage(
        spark.read.format("binaryFile").load(path),
        match=match,
        synthesize_spectral=synthesize_spectral,
        on_error=on_error,
        predefined_bitmaps=predefined_bitmaps,
    )


def grib1_records_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
    match: str | None = None,
    synthesize_spectral: "tuple[int, int] | None" = None,
    on_error: str = "fail",
    predefined_bitmaps: dict | None = None,
) -> DataFrame:
    """Streaming scan: files arriving under ``path`` decode incrementally.
    The file source tracks processed files in the checkpoint, so each
    landed GRIB is decoded exactly once — the reference's watermark-file
    bookkeeping (src/rabbit.js:25-26) for free."""
    # The streaming file source requires an explicit schema; binaryFile's
    # is fixed by the format.
    reader = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, "
            "content binary"
        )
        # FileStreamSource's default maxFileAge (7 days vs the newest
        # file seen) silently skips late-landed archives with preserved
        # old mtimes — rsync/cp -p backfills are exactly that shape
        .option("maxFileAge", "36500d")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _decode_stage(
        reader.load(path),
        match=match,
        synthesize_spectral=synthesize_spectral,
        on_error=on_error,
        predefined_bitmaps=predefined_bitmaps,
    )


def grib1_cells(records: DataFrame) -> DataFrame:
    """Record rows → (record metadata, coordinates, value) cells.

    Pure JVM: posexplode over the decoded array, coordinates by grid
    family — affine grids expand the GDS axis (lat_first − j·dlat,
    lon_first + i·dlon), Gaussian grids read their quadrature row
    latitude, and projected / reduced-Gaussian grids read the
    per-cell coordinate arrays the landing decode carried.  Unified
    columns: ``lat_deg``/``lon_deg`` (double, every family),
    ``lat_udeg``/``lon_udeg`` (bigint microdegrees — exact for
    affine/Gaussian, rounded for per-cell families), and the affine
    ``lat_mdeg``/``lon_mdeg`` (NULL off the affine lat/lon family —
    visible, never fabricated).  Missing cells (bitmap) surface as
    NULL value — Arrow already maps the codec's NaN to NULL, and any
    residual NaN is normalized here so downstream null-ignoring
    aggregates are exact.  Quarantine-manifest rows (NULL ``values``)
    carry no cells and are dropped here — without the filter the outer
    explode would fabricate one phantom all-NULL cell per corrupt
    record, inflating every downstream count."""
    e = records.filter(F.col("values").isNotNull()).select(
        "path",
        "record_number",
        "grid_template",
        "parameter",
        "year",
        "month",
        "ni",
        "nj",
        "lat_first_mdeg",
        "lon_first_mdeg",
        "dlat_mdeg",
        "dlon_mdeg",
        "latitudes_udeg",
        "cell_lats_deg",
        "cell_lons_deg",
        F.posexplode_outer("values").alias("idx", "v"),
    )
    i = F.col("idx") % F.col("ni")
    j = (F.col("idx") / F.col("ni")).cast("int")
    cell_lat = F.element_at("cell_lats_deg", F.col("idx") + F.lit(1))
    cell_lon = F.element_at("cell_lons_deg", F.col("idx") + F.lit(1))
    affine_lat_mdeg = F.col("lat_first_mdeg") - j * F.col("dlat_mdeg")
    affine_lon_mdeg = F.col("lon_first_mdeg") + i * F.col("dlon_mdeg")
    lat_udeg = (
        F.when(
            F.col("cell_lats_deg").isNotNull(),
            F.round(cell_lat * F.lit(1e6)).cast("bigint"),
        )
        .when(
            F.col("latitudes_udeg").isNotNull(),
            F.element_at("latitudes_udeg", j + F.lit(1)),
        )
        .otherwise(
            affine_lat_mdeg.cast("bigint") * F.lit(1000).cast("bigint")
        )
    )
    lon_udeg = F.when(
        F.col("cell_lons_deg").isNotNull(),
        F.round(cell_lon * F.lit(1e6)).cast("bigint"),
    ).otherwise(
        affine_lon_mdeg.cast("bigint") * F.lit(1000).cast("bigint")
    )
    lat_deg = F.when(F.col("cell_lats_deg").isNotNull(), cell_lat).otherwise(
        lat_udeg.cast("double") / F.lit(1e6)
    )
    lon_deg = F.when(F.col("cell_lons_deg").isNotNull(), cell_lon).otherwise(
        lon_udeg.cast("double") / F.lit(1e6)
    )
    return e.select(
        "path",
        "record_number",
        "grid_template",
        "parameter",
        "year",
        "month",
        affine_lat_mdeg.alias("lat_mdeg"),
        lat_udeg.alias("lat_udeg"),
        affine_lon_mdeg.alias("lon_mdeg"),
        lon_udeg.alias("lon_udeg"),
        lat_deg.alias("lat_deg"),
        lon_deg.alias("lon_deg"),
        F.when(F.isnan("v") | F.col("v").isNull(), None)
        .otherwise(F.col("v"))
        .alias("value"),
    )
