"""File-based GRIB1 source: point the engine at a directory of ``.grib``
downloads and get cells as a DataFrame — batch or streaming.

This is the literal form of the reference's ingest entry: its sources
download GRIB files into a landing area and every downstream step reads
those bytes (/root/reference/src/sources/era5monthly.js:172-195 download,
src/file-conversions.js record extract). Here the landing directory is
scanned with Spark's ``binaryFile`` source (path/length/content rows,
works identically under ``read`` and ``readStream``), each file's
records decode through the pure-Python codec (grid/grib1.py) inside one
Arrow ``mapInPandas`` stage, and the raster becomes relational rows.

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

from ..grid.grib1 import loud_truncation

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


def iter_grib_messages(buf: bytes):
    """Edition-sniffing scan of a (possibly mixed) GRIB archive file:
    yields (edition, message bytes) per record. Real archives mix
    editions across products (ERA5 surface vs wave, GFS), so the landing
    scan dispatches per message on the indicator's edition octet rather
    than assuming one codec per file."""
    import struct

    buf = bytes(buf)
    pos = 0
    n = len(buf)
    while pos < n:
        idx = buf.find(b"GRIB", pos)
        if idx < 0:
            return
        if idx + 16 > n:
            raise ValueError("truncated GRIB indicator section")
        edition = buf[idx + 7]
        # Parse the message length in place — slicing the remaining
        # buffer per record would copy O(n²) bytes on many-record files.
        if edition == 1:
            total = (buf[idx + 4] << 16) | (buf[idx + 5] << 8) | buf[idx + 6]
            min_total = 12  # indicator + room for the 7777 inside
        elif edition == 2:
            (total,) = struct.unpack_from(">Q", buf, idx + 8)
            min_total = 20  # 16-octet indicator + the 7777
        else:
            raise ValueError(f"unsupported GRIB edition {edition}")
        if total < min_total:
            # A zeroed/implausible indicator length is a FRAMING error:
            # end <= idx would re-find the same magic forever (the
            # quarantine loop then emits unbounded manifest rows), and
            # the terminator check would read bytes BEFORE this message.
            raise ValueError(
                f"GRIB indicator declares impossible length {total}"
            )
        end = idx + total
        if end > n:
            raise ValueError("truncated GRIB message")
        if buf[end - 4 : end] != b"7777":
            raise ValueError("missing 7777 terminator")
        yield edition, buf[idx:end]
        pos = end


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


def _apply_surface_scale(value: int | None, scale: int | None) -> int | None:
    """Template 4.0 fixed surface (scaled value, scale factor) → integer
    level — the cross-surface helper lives in grid.grib2 (shared with
    the codec-level inventory line so the two renderings can never
    disagree on the same record's level)."""
    from ..grid.grib2 import surface_level

    return surface_level(value, scale)


INVENTORY_SCHEMA = (
    "path string, record_number int, edition int, parameter int, "
    "category int, number int, level_type int, level int, "
    "level2_type int, level2 int, forecast_hours int, "
    "year int, month int, day int, hour int, ni int, nj int, "
    "total_bytes int, error string"
)
_INVENTORY_COLUMNS = _columns(INVENTORY_SCHEMA)


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
    import struct

    from ..grid.grib2 import (
        _GRID_TEMPLATES,
        _S1,
        _S4,
        _parse_section,
        surface_level_lenient,
        surface_level_text,
    )

    s3 = s[3]
    year, month, day, hour, _ = _parse_section(_S1, s[1])["reftime"]
    # Mirror decode_grib2's template gates: reading Ni/Nj or level
    # octets through a different template's layout would emit garbage
    # metadata exactly where the full decode stops loudly.
    (tmpl3,) = struct.unpack_from(">H", s3, 12)
    if tmpl3 not in _GRID_TEMPLATES:
        raise ValueError(f"unsupported grid definition template {tmpl3}")
    # Category, number, surfaces and lead through the same template
    # table as the full decode.  LENIENT here: a calendar-unit or
    # sub-hour lead cannot fill the integer column, but the inventory
    # must still LIST the record (wgrib2 lists every record of a mixed
    # archive), so it reads None; the full decode keeps the loud stop.
    h = _parse_section(_S4, s[4], head=True)
    if tmpl3 == 50:
        # Spectral records have no Ni/Nj — the inventory LISTS them
        # (wgrib2 lists spectral fields) with NULL dimensions; only the
        # gridpoint DECODE rejects them (grib_source._decode_batches).
        ni = nj = None
    else:
        g = s3[14:]
        (ni,) = struct.unpack_from(">I", g, 16)
        (nj,) = struct.unpack_from(">I", g, 20)
        if nj == 0xFFFFFFFF:
            # nj is never legitimately missing; letting the sentinel
            # through would overflow the int32 schema column opaquely
            raise ValueError(
                f"grid dimensions coded missing on template {tmpl3}"
            )
        if ni == 0xFFFFFFFF and tmpl3 == 40:
            ni = None  # reduced Gaussian grid: per-row counts, no common Ni
        elif ni == 0xFFFFFFFF:
            # same gate as _decode_field: a sentinel Ni on any
            # non-reduced template would inventory garbage dimensions
            raise ValueError(
                f"grid dimensions coded missing on template {tmpl3}"
            )
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


@loud_truncation
def _unified_inventory(edition: int, msg: bytes, s: dict | None = None) -> dict:
    """One header dict per record, both editions, value bits untouched."""
    from ..grid.grib1 import inspect_grib1

    if edition == 1:
        h = inspect_grib1(msg)
        return {
            "edition": 1,
            "parameter": h["parameter"],
            "category": None,
            "number": None,
            "level_type": h["level_type"],
            "level": h["level"],
            "level2_type": h["level_type"] if h["level2"] is not None else None,
            "level2": h["level2"],
            "forecast_hours": h["forecast_hours"],
            "year": h["year"],
            "month": h["month"],
            "day": h["day"],
            "hour": h["hour"],
            "ni": h.get("ni"),
            "nj": h.get("nj"),
            "total_bytes": h["total_bytes"],
        }
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


def _decode_record_row(
    path, n, edition, msg, s, rx, synthesize_spectral,
    predefined_bitmaps=None,
):
    """One record unit → one RECORD_SCHEMA row dict, or None when the
    ``match=`` regex rejects it header-side — the shared per-unit body
    of the fail-fast and quarantine scan modes (every reject in here
    is a ValueError, which ``on_error='quarantine'`` converts to an
    error row instead of failing the whole scan)."""
    import pandas as pd

    from ..grid.grib1 import decode_grib1
    from ..grid.grib2 import _decode_field, spectral_synthesis

    # Predicate pushdown to the codec boundary: the regex
    # runs over the header-derived inventory line, so a
    # non-matching record costs a header parse — its value
    # bits are never unpacked (wgrib2 -match semantics).
    # Records are FIELDS: a multi-field message's fields
    # number, match and decode independently.
    if rx is not None and not rx.search(
        inventory_line(edition, msg, s)
    ):
        return None
    grid_template = stat_process = interval_end = None
    product_template = None
    fc_hours = None
    level2_type = level2 = None
    time_ranges = None
    ens_member = ens_size = derived_fc = None
    cluster_id = cluster_tot = cluster_sz = None
    prob_type = prob_lo = prob_hi = pctl = None
    sat_bands = sat_series = sat_numbers = None
    sat_instruments = sat_waves = None
    rdr_sites = rdr_site_id = rdr_site_number = None
    rdr_lat = rdr_lon = rdr_elev = rdr_mode = None
    chem_constituent = aero_type = aero_size_interval = None
    aero_size1 = aero_size2 = None
    aero_wl_interval = aero_wl1 = aero_wl2 = None
    model_version = None
    cell_lats = cell_lons = None
    if edition == 1:
        rec = decode_grib1(msg, predefined_bitmaps=predefined_bitmaps)
        if (
            rec.spectral_truncation is not None
            and synthesize_spectral is None
        ):
            # Same boundary as the GRIB2 branch: spectral
            # records have no gridpoint cells to land —
            # inventory lists them, match= can skip them,
            # synthesis (grib2.spectral_synthesis) is the
            # explicit decode route.
            raise ValueError(
                f"record {n}: spectral field (T"
                f"{rec.spectral_truncation}) cannot land as "
                "gridpoints — synthesize explicitly via "
                "synthesize_spectral=(nj, ni) / "
                "grib2.spectral_synthesis, or exclude it "
                "with match="
            )
        level_type, level = rec.level_type, rec.level
        # Layer level types split octets 11-12 as (top,
        # bottom); the bottom lands in the unified level2
        # column with level2_type = the SAME table-3 code
        # (edition 1 describes a layer with one type), so
        # "is a layer" is level2 IS NOT NULL across editions.
        if rec.level2 is not None:
            level2_type, level2 = rec.level_type, rec.level2
        parameter = rec.parameter
        category = number = None
        # PDS octets 18-21 normalized by the codec onto the
        # SAME cross-edition surface GRIB2 uses: lead hours,
        # statistical process in 4.10 numbering (TRI 3
        # average → 0, TRI 4 accumulation → 1) and the
        # interval end — so "accumulated precip since f006"
        # filters identically on mixed-edition archives.
        fc_hours = rec.forecast_hours
        stat_process = rec.statistical_process
        if rec.interval_end is not None:
            ey, em, ed, eh, emi = rec.interval_end
            interval_end = pd.Timestamp(
                year=ey, month=em, day=ed, hour=eh, minute=emi
            )
        if rec.row_ni is not None:
            # Edition-1 REDUCED Gaussian rows: same landing
            # contract as GRIB2's reduced template 3.40 —
            # quadrature latitudes per parallel in exact
            # microdegrees AND per-cell coordinates (rows
            # are ragged — no common ni/dlon; ``ni`` stays
            # NULL, values stay flat in storage order).
            lat0 = dlat = dlon = None
            lats_udeg = [
                int(round(float(v) * 1e6))
                for v in rec.latitudes_deg
            ]
            lon0 = rec.lon_first_mdeg
            cell_lats = rec.cell_lats_deg.tolist()
            cell_lons = rec.cell_lons_deg.tolist()
        elif rec.gaussian_n is not None:
            # Edition-1 Gaussian grid: same landing contract
            # as GRIB2 template 3.40 — no affine latitude
            # axis (NULL, never a fabricated dlat), exact
            # quadrature latitudes in microdegrees.
            lat0 = dlat = None
            lats_udeg = [
                int(round(float(v) * 1e6))
                for v in rec.latitudes_deg
            ]
            lon0, dlon = rec.lon_first_mdeg, rec.dlon_mdeg
        elif rec.rotated_pole is not None:
            # Edition-1 rotated lat/lon (type 10): same
            # landing contract as GRIB2 template 3.1 — the
            # affine fields are ROTATED coordinates (NULL,
            # never read as geography); true per-cell
            # coordinates ride the cell arrays.
            lat0 = lon0 = dlat = dlon = None
            lats_udeg = None
            cell_lats = rec.cell_lats_deg.reshape(-1).tolist()
            cell_lons = rec.cell_lons_deg.reshape(-1).tolist()
        else:
            lat0, lon0 = rec.lat_first_mdeg, rec.lon_first_mdeg
            dlat, dlon = rec.dlat_mdeg, rec.dlon_mdeg
            lats_udeg = None
    else:
        rec = _loud(_decode_field)(s)
        if (
            rec.spectral_truncation is not None
            and synthesize_spectral is None
        ):
            # Spherical-harmonic records have NO gridpoint
            # cells — landing them on RECORD_SCHEMA would
            # fabricate a zero-increment georef.  The
            # inventory path LISTS them (ni/nj NULL) and a
            # ``match=`` regex can skip them header-side;
            # decoding is the explicit codec route:
            # decode_grib2(...).spectral_coeffs →
            # grib2.spectral_synthesis onto a Gaussian grid.
            raise ValueError(
                f"record {n}: spectral field (T"
                f"{rec.spectral_truncation}) cannot land as "
                "gridpoints — synthesize explicitly via "
                "synthesize_spectral=(nj, ni) / "
                "grib2.spectral_synthesis, or exclude it "
                "with match="
            )
        grid_template = rec.grid_template
        # which 4.x template produced the record — NULL
        # on edition 1 (GRIB1 has no PDT numbering);
        # makes 4.7 error fields distinguishable from
        # the layout-identical 4.0 analysis
        product_template = rec.product_template
        # GRIB2 parameters are (category, number) pairs with
        # their own numbering — folding them into GRIB1's
        # parameter column would collide (c0,n11 vs GRIB1
        # TMP=11). Keep the raw pair in their own columns and
        # leave ``parameter`` NULL; consumers key jointly on
        # (edition, parameter, category, number).
        parameter = None
        category, number = rec.category, rec.number
        # Template 4.0 first fixed surface → the unified
        # level columns; coded-missing surfaces stay NULL
        # (a level filter must fail VISIBLY, not match 0).
        level_type = rec.level_type
        level = _apply_surface_scale(rec.level_value, rec.level_scale)
        # Second fixed surface (octets 29-34): the layer
        # bottom — NULL (coded missing) on point levels, so
        # a 0-10 cm soil LAYER can't masquerade as a point
        # measurement at its top surface.
        level2_type = rec.level2_type
        level2 = _apply_surface_scale(
            rec.level2_value, rec.level2_scale
        )
        # Template 4.8 statistical processing: NULL on 4.0
        # (instantaneous), so accumulation-vs-instantaneous
        # is filterable on landed archives.
        stat_process = rec.statistical_process
        # Templates 4.1/4.11: ensemble membership columns,
        # NULL on deterministic products — control-vs-
        # perturbed is filterable on landed archives.
        ens_member = rec.ensemble_member
        ens_size = rec.ensemble_size
        # Templates 4.2/4.12 (derived-ensemble products:
        # mean / spread) and 4.5/4.9 (probability
        # forecasts): the derived-forecast code, the
        # probability type and its decoded threshold
        # limits land beside the ensemble columns — NULL
        # everywhere else, so member-vs-mean-vs-P(>thr) is
        # a plain column filter on landed archives.
        # Forecast lead (octets 18-22, whole 4.0 family)
        # in whole hours.
        fc_hours = rec.forecast_hours
        derived_fc = rec.derived_forecast
        # Templates 4.3/4.4 (cluster-derived
        # forecasts): which cluster, how many
        # clusters, how many members in this one —
        # NULL on every other product, so
        # per-cluster selection is a column filter.
        cluster_id = rec.cluster_identifier
        cluster_tot = rec.cluster_total
        cluster_sz = rec.cluster_size
        prob_type = rec.probability_type
        prob_lo = rec.prob_lower_limit
        prob_hi = rec.prob_upper_limit
        # Templates 4.6/4.10: the percentile (0-100)
        # this field represents.
        pctl = rec.percentile_value
        # Templates 4.31/4.32 (satellite products): the
        # contributing-band count plus per-band instrument
        # types and central wave numbers (m^-1) — NULL on
        # every non-satellite product, so "only band-13
        # imagery" is a plain column filter on landed
        # archives.  The level columns stay NULL here (a
        # satellite view has no fixed surface), and
        # forecast_hours is NULL on the observational 4.31.
        sat_bands = rec.satellite_bands
        if rec.satellite_series is not None:
            sat_series = list(rec.satellite_series)
        if rec.satellite_numbers is not None:
            sat_numbers = list(rec.satellite_numbers)
        if rec.satellite_instruments is not None:
            sat_instruments = list(rec.satellite_instruments)
        if rec.central_wavenumbers is not None:
            sat_waves = [
                None if w is None else float(w)
                for w in rec.central_wavenumbers
            ]
        # Template 4.20 (radar): site-based metadata — NULL
        # on every non-radar product, so "only site KTLX" /
        # "only clear-air mode" are plain column filters on
        # landed archives.  Level columns and forecast_hours
        # stay NULL (an observation with no fixed surface).
        rdr_sites = rec.radar_sites
        rdr_site_id = rec.radar_site_id
        rdr_site_number = rec.radar_site_number
        rdr_lat = rec.radar_site_lat
        rdr_lon = rec.radar_site_lon
        rdr_elev = rec.radar_elevation_m
        rdr_mode = rec.radar_operating_mode
        # Templates 4.40-4.43 / 4.44-4.48 (chemistry / aerosol — the
        # CAMS product families): the code-table-4.230 constituent or
        # code-table-4.233 aerosol type plus the decoded size /
        # wavelength intervals — NULL on every other product, so
        # "only NO2" / "only PM2.5-range aerosol" are plain column
        # filters on landed archives.
        chem_constituent = rec.constituent_type
        aero_type = rec.aerosol_type
        aero_size_interval = rec.aerosol_size_interval
        aero_size1 = rec.aerosol_first_size_m
        aero_size2 = rec.aerosol_second_size_m
        aero_wl_interval = rec.aerosol_wavelength_interval
        aero_wl1 = rec.aerosol_first_wavelength_m
        aero_wl2 = rec.aerosol_second_wavelength_m
        # Templates 4.60/4.61 (ensemble reforecast): the model-version
        # date — what separates the runs of different model versions a
        # decades-deep reforecast archive interleaves.
        if rec.model_version is not None:
            vy, vmo, vd, vh, vmi = rec.model_version
            model_version = pd.Timestamp(
                year=vy, month=vmo, day=vd, hour=vh, minute=vmi
            )
        # 4.8-family: how many time-range specifications
        # the statistical section nests — count > 1 marks
        # a compound statistic ("average of daily maxima")
        # whose INNER processes are not surfaced.
        time_ranges = rec.time_range_count
        if rec.interval_end is not None:
            ey, em, ed, eh, emi = rec.interval_end
            interval_end = pd.Timestamp(
                year=ey, month=em, day=ed, hour=eh, minute=emi
            )
        if rec.grid_template in (1, 2, 3, 10, 20, 30):
            # Projected grids (Mercator / polar stereo /
            # Lambert) have no affine lat/lon axes, and a
            # ROTATED and/or STRETCHED lat/lon grid's
            # (3.1/3.2/3.3) affine axes are coordinates in
            # the ROTATED/STRETCHED system — reading
            # either as geography would be silent
            # corruption, so the mdeg georef stays NULL
            # (visible, never fabricated) and the
            # georeference is the per-cell coordinate
            # arrays in STORAGE order, recovered through the
            # codec's vectorized inverse projection /
            # unrotation.
            lat0 = lon0 = dlat = dlon = None
            lats_udeg = None
            cell_lats = rec.cell_lats_deg.reshape(-1).tolist()
            cell_lons = rec.cell_lons_deg.reshape(-1).tolist()
        elif rec.row_ni is not None:
            # Reduced Gaussian rows: quadrature latitudes per
            # parallel in exact microdegrees AND per-cell
            # coordinates (rows are ragged — there is no
            # common Ni/dlon; ``ni`` stays NULL).
            lat0 = dlat = dlon = None
            lats_udeg = [
                int(round(float(v) * 1e6))
                for v in rec.latitudes_deg
            ]
            lon0 = _udeg_to_mdeg(rec.lon_first_udeg)
            cell_lats = rec.cell_lats_deg.tolist()
            cell_lons = rec.cell_lons_deg.tolist()
        elif rec.gaussian_n is not None:
            # Gaussian rows have no affine latitude axis:
            # the mdeg georef stays NULL (visible, never a
            # fabricated dlat) and the exact quadrature
            # latitudes ride along in microdegrees.
            lat0 = dlat = None
            lats_udeg = [
                int(round(float(v) * 1e6))
                for v in rec.latitudes_deg
            ]
            lon0 = _udeg_to_mdeg(rec.lon_first_udeg)
            dlon = _udeg_to_mdeg(rec.dlon_udeg)
        else:
            lats_udeg = None
            lat0, lon0 = _udeg_to_mdeg(
                rec.lat_first_udeg
            ), _udeg_to_mdeg(rec.lon_first_udeg)
            dlat, dlon = _udeg_to_mdeg(
                rec.dlat_udeg
            ), _udeg_to_mdeg(rec.dlon_udeg)
    values_arr = rec.values
    ni_out, nj_out = rec.ni, rec.nj
    if rec.spectral_truncation is not None:
        # EXPLICIT synthesis at the scan edge (opt-in): the
        # spectrum lands as the global Gaussian raster the
        # caller asked for — quadrature latitudes in exact
        # microdegrees like a native Gaussian record, lon
        # axis from 0°E with the affine step, and
        # grid_template 50 marking the raster as
        # SYNTHESIZED so consumers can tell it from a
        # producer-gridded field.  Product metadata (level,
        # lead, statistics) rides unchanged.
        nj_s, ni_s = synthesize_spectral
        if 360_000 % ni_s:
            raise ValueError(
                f"synthesis ni={ni_s} must divide the "
                "360000-mdeg circle for an exact grid step"
            )
        values_arr, s_lats = _loud(spectral_synthesis)(
            rec.spectral_coeffs,
            rec.spectral_truncation,
            nj_s,
            ni_s,
        )
        ni_out, nj_out = ni_s, nj_s
        grid_template = 50
        lat0 = dlat = None
        lats_udeg = [
            int(round(float(v) * 1e6)) for v in s_lats
        ]
        lon0, dlon = 0, 360_000 // ni_s
        cell_lats = cell_lons = None
    return (
        {
            "path": path,
            "record_number": n,
            "edition": edition,
            "grid_template": grid_template,
            "product_template": product_template,
            "parameter": parameter,
            "category": category,
            "number": number,
            "level_type": level_type,
            "level": level,
            "level2_type": level2_type,
            "level2": level2,
            "year": rec.reftime[0],
            "month": rec.reftime[1],
            "day": rec.reftime[2],
            "hour": rec.reftime[3],
            "forecast_hours": fc_hours,
            "statistical_process": stat_process,
            "interval_end": interval_end,
            "time_range_count": time_ranges,
            "ensemble_member": ens_member,
            "ensemble_size": ens_size,
            "derived_forecast": derived_fc,
            "cluster_identifier": cluster_id,
            "cluster_total": cluster_tot,
            "cluster_size": cluster_sz,
            "probability_type": prob_type,
            "prob_lower_limit": prob_lo,
            "prob_upper_limit": prob_hi,
            "percentile_value": pctl,
            "satellite_bands": sat_bands,
            "satellite_series": sat_series,
            "satellite_numbers": sat_numbers,
            "satellite_instruments": sat_instruments,
            "central_wavenumbers": sat_waves,
            "radar_sites": rdr_sites,
            "radar_site_id": rdr_site_id,
            "radar_site_number": rdr_site_number,
            "radar_site_lat": rdr_lat,
            "radar_site_lon": rdr_lon,
            "radar_elevation_m": rdr_elev,
            "radar_operating_mode": rdr_mode,
            "constituent_type": chem_constituent,
            "aerosol_type": aero_type,
            "aerosol_size_interval": aero_size_interval,
            "aerosol_first_size_m": aero_size1,
            "aerosol_second_size_m": aero_size2,
            "aerosol_wavelength_interval": aero_wl_interval,
            "aerosol_first_wavelength_m": aero_wl1,
            "aerosol_second_wavelength_m": aero_wl2,
            "model_version": model_version,
            "ni": ni_out,
            "nj": nj_out,
            "lat_first_mdeg": lat0,
            "lon_first_mdeg": lon0,
            "dlat_mdeg": dlat,
            "dlon_mdeg": dlon,
            "latitudes_udeg": lats_udeg,
            "cell_lats_deg": cell_lats,
            "cell_lons_deg": cell_lons,
            "values": values_arr.reshape(-1).tolist(),
        "error": None,
        }
    )


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
    files = spark.read.format("binaryFile").load(path).select("path", "content")
    return files.mapInPandas(
        partial(
            _decode_batches,
            match=match,
            synthesize_spectral=synthesize_spectral,
            on_error=on_error,
            predefined_bitmaps=predefined_bitmaps,
        ),
        schema=RECORD_SCHEMA,
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
    files = reader.load(path).select("path", "content")
    return files.mapInPandas(
        partial(
            _decode_batches,
            match=match,
            synthesize_spectral=synthesize_spectral,
            on_error=on_error,
            predefined_bitmaps=predefined_bitmaps,
        ),
        schema=RECORD_SCHEMA,
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
