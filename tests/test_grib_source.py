"""File-based GRIB1 source (sources/grib_source.py): binaryFile scan →
decode → cells, batch ≡ streaming over the same landing directory, and
exactly-once file tracking under the streaming checkpoint."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from monitoring_data_ingestion_spark.grid.grib1 import encode_grib1_message
from monitoring_data_ingestion_spark.sources.grib_source import (
    grib1_cells,
    grib1_records,
    grib1_records_stream,
)


def _write_landing(path: str, n_months: int = 3) -> None:
    os.makedirs(path, exist_ok=True)
    i = np.arange(5)[None, :]
    j = np.arange(4)[:, None]
    for m in range(n_months):
        v = 100 + 2 * ((m * 17 + i * 3 + j * 5) % 50)
        bitmap = ((i + j) % 5 != 0) | np.zeros_like(v, bool) if m == 1 else None
        msg = encode_grib1_message(
            v.astype(np.float64),
            parameter=11,
            reftime=(2020, m + 1, 1, 0, 0),
            reference_value=100.0,
            binary_scale=1,
            nbits=8,
            bitmap=bitmap,
        )
        with open(os.path.join(path, f"m{m + 1:02d}.grib"), "wb") as f:
            f.write(msg)


def _expected_cells(m: int) -> dict[tuple[int, int], float | None]:
    out = {}
    for j in range(4):
        for i in range(5):
            lat, lon = 90_000 - j * 1000, i * 1000
            if m == 1 and (i + j) % 5 == 0:
                out[(lat, lon)] = None
            else:
                out[(lat, lon)] = float(100 + 2 * ((m * 17 + i * 3 + j * 5) % 50))
    return out


def test_batch_scan_decodes_all_files(spark, tmp_path):
    landing = str(tmp_path / "landing")
    _write_landing(landing)
    recs = grib1_records(spark, landing)
    rows = recs.orderBy("month").collect()
    assert [r["month"] for r in rows] == [1, 2, 3]
    assert all(r["ni"] == 5 and r["nj"] == 4 and r["parameter"] == 11 for r in rows)
    cells = grib1_cells(recs).collect()
    assert len(cells) == 3 * 20
    for m in range(3):
        got = {
            (r["lat_mdeg"], r["lon_mdeg"]): r["value"]
            for r in cells
            if r["month"] == m + 1
        }
        assert got == _expected_cells(m), m


def _drain_to_parquet(spark, landing: str, out: str, ckpt: str) -> None:
    """AvailableNow drain to a RECOVERABLE sink (parquet) — the memory
    sink cannot resume a checkpoint, and checkpoint resumption is the
    exactly-once property under test."""
    q = (
        grib1_records_stream(spark, landing, max_files_per_trigger=1)
        .drop("values")  # parquet row cap irrelevance: metadata suffices
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_streaming_scan_equals_batch(spark, tmp_path):
    """The same landing drained through readStream(binaryFile) +
    AvailableNow must produce exactly the batch result, and a restart
    over the same checkpoint must reprocess nothing — the reference's
    incremental one-file-per-run pull as a file stream."""
    landing = str(tmp_path / "landing")
    _write_landing(landing)
    stream = grib1_records_stream(spark, landing, max_files_per_trigger=1)
    assert stream.isStreaming
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _drain_to_parquet(spark, landing, out, ckpt)
    streamed = spark.read.parquet(out)
    batch = grib1_records(spark, landing)
    cols = ["month", "parameter", "ni", "nj", "lat_first_mdeg"]
    assert sorted(map(tuple, streamed.select(*cols).collect())) == sorted(
        map(tuple, batch.select(*cols).collect())
    )
    # Value parity through the full explode (streaming side re-decodes:
    # the memory-less sink dropped the array, so explode the stream
    # again in batch over the same files — value totals must agree).
    sv = grib1_cells(batch).groupBy().agg(
        F.sum("value").alias("s"), F.count("value").alias("n")
    ).first()
    assert sv["n"] == 3 * 20 - 4  # month 2's bitmap masks (i+j)%5==0 cells
    # Restart over the same checkpoint: no files reprocessed (exactly once).
    _drain_to_parquet(spark, landing, out, ckpt)
    assert spark.read.parquet(out).count() == streamed.count()


def test_late_file_is_picked_up_incrementally(spark, tmp_path):
    """A file landing after the first drain becomes the next batch —
    month 4 only, never a re-read of months 1-3."""
    landing = str(tmp_path / "landing")
    _write_landing(landing)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _drain_to_parquet(spark, landing, out, ckpt)
    assert spark.read.parquet(out).count() == 3
    _write_landing(landing, n_months=4)  # months 1-3 rewritten + month 4 new
    _drain_to_parquet(spark, landing, out, ckpt)
    after = spark.read.parquet(out)
    assert after.count() == 4
    assert sorted(r["month"] for r in after.collect()) == [1, 2, 3, 4]


def test_mixed_edition_landing_decodes_both(spark, tmp_path):
    """Real archives mix GRIB editions across products — the landing
    scan must dispatch per message on the indicator's edition octet.
    One file holds a GRIB1 and a GRIB2 record back to back."""
    from monitoring_data_ingestion_spark.grid.grib2 import encode_grib2_message
    from monitoring_data_ingestion_spark.sources.grib_source import iter_grib_messages

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    v1 = np.arange(12, dtype=np.float64).reshape(3, 4)
    m1 = encode_grib1_message(v1, parameter=11, reference_value=0.0, nbits=8)
    v2 = 10.0 + np.arange(12, dtype=np.float64).reshape(3, 4)
    m2 = encode_grib2_message(v2, category=3, number=7, reference_value=0.0, nbits=8)
    with open(os.path.join(landing, "mixed.grib"), "wb") as f:
        f.write(m1 + m2)
    assert [e for e, _ in iter_grib_messages(m1 + m2)] == [1, 2]
    rows = grib1_records(spark, landing).orderBy("record_number").collect()
    assert [r["edition"] for r in rows] == [1, 2]
    # Edition-specific identity stays in its own columns — GRIB2's
    # (category, number) pairs are NOT folded into GRIB1's parameter
    # space (c0,n11 would collide with GRIB1 TMP=11); consumers key
    # jointly on (edition, parameter, category, number).
    assert rows[0]["parameter"] == 11
    assert rows[0]["category"] is None and rows[0]["number"] is None
    assert rows[1]["parameter"] is None
    assert (rows[1]["category"], rows[1]["number"]) == (3, 7)
    assert rows[0]["values"][:3] == [0.0, 1.0, 2.0]
    assert rows[1]["values"][:3] == [10.0, 11.0, 12.0]
    # Both georeference identically after the unit fold (µdeg → mdeg).
    assert rows[0]["lat_first_mdeg"] == rows[1]["lat_first_mdeg"] == 90_000
    cells = grib1_cells(grib1_records(spark, landing))
    assert cells.count() == 24


def test_one_framing_scanner_for_both_editions():
    """The landing scan and both codecs' scanners frame messages through
    one loop; the per-edition scanners still stop at the other edition."""
    from monitoring_data_ingestion_spark.grid import grib1, grib2
    from monitoring_data_ingestion_spark.sources import grib_source

    assert grib_source.iter_grib_messages is grib1.iter_grib_messages
    v = np.arange(12, dtype=np.float64).reshape(3, 4)
    m1 = encode_grib1_message(v, reference_value=0.0, nbits=8)
    m2 = grib2.encode_grib2_message(v, reference_value=0.0, nbits=8)
    assert list(grib1.iter_grib_messages(m2 + m1 + m2)) == [(2, m2), (1, m1), (2, m2)]
    assert list(grib1.iter_messages(m1 + m1)) == [m1, m1]
    assert list(grib2.iter_messages2(m2 + m2)) == [m2, m2]
    with pytest.raises(ValueError, match="unsupported GRIB edition 2"):
        list(grib1.iter_messages(m1 + m2))
    with pytest.raises(ValueError, match="unsupported GRIB edition 1"):
        list(grib2.iter_messages2(m2 + m1))
    with pytest.raises(ValueError, match="truncated GRIB indicator section"):
        list(grib1.iter_grib_messages(m1 + m2[:12]))


def test_mixed_edition_levels_filterable_across_editions(spark, tmp_path):
    """r8: edition-2 records must surface their REAL template-4.0 fixed
    surface in the unified level columns (not a silent 0) so a level
    filter works across a mixed archive — and a missing surface is NULL,
    which a level filter visibly excludes."""
    from monitoring_data_ingestion_spark.grid.grib2 import encode_grib2_message

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    v = np.arange(12, dtype=np.float64).reshape(3, 4)
    msgs = [
        encode_grib1_message(v, parameter=11, level_type=100, level=850,
                             reference_value=0.0, nbits=8),
        encode_grib2_message(v, category=0, number=0, level_type=100,
                             level_scale=0, level_value=850,
                             reference_value=0.0, nbits=8),
        # scale factor 1: stored 8500 · 10^-1 = 850
        encode_grib2_message(v, category=0, number=0, level_type=100,
                             level_scale=1, level_value=8500,
                             reference_value=0.0, nbits=8),
        encode_grib2_message(v, category=0, number=0, level_type=0xFF,
                             reference_value=0.0, nbits=8),
    ]
    with open(os.path.join(landing, "mixed.grib"), "wb") as f:
        f.write(b"".join(msgs))
    recs = grib1_records(spark, landing)
    at850 = recs.filter((F.col("level_type") == 100) & (F.col("level") == 850))
    assert sorted(r["edition"] for r in at850.collect()) == [1, 2, 2]
    # The coded-missing surface is NULL — excluded by ANY level filter.
    nulls = recs.filter(F.col("level_type").isNull()).collect()
    assert len(nulls) == 1 and nulls[0]["edition"] == 2 and nulls[0]["level"] is None


def test_sub_millidegree_grib2_grid_raises_loudly(spark, tmp_path):
    """r8 advice: flooring µdeg→mdeg silently corrupts sub-millidegree
    geography; the fold must raise instead."""
    import pytest

    from monitoring_data_ingestion_spark.grid.grib2 import encode_grib2_message

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    msg = encode_grib2_message(
        np.ones((2, 2)), dlat_udeg=250_500, dlon_udeg=1_000_000,
        reference_value=0.0, nbits=8,
    )
    with open(os.path.join(landing, "fine.grib"), "wb") as f:
        f.write(msg)
    with pytest.raises(Exception, match="whole millidegree"):
        grib1_records(spark, landing).collect()


def test_south_first_record_normalizes_in_landing_scan(spark, tmp_path):
    """A scanning-mode 0x40 (+j) record in a mixed archive produces the
    SAME cells as its north-first twin — the scanner normalizes rows, so
    georeferencing agrees across scan orders."""
    landing_n = str(tmp_path / "north")
    landing_s = str(tmp_path / "south")
    os.makedirs(landing_n)
    os.makedirs(landing_s)
    v = (100 + np.arange(20, dtype=np.float64)).reshape(4, 5)
    for path, mode in ((landing_n, 0x00), (landing_s, 0x40)):
        with open(os.path.join(path, "a.grib"), "wb") as f:
            f.write(
                encode_grib1_message(
                    v, parameter=11, reference_value=100.0, nbits=8,
                    scanning_mode=mode,
                )
            )
    key = ["lat_mdeg", "lon_mdeg"]
    cn = {(r["lat_mdeg"], r["lon_mdeg"]): r["value"]
          for r in grib1_cells(grib1_records(spark, landing_n)).collect()}
    cs = {(r["lat_mdeg"], r["lon_mdeg"]): r["value"]
          for r in grib1_cells(grib1_records(spark, landing_s)).collect()}
    assert cn == cs and len(cn) == 20


def test_header_only_inventory_scan(spark, tmp_path):
    """grib_inventory lists every record's metadata across a mixed
    archive WITHOUT a values column — the 100 TB metadata pass."""
    from monitoring_data_ingestion_spark.grid.grib2 import encode_grib2_message
    from monitoring_data_ingestion_spark.sources.grib_source import grib_inventory

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    v = np.arange(12, dtype=np.float64).reshape(3, 4)
    msgs = [
        encode_grib1_message(v, parameter=11, level_type=100, level=850,
                             reference_value=0.0, nbits=8),
        encode_grib2_message(v, category=3, number=7, level_type=100,
                             level_scale=0, level_value=500,
                             reference_value=0.0, nbits=8),
    ]
    with open(os.path.join(landing, "a.grib"), "wb") as f:
        f.write(b"".join(msgs))
    inv = grib_inventory(spark, landing)
    assert "values" not in inv.columns
    rows = inv.orderBy("record_number").collect()
    assert [(r["edition"], r["parameter"], r["category"], r["number"],
             r["level_type"], r["level"], r["ni"], r["nj"])
            for r in rows] == [(1, 11, None, None, 100, 850, 4, 3),
                               (2, None, 3, 7, 100, 500, 4, 3)]
    assert rows[0]["total_bytes"] == len(msgs[0])
    assert rows[1]["total_bytes"] == len(msgs[1])


def test_inventory_lenient_on_non_hour_leads(spark, tmp_path):
    """A mixed archive may hold records with calendar-unit leads
    (monthly means, GRIB2 code-table-4.4 unit 3) or reinterpreting
    GRIB1 time range indicators (TRI 2 valid-between, climatology
    codes).  wgrib/wgrib2 list every record of such an archive, so the
    header-only INVENTORY path surfaces those leads as NULL
    forecast_hours (inventory line ``:f-``, unselectable by a
    ``:f6$``-style match) instead of aborting the whole file's scan —
    while the FULL decode path keeps the loud stop, because there a
    mis-stamped valid time corrupts data downstream."""
    import pytest

    from monitoring_data_ingestion_spark.grid.grib1 import (
        decode_grib1,
        inspect_grib1,
    )
    from monitoring_data_ingestion_spark.grid.grib2 import (
        decode_grib2,
        encode_grib2_message,
    )
    from monitoring_data_ingestion_spark.sources.grib_source import (
        grib_inventory,
        inventory_line,
    )

    v = np.arange(12, dtype=np.float64).reshape(3, 4)
    enc = dict(reference_value=0.0, nbits=8)
    # GRIB1: TRI 2 (valid-between) reinterprets P1/P2
    m1 = bytearray(encode_grib1_message(v, forecast=dict(unit=1, value=6), **enc))
    m1[8 + 20] = 2  # PDS octet 21 (TRI) — PDS starts at byte 8
    m1 = bytes(m1)
    h = inspect_grib1(m1)
    assert h["forecast_hours"] is None and h["statistical_process"] is None
    assert inventory_line(1, m1).endswith(":f-")
    with pytest.raises(ValueError, match="time range indicator 2"):
        decode_grib1(m1)
    # GRIB2: calendar unit 3 (month) can't fill the integer hours column
    m2 = bytearray(encode_grib2_message(v, forecast=dict(unit=1, value=2), **enc))
    pos = 16
    while m2[pos + 4] != 4:
        pos += int.from_bytes(m2[pos : pos + 4], "big")
    m2[pos + 17] = 3  # section-4 octet 18: time unit → month
    m2 = bytes(m2)
    assert inventory_line(2, m2).endswith(":f-")
    with pytest.raises(ValueError, match="unsupported forecast time unit"):
        decode_grib2(m2)
    # Both land in the Spark inventory scan beside an hour-unit record,
    # NULL in the int column — the file-level scan never aborts.
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    m0 = encode_grib1_message(v, forecast=dict(unit=1, value=6), **enc)
    with open(os.path.join(landing, "mixed.grib"), "wb") as f:
        f.write(m0 + m1 + m2)
    rows = grib_inventory(spark, landing).orderBy("record_number").collect()
    assert [r["forecast_hours"] for r in rows] == [6, None, None]
    assert [r["edition"] for r in rows] == [1, 1, 2]


def test_inventory_lenient_on_fractional_levels(spark, tmp_path):
    """A FRACTIONAL fixed surface (sigma level 0.995 = 995·10⁻³,
    surface type 104) can't fill the integer ``level`` column, but
    wgrib2 still lists the record ("0.995 sigma level") — so every
    INVENTORY surface lists it: NULL in the int column (the
    non-hour-lead convention) and the EXACT decimal in the line
    (``l104/0.995``, regex-selectable), both in the landing scan's
    unified line and the codec-level one.  Only the landing DECODE
    keeps the loud stop — there a rounded level would mis-label every
    landed value."""
    import pytest

    from monitoring_data_ingestion_spark.grid import grib2 as g2
    from monitoring_data_ingestion_spark.sources.grib_source import (
        grib_inventory,
        inventory_line,
    )

    v = np.arange(12, dtype=np.float64).reshape(3, 4)
    enc = dict(reference_value=0.0, nbits=8)
    frac = g2.encode_grib2_message(
        v, level_type=104, level_scale=3, level_value=995, **enc
    )
    whole = g2.encode_grib2_message(
        v, level_type=100, level_scale=0, level_value=500, **enc
    )
    # unified (landing) line and codec line agree on the rendering
    assert ":l104/0.995:" in inventory_line(2, frac)
    assert ":l104/0.995:" in g2.inventory_line(frac)
    assert ":l100/500:" in inventory_line(2, whole)
    # codec-level match LISTS and can select the fractional record
    assert g2.match_records(frac + whole, r"l104/0\.995") == [frac]
    # landing inventory scan: listed, int column NULL, scan not aborted
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    with open(os.path.join(landing, "mixed.grib2"), "wb") as f:
        f.write(whole + frac)
    rows = (
        grib_inventory(spark, landing).orderBy("record_number").collect()
    )
    assert [(r["level_type"], r["level"]) for r in rows] == [
        (100, 500),
        (104, None),
    ]
    # the landing DECODE keeps the loud stop on the fractional record…
    with pytest.raises(Exception, match="not a whole level"):
        grib1_records(spark, landing).collect()
    # …and a header-side match that excludes it decodes the rest
    ok = grib1_records(spark, landing, match=r":l100/500:").collect()
    assert len(ok) == 1 and ok[0]["level"] == 500


def test_surface_level_text_renderings():
    """Exact-decimal inventory rendering of scaled fixed surfaces:
    whole levels render as the bare integer (byte-identical to the
    strict rendering), fractional ones as trimmed exact decimals,
    coded-missing as ``-`` — never a float round-trip."""
    from monitoring_data_ingestion_spark.grid.grib2 import (
        surface_level_lenient,
        surface_level_text,
    )

    assert surface_level_text(None, None) == "-"
    assert surface_level_text(500, 0) == "500"
    assert surface_level_text(500, None) == "500"
    assert surface_level_text(995, 3) == "0.995"
    assert surface_level_text(1050, 2) == "10.5"
    assert surface_level_text(1000, 3) == "1"
    assert surface_level_text(10, 1) == "1"
    assert surface_level_text(5, -2) == "500"
    assert surface_level_text(1, 6) == "0.000001"
    # scaled surface values are SIGNED (octet 11 sign bit): the sign
    # rides outside the zero-padding, never inside it
    assert surface_level_text(-5, 1) == "-0.5"
    assert surface_level_text(-5, 2) == "-0.05"
    assert surface_level_text(-50, 1) == "-5"
    assert surface_level_text(-500, 0) == "-500"
    assert surface_level_text(-5, -2) == "-500"
    assert surface_level_text(-1995, 3) == "-1.995"
    assert surface_level_lenient(995, 3) is None
    assert surface_level_lenient(1000, 3) == 1
    assert surface_level_lenient(None, 3) is None


def test_quarantine_mode_lands_errors_and_continues(spark, tmp_path):
    """``on_error="quarantine"``: a torn or undecodable record becomes
    one row with the ``error`` column set and every other field NULL —
    never a silent skip — while good records, including those BEFORE
    the defect in the same file, land normally; a semantic reject lets
    the scan CONTINUE to the next record, a framing tear ends the file
    (record numbering after it is gone).  The default ``fail`` mode
    keeps the strict stop, and an unknown mode is rejected loudly."""
    import pytest

    from monitoring_data_ingestion_spark.grid import grib2 as g2
    from monitoring_data_ingestion_spark.sources.grib_source import (
        grib_inventory,
    )

    v = np.arange(12, dtype=np.float64).reshape(3, 4)
    g1 = encode_grib1_message(v, reference_value=0.0, nbits=8)
    enc = dict(reference_value=0.0, nbits=8)
    good = g2.encode_grib2_message(v, **enc)
    bad = bytearray(good)
    pos = 16
    while bad[pos + 4] != 4:
        pos += int.from_bytes(bad[pos : pos + 4], "big")
    bad[pos + 7] = 0xFF  # reserved PDT 4.65534: permanently
    bad[pos + 8] = 0xFE  # unassigned (4.30/4.40 both decode now)
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    with open(os.path.join(landing, "mixed.grib"), "wb") as f:
        f.write(g1 + bytes(bad) + good)
    with open(os.path.join(landing, "torn.grib"), "wb") as f:
        f.write(good + g1[:-9])
    # fail mode: strict stop (both surfaces; either corrupt file may
    # be scheduled first, so either defect is an acceptable stop)
    defect = "unsupported product definition|truncated GRIB message"
    with pytest.raises(Exception, match=defect):
        grib1_records(spark, landing).collect()
    with pytest.raises(Exception, match=defect):
        grib_inventory(spark, landing).collect()
    with pytest.raises(Exception, match="on_error"):
        grib1_records(spark, landing, on_error="skip").collect()
    # quarantine: 3 + 2 rows, error rows NULL everywhere else
    rows = (
        grib1_records(spark, landing, on_error="quarantine")
        .orderBy("path", "record_number")
        .collect()
    )
    by = [(r["path"].rsplit("/", 1)[-1], r["record_number"]) for r in rows]
    assert by == [
        ("mixed.grib", 1), ("mixed.grib", 2), ("mixed.grib", 3),
        ("torn.grib", 1), ("torn.grib", 2),
    ]
    errs = {(p, n): r["error"] for (p, n), r in zip(by, rows)}
    assert errs[("mixed.grib", 1)] is None
    assert "template 65534" in errs[("mixed.grib", 2)]
    assert errs[("mixed.grib", 3)] is None
    assert errs[("torn.grib", 1)] is None
    assert errs[("torn.grib", 2)].startswith("record framing")
    for r in rows:
        if r["error"] is None:
            assert r["values"] is not None and len(r["values"]) == 12
        else:
            assert r["values"] is None and r["edition"] is None
    # inventory surface mirrors the same manifest
    inv = (
        grib_inventory(spark, landing, on_error="quarantine")
        .orderBy("path", "record_number")
        .collect()
    )
    assert [(r["record_number"], r["error"] is not None) for r in inv] == [
        (1, False), (2, True), (3, False), (1, False), (2, True),
    ]


def test_streaming_quarantine_equals_batch(spark, tmp_path):
    """Quarantine mode under the MICRO-BATCH engine: a landing whose
    files carry a semantic-reject record and a framing tear drains
    through readStream + AvailableNow to exactly the batch quarantine
    manifest — per-record error rows land in the stream too, and a
    corrupt file cannot kill an incremental ingest job."""
    from monitoring_data_ingestion_spark.grid import grib2 as g2

    v = np.arange(12, dtype=np.float64).reshape(3, 4)
    enc = dict(reference_value=0.0, nbits=8)
    good = g2.encode_grib2_message(v, **enc)
    bad = bytearray(good)
    pos = 16
    while bad[pos + 4] != 4:
        pos += int.from_bytes(bad[pos : pos + 4], "big")
    bad[pos + 8] = 30
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    with open(os.path.join(landing, "a.grib"), "wb") as f:
        f.write(good + bytes(bad) + good)
    with open(os.path.join(landing, "b.grib"), "wb") as f:
        f.write(good + good[:-9])
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        grib1_records_stream(
            spark, landing, max_files_per_trigger=1, on_error="quarantine"
        )
        .drop("values")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    cols = ["path", "record_number", "error"]
    streamed = sorted(
        map(tuple, spark.read.parquet(out).select(*cols).collect())
    )
    batch = sorted(
        map(
            tuple,
            grib1_records(spark, landing, on_error="quarantine")
            .select(*cols)
            .collect(),
        )
    )
    assert streamed == batch
    assert [e is not None for _, _, e in streamed] == [
        False, True, False, False, True,
    ]


def test_quarantine_survives_internally_short_section(spark, tmp_path):
    """A WELL-FRAMED record whose interior section is short (envelope
    length and 7777 check out, but section 1 declares 13 of its 21
    octets) must quarantine like any other defect — the raw
    struct.error a template read raises deep in the section walk
    surfaces as ValueError at the record boundary
    (``_decode_record_row`` is @loud_truncation-guarded), never
    escaping to fail the whole scan task.  The inventory surface
    already quarantined this file; the scan surface must match."""
    import pytest

    from monitoring_data_ingestion_spark.grid import grib2 as g2
    from monitoring_data_ingestion_spark.sources.grib_source import (
        grib_inventory,
    )

    v = np.arange(12, dtype=np.float64).reshape(3, 4)
    good = g2.encode_grib2_message(v, reference_value=0.0, nbits=8)
    buf = bytearray(good)
    l1 = int.from_bytes(buf[16:20], "big")
    assert l1 == 21
    short = bytearray(buf[: 16 + 13])
    short[16:20] = (13).to_bytes(4, "big")
    bad = bytes(short) + bytes(buf[16 + l1 :])
    # keep the envelope honest: total length matches, 7777 intact
    bad = bad[:8] + len(bad).to_bytes(8, "big") + bad[16:]
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    with open(os.path.join(landing, "short_s1.grib"), "wb") as f:
        f.write(good + bad + good)
    # fail mode: a ValueError (the codec contract), NOT a raw
    # struct.error reading as an engine bug
    with pytest.raises(Exception, match="truncated or corrupt GRIB"):
        grib1_records(spark, landing).collect()
    rows = (
        grib1_records(spark, landing, on_error="quarantine")
        .orderBy("record_number")
        .collect()
    )
    assert [r["record_number"] for r in rows] == [1, 2, 3]
    assert rows[0]["error"] is None and rows[2]["error"] is None
    assert "truncated or corrupt GRIB" in rows[1]["error"]
    assert rows[1]["values"] is None and rows[1]["edition"] is None
    for r in (rows[0], rows[2]):
        assert len(r["values"]) == 12
    # inventory parity: same manifest shape for the same file
    inv = (
        grib_inventory(spark, landing, on_error="quarantine")
        .orderBy("record_number")
        .collect()
    )
    assert [(r["record_number"], r["error"] is not None) for r in inv] == [
        (1, False), (2, True), (3, False),
    ]


def test_satellite_records_land_with_band_columns(spark, tmp_path):
    """PDTs 4.31/4.32 through the LANDING scan (the codec round-trip is
    pinned in test_grib2): satellite_bands / satellite_series /
    satellite_numbers / satellite_instruments / central_wavenumbers
    land as columns (so a GOES-16-vs-GOES-18 or band-13 selection is a
    plain filter), level columns stay NULL, the lead is NULL on the
    observational 4.31 and real on 4.32, and non-satellite records
    carry NULL in every band column."""
    from monitoring_data_ingestion_spark.grid import grib2 as g2
    from monitoring_data_ingestion_spark.sources.grib_source import (
        grib_inventory,
    )

    v = np.arange(12, dtype=np.float64).reshape(3, 4)
    bands = [
        dict(series=333, number=17, instrument=616, scale=-3, value=717),
        dict(series=334, number=18, instrument=620, scale=1, value=985),
    ]
    obs = g2.encode_grib2_message(
        v, category=4, number=7, satellite=dict(bands=bands),
        reference_value=0.0, nbits=8,
    )
    sim = g2.encode_grib2_message(
        v, category=4, number=8,
        satellite=dict(simulated=True, bands=bands[:1]),
        forecast=dict(unit=1, value=6), reference_value=0.0, nbits=8,
    )
    plain = g2.encode_grib2_message(v, reference_value=0.0, nbits=8)
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    with open(os.path.join(landing, "sat.grib"), "wb") as f:
        f.write(obs + sim + plain)
    rows = (
        grib1_records(spark, landing).orderBy("record_number").collect()
    )
    r31, r32, r0 = rows
    assert r31["product_template"] == 31 and r31["satellite_bands"] == 2
    assert r31["satellite_series"] == [333, 334]
    assert r31["satellite_numbers"] == [17, 18]
    assert r31["satellite_instruments"] == [616, 620]
    assert r31["central_wavenumbers"] == [717000.0, 98.5]
    assert r31["forecast_hours"] is None
    assert r31["level_type"] is None and r31["level"] is None
    assert len(r31["values"]) == 12
    assert r32["product_template"] == 32 and r32["satellite_bands"] == 1
    assert r32["forecast_hours"] == 6
    assert r32["central_wavenumbers"] == [717000.0]
    for c in (
        "satellite_bands", "satellite_series", "satellite_numbers",
        "satellite_instruments", "central_wavenumbers",
    ):
        assert r0[c] is None
    # the header-only inventory lists all three (level/lead lenient)
    inv = grib_inventory(spark, landing).orderBy("record_number").collect()
    assert [(r["level_type"], r["forecast_hours"]) for r in inv] == [
        (None, None), (None, 6), (1, 0),
    ]


def test_zero_length_indicator_is_a_framing_error_not_a_hang(spark, tmp_path):
    """A corrupt indicator whose declared length is zero (or absurdly
    small) must surface as a FRAMING error: without the guard,
    ``end == idx`` re-finds the same magic forever and quarantine mode
    emits unbounded manifest rows (the corrupt-archive mode hanging on
    exactly the corruption it exists for).  Good records before the
    defect still land; the file's unit stream ends at the tear."""
    import pytest

    from monitoring_data_ingestion_spark.grid import grib2 as g2
    from monitoring_data_ingestion_spark.sources.grib_source import (
        grib1_cells,
        iter_grib_messages,
    )

    v = np.arange(12, dtype=np.float64).reshape(3, 4)
    good = g2.encode_grib2_message(v, reference_value=0.0, nbits=8)
    zeroed1 = b"GRIB" + b"\x00\x00\x00" + bytes([1]) + b"\x00" * 40
    content = good + zeroed1
    with pytest.raises(ValueError, match="impossible length"):
        list(iter_grib_messages(content))
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    with open(os.path.join(landing, "zero.grib"), "wb") as f:
        f.write(content)
    rows = (
        grib1_records(spark, landing, on_error="quarantine")
        .orderBy("record_number")
        .collect()
    )
    # exactly TWO rows: the good record and ONE framing manifest row
    assert len(rows) == 2
    assert rows[0]["error"] is None and len(rows[0]["values"]) == 12
    assert rows[1]["error"].startswith("record framing")
    # and the cells view drops the manifest row instead of fabricating
    # a phantom all-NULL cell
    cells = grib1_cells(
        grib1_records(spark, landing, on_error="quarantine")
    ).collect()
    assert len(cells) == 12
    assert all(c["value"] is not None for c in cells)


def test_quarantine_guard_is_codec_boundary_only(monkeypatch):
    """The truncation guard sits at the CODEC boundary (field decode,
    spectral synthesis), NOT around the whole record-row body: an
    engine bug in row assembly raising IndexError/KeyError must still
    fail the scan loudly — reclassifying it as ValueError would let
    quarantine mode land every good record as a 'corrupt input'
    manifest row, silently dropping a whole archive to re-ingest."""
    import pytest

    from monitoring_data_ingestion_spark.grid import grib2 as g2
    from monitoring_data_ingestion_spark.sources import grib_source as gs

    v = np.arange(12, dtype=np.float64).reshape(3, 4)
    msg = g2.encode_grib2_message(v, reference_value=0.0, nbits=8)
    units = list(gs._scan_units(msg, quarantine=True))
    assert len(units) == 1 and units[0][0] == "unit"
    _, n, (edition, m, s) = units[0]

    def boom(udeg):
        raise KeyError("engine bug in row assembly")

    monkeypatch.setattr(gs, "_udeg_to_mdeg", boom)
    # NOT ValueError: the quarantine handler must not catch this
    with pytest.raises(KeyError, match="engine bug"):
        gs._decode_record_row("p", n, edition, m, s, None, None)
    # while a codec-interior defect (short section 1) still surfaces
    # as the ValueError quarantine understands
    monkeypatch.undo()
    buf = bytearray(msg)
    l1 = int.from_bytes(buf[16:20], "big")
    short = bytearray(buf[: 16 + 13])
    short[16:20] = (13).to_bytes(4, "big")
    bad = bytes(short) + bytes(buf[16 + l1 :])
    bad = bad[:8] + len(bad).to_bytes(8, "big") + bad[16:]
    bunits = list(gs._scan_units(bad, quarantine=True))
    _, bn, (bed, bm, bs) = bunits[0]
    with pytest.raises(ValueError, match="truncated or corrupt GRIB"):
        gs._decode_record_row("p", bn, bed, bm, bs, None, None)


def test_surface_level_renderings_consistency_property():
    """PROPERTY: the three fixed-surface renderings can never disagree —
    ``surface_level`` (strict, decode path) raises exactly when
    ``surface_level_lenient`` is NULL exactly when the exact-decimal
    ``surface_level_text`` carries a fractional part; when whole, all
    three render the same integer; and the text is ALWAYS the exact
    rational value/10^scale (checked with Fraction, no float round
    trip)."""
    from fractions import Fraction

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from monitoring_data_ingestion_spark.grid.grib2 import (
        surface_level,
        surface_level_lenient,
        surface_level_text,
    )

    @given(
        value=st.integers(0, 10**9),
        scale=st.one_of(st.none(), st.integers(-6, 9)),
    )
    @settings(max_examples=200, deadline=None)
    def check(value, scale):
        text = surface_level_text(value, scale)
        lenient = surface_level_lenient(value, scale)
        exact = Fraction(value, 10 ** scale) if scale and scale > 0 else (
            Fraction(value) * 10 ** (-scale) if scale else Fraction(value)
        )
        assert Fraction(text) == exact
        if exact.denominator == 1:
            assert lenient == surface_level(value, scale) == int(exact)
            assert text == str(int(exact)) and "." not in text
        else:
            assert lenient is None and "." in text
            import pytest as _pytest

            with _pytest.raises(ValueError, match="not a whole level"):
                surface_level(value, scale)

    check()


def test_match_pushdown_decodes_only_matching_records(spark, tmp_path):
    """The match= regex runs over header-derived inventory lines BEFORE
    any value bit unpacks — wgrib2 -match pushed into the landing scan.
    Witnessed end-to-end: a record whose PAYLOAD is corrupt decodes fine
    as long as the regex excludes it (header parse only), and fails
    loudly once the regex admits it."""
    from monitoring_data_ingestion_spark.sources.grib_source import inventory_line

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    v = np.arange(20, dtype=np.float64).reshape(4, 5)
    m1 = encode_grib1_message(v, parameter=11, reference_value=0.0, nbits=8)
    m2 = bytearray(
        encode_grib1_message(v, parameter=61, reference_value=0.0, nbits=8)
    )
    # Corrupt m2's BDS nbits field (inside the payload sections, after
    # PDS+GDS) so decoding it would raise — header stays valid.
    pds_len = (m2[8] << 16) | (m2[9] << 8) | m2[10]
    gds_off = 8 + pds_len
    gds_len = (m2[gds_off] << 16) | (m2[gds_off + 1] << 8) | m2[gds_off + 2]
    bds_off = gds_off + gds_len
    # second-order flag WITHOUT the extended-flags bit → decode raises
    # (the stream pointers are absent, the layout is unknowable)
    m2[bds_off + 3] = 0x40
    with open(os.path.join(landing, "mixed.grib"), "wb") as f:
        f.write(m1 + bytes(m2))
    assert inventory_line(1, m1).startswith("e1:p11:l1/0:2020")
    rows = grib1_records(spark, landing, match=r"e1:p11:").collect()
    assert len(rows) == 1 and rows[0]["parameter"] == 11
    import pytest

    with pytest.raises(Exception, match="octet-14 extended flags"):
        grib1_records(spark, landing, match=r"e1:p61:").collect()


def test_gaussian_archive_lands_with_exact_latitudes(spark, tmp_path):
    """A Gaussian-grid (template 3.40) archive decodes through the
    landing source: the affine mdeg latitude columns stay NULL (never a
    fabricated dlat), the exact quadrature latitudes ride along in
    microdegrees, and grib1_cells serves a UNIFIED exact lat_udeg for
    affine and Gaussian records alike."""
    import numpy as np

    from monitoring_data_ingestion_spark.grid.grib2 import (
        encode_grib2_message,
        gaussian_latitudes,
    )
    from monitoring_data_ingestion_spark.sources.grib_source import grib1_cells

    landing = str(tmp_path / "landing")
    import os

    os.makedirs(landing)
    v = 100.0 + 2.0 * np.arange(40, dtype=np.float64).reshape(8, 5)
    gauss = encode_grib2_message(
        v, gaussian=True, reference_value=100.0, binary_scale=1, number=7
    )
    affine = encode_grib2_message(
        v, reference_value=100.0, binary_scale=1, number=8,
        lat_first_udeg=60_000_000, dlat_udeg=2_000_000,
    )
    with open(os.path.join(landing, "f.grib"), "wb") as fh:
        fh.write(gauss + affine)

    recs = grib1_records(spark, landing).orderBy("record_number").collect()
    assert len(recs) == 2
    g, a = recs
    assert g["lat_first_mdeg"] is None and g["dlat_mdeg"] is None
    expect = [int(round(float(x) * 1e6)) for x in gaussian_latitudes(8)]
    assert list(g["latitudes_udeg"]) == expect
    assert a["latitudes_udeg"] is None
    assert a["lat_first_mdeg"] == 60_000 and a["dlat_mdeg"] == 2_000

    cells = (
        grib1_cells(grib1_records(spark, landing))
        .groupBy("record_number")
        .agg(
            F.countDistinct("lat_udeg").alias("nlat"),
            F.max("lat_udeg").alias("latmax"),
            F.count(F.col("lat_mdeg")).alias("n_affine_lat"),
        )
        .orderBy("record_number")
        .collect()
    )
    gauss_cells, affine_cells = cells
    assert gauss_cells["nlat"] == 8
    assert gauss_cells["latmax"] == expect[0]
    assert gauss_cells["n_affine_lat"] == 0  # mdeg column NULL, visibly
    assert affine_cells["nlat"] == 8
    assert affine_cells["latmax"] == 60_000_000
    assert affine_cells["n_affine_lat"] == 40


def test_projected_and_reduced_records_land_with_cell_coords(spark, tmp_path):
    """Projected (3.30) and reduced-Gaussian (3.40 ragged) archives land
    through grib1_records with per-cell coordinate arrays (affine
    georef NULL — visible, never fabricated) and grib1_cells serves the
    unified lat_deg/lon_deg/lat_udeg/lon_udeg for every family."""
    import os

    import numpy as np

    from monitoring_data_ingestion_spark.grid.grib2 import (
        decode_grib2,
        encode_grib2_message,
        gaussian_latitudes,
    )
    from monitoring_data_ingestion_spark.sources.grib_source import grib1_cells

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    lam = dict(la1=21.138, lo1=-122.72, lad=38.5, lov=-97.5,
               latin1=33.0, latin2=45.0, dx_m=3000.0, dy_m=3000.0)
    proj = encode_grib2_message(
        np.arange(12, dtype=np.float64).reshape(3, 4), lambert=lam,
        scanning_mode=0x40, reference_value=0.0, binary_scale=0, number=5,
    )
    row_ni = [3, 5, 5, 3]
    vals = np.arange(16, dtype=np.float64)
    reduced = encode_grib2_message(
        vals, reduced_ni=row_ni, reference_value=0.0, number=6,
    )
    with open(os.path.join(landing, "f.grib"), "wb") as fh:
        fh.write(proj + reduced)

    recs = grib1_records(spark, landing).orderBy("record_number").collect()
    p, r = recs
    assert p["grid_template"] == 30 and r["grid_template"] == 40
    assert p["lat_first_mdeg"] is None and p["latitudes_udeg"] is None
    pr = decode_grib2(proj)
    assert p["cell_lats_deg"] == list(pr.cell_lats_deg.reshape(-1))
    assert r["ni"] is None and r["nj"] == 4
    lats = gaussian_latitudes(4)
    assert r["latitudes_udeg"] == [int(round(float(x) * 1e6)) for x in lats]
    assert r["cell_lats_deg"][:3] == [float(lats[0])] * 3
    assert r["cell_lons_deg"][3:8] == [i * 360.0 / 5 for i in range(5)]

    cells = grib1_cells(grib1_records(spark, landing))
    got = {
        row["record_number"]: row
        for row in cells.groupBy("record_number")
        .agg(
            F.count("*").alias("n"),
            F.count("lat_mdeg").alias("n_affine"),
            F.min("lat_deg").alias("latmin"),
            F.max("lon_udeg").alias("lonmax"),
        )
        .collect()
    }
    assert got[1]["n"] == 12 and got[1]["n_affine"] == 0
    assert got[2]["n"] == 16 and got[2]["n_affine"] == 0
    assert abs(got[2]["latmin"] - float(lats[-1])) < 1e-9
    assert got[2]["lonmax"] == int(round(4 * 360.0 / 5 * 1e6))
    assert abs(got[1]["latmin"] - float(pr.cell_lats_deg.min())) < 1e-9


def test_statistical_metadata_lands_filterable(spark, tmp_path):
    """PDT 4.8 statistical columns land (process + interval end as a
    timestamp); 4.0 records keep them NULL, so accumulation vs
    instantaneous is a plain column filter on the landed archive."""
    import os

    import numpy as np

    from monitoring_data_ingestion_spark.grid.grib2 import encode_grib2_message

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    v = np.ones((2, 3))
    inst = encode_grib2_message(v, number=1, reference_value=0.0)
    accum = encode_grib2_message(
        v, number=2, reference_value=0.0,
        statistical=dict(
            process=1, interval_end=(2021, 3, 1, 6, 30), range_hours=24
        ),
    )
    with open(os.path.join(landing, "f.grib"), "wb") as fh:
        fh.write(inst + accum)

    recs = grib1_records(spark, landing)
    rows = {r["record_number"]: r for r in recs.collect()}
    assert rows[1]["statistical_process"] is None
    assert rows[1]["interval_end"] is None
    assert rows[2]["statistical_process"] == 1
    ie = rows[2]["interval_end"]
    assert (ie.year, ie.month, ie.day, ie.hour, ie.minute) == (2021, 3, 1, 6, 30)
    only_accum = recs.filter(F.col("statistical_process").isNotNull())
    assert [r["number"] for r in only_accum.collect()] == [2]


def test_multifield_archive_lands_per_field_with_match_pushdown(spark, tmp_path):
    """A submessage archive lands ONE ROW PER FIELD (numbering counts
    fields across the file, exactly like the split-into-messages form),
    and the ``match=`` pushdown selects inner fields header-side: the
    skipped field's payload is corrupted on disk, so any value-bit read
    of it would raise."""
    import os
    import struct

    import numpy as np

    from monitoring_data_ingestion_spark.grid.grib2 import (
        encode_grib2_message,
        merge_grib2_fields,
    )
    from monitoring_data_ingestion_spark.sources.grib_source import grib_inventory

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    v1 = 100.0 + 2 * np.arange(12, dtype=np.float64).reshape(3, 4)
    v2 = 50.0 + 4 * np.arange(12, dtype=np.float64).reshape(3, 4)
    merged = bytearray(merge_grib2_fields([
        encode_grib2_message(v1, number=1, reference_value=100.0),
        encode_grib2_message(v2, number=2, reference_value=50.0),
    ]))
    single = encode_grib2_message(np.ones((2, 2)), number=3, reference_value=0.0)
    with open(os.path.join(landing, "f.grib"), "wb") as fh:
        fh.write(bytes(merged) + single)

    recs = grib1_records(spark, landing).orderBy("record_number").collect()
    assert [r["record_number"] for r in recs] == [1, 2, 3]
    assert [r["number"] for r in recs] == [1, 2, 3]
    assert recs[1]["values"][:2] == [50.0, 54.0]

    # corrupt field 1's section-7 payload bits, then match field 2 only
    pos, seen7 = 16, 0
    while pos < len(merged) - 4:
        ln, num = struct.unpack_from(">IB", merged, pos)
        if num == 7:
            merged[pos + 6] ^= 0xFF  # flip payload bits of field 1
            break
        pos += ln
    with open(os.path.join(landing, "f.grib"), "wb") as fh:
        fh.write(bytes(merged) + single)
    sel = grib1_records(spark, landing, match=r"c0,n2:").collect()
    assert [r["number"] for r in sel] == [2]
    assert sel[0]["values"][:2] == [50.0, 54.0]

    inv = grib_inventory(spark, landing).orderBy("record_number").collect()
    assert [r["record_number"] for r in inv] == [1, 2, 3]
    assert [r["number"] for r in inv] == [1, 2, 3]


def test_inventory_line_carries_lead_and_layer_bounds():
    """The match= regex surface renders the forecast lead as a trailing
    :f{hours} and layer bounds as l{type}/{top}-{bottom} — wgrib2-style
    header-side selection of analyses (:f0$), specific leads (:f6$) and
    layers, never touching a value bit."""
    import numpy as np

    from monitoring_data_ingestion_spark.grid.grib1 import (
        encode_grib1_message,
    )
    from monitoring_data_ingestion_spark.grid.grib2 import (
        encode_grib2_message,
    )
    from monitoring_data_ingestion_spark.sources.grib_source import (
        inventory_line,
    )

    v = np.ones((2, 3))
    assert inventory_line(1, encode_grib1_message(v)) == (
        "e1:p11:l1/0:2020010100:f0"
    )
    assert inventory_line(
        1, encode_grib1_message(v, forecast=dict(unit=1, value=384))
    ).endswith(":f384")
    assert inventory_line(
        1, encode_grib1_message(v, level_type=112, level=0, level2=10)
    ) == "e1:p11:l112/0-10:2020010100:f0"
    assert inventory_line(2, encode_grib2_message(v)) == (
        "e2:c0,n0:l1/0:2020010100:f0"
    )
    assert inventory_line(
        2,
        encode_grib2_message(
            v,
            level_type=106, level_value=0, level2=dict(type=106, value=2),
            forecast=dict(unit=10, value=2),  # 3-hour unit → f6
        ),
    ) == "e2:c0,n0:l106/0-2:2020010100:f6"


def test_streaming_match_pushdown_parity(spark, tmp_path):
    """``match=`` applies identically in the STREAMING scan — the
    lead-selecting regex filters records header-side per micro-batch,
    proven the strong way: each landed file carries a record whose BDS
    is undecodable (spherical-harmonics flag), so the drain only
    succeeds if the non-matching record is never decoded.  Batch and
    streaming must select the same records."""
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    v = np.arange(20, dtype=np.float64).reshape(4, 5)
    for m in range(1, 4):
        enc = dict(reference_value=0.0, nbits=8, reftime=(2020, m, 1, 0, 0))
        anl = encode_grib1_message(v, **enc)
        f6 = encode_grib1_message(
            v + m, **enc, forecast=dict(unit=10, value=2)  # 3-hour unit
        )
        poisoned = bytearray(
            encode_grib1_message(v, **enc, forecast=dict(unit=1, value=18))
        )
        pds_len = int.from_bytes(poisoned[8:11], "big")
        gds_off = 8 + pds_len
        bds_off = gds_off + int.from_bytes(
            poisoned[gds_off : gds_off + 3], "big"
        )
        poisoned[bds_off + 3] |= 0x80
        with open(os.path.join(landing, f"m{m:02d}.grib"), "wb") as f:
            f.write(anl + f6 + bytes(poisoned))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        grib1_records_stream(
            spark, landing, max_files_per_trigger=1, match=r":f6$"
        )
        .drop("values")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.read.parquet(out)
    rows = streamed.orderBy("month").collect()
    # one f6 record per file — record_number 2 keeps its file position
    assert [(r["month"], r["record_number"], r["forecast_hours"])
            for r in rows] == [(1, 2, 6), (2, 2, 6), (3, 2, 6)]
    batch = grib1_records(spark, landing, match=r":f6$")
    cols = ["month", "record_number", "forecast_hours", "ni", "nj"]
    assert sorted(map(tuple, streamed.select(*cols).collect())) == sorted(
        map(tuple, batch.select(*cols).collect())
    )


def test_spectral_records_inventory_and_landing_boundary(spark, tmp_path):
    """The SPECTRAL boundary at the landing source, both editions: the
    header-only inventory LISTS spherical-harmonic records (NULL
    dimensions — wgrib/wgrib2 list spectral fields), a ``match=`` regex
    skips them header-side so the rest of a mixed archive lands, and
    the gridpoint decode path stops LOUDLY (naming the synthesis route)
    when asked to land one — never a fabricated zero-increment
    georef."""
    import pytest

    from monitoring_data_ingestion_spark.grid.grib2 import (
        encode_grib2_message,
    )
    from monitoring_data_ingestion_spark.sources.grib_source import (
        grib_inventory,
    )

    t = 4
    npairs = (t + 1) * (t + 2) // 2
    c = (np.arange(npairs) + 1j * np.arange(npairs)).astype(complex)
    c[: t + 1] = c[: t + 1].real
    v = np.arange(12, dtype=np.float64).reshape(3, 4)
    enc = dict(reference_value=0.0, nbits=8)
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    msgs = [
        encode_grib1_message(v, parameter=11, **enc),
        encode_grib1_message(
            c, spectral=dict(truncation=t), nbits=8, parameter=61
        ),
        encode_grib2_message(c, spectral=dict(truncation=t), nbits=8,
                             category=3, number=7),
        encode_grib2_message(v, category=0, number=0, **enc),
    ]
    with open(os.path.join(landing, "mixed.grib"), "wb") as f:
        f.write(b"".join(msgs))
    inv = grib_inventory(spark, landing).orderBy("record_number").collect()
    assert [(r["edition"], r["ni"], r["nj"]) for r in inv] == [
        (1, 4, 3), (1, None, None), (2, None, None), (2, 4, 3),
    ]
    # match= excludes the spectral records header-side: the gridpoint
    # records land; admitting a spectral record stops loudly with the
    # synthesis route named
    rows = grib1_records(
        spark, landing, match=r"e1:p11:|e2:c0,n0:"
    ).orderBy("record_number").collect()
    assert [r["record_number"] for r in rows] == [1, 4]
    with pytest.raises(Exception, match="spectral_synthesis"):
        grib1_records(spark, landing, match=r"e1:").collect()
    with pytest.raises(Exception, match="spectral_synthesis"):
        grib1_records(spark, landing, match=r"e2:c3,n7").collect()


def test_spectral_synthesis_through_landing_scan(spark, tmp_path):
    """``synthesize_spectral=(nj, ni)`` opts spherical-harmonic records
    INTO the landing scan (both editions): each synthesizes onto the
    requested global Gaussian grid and lands like a native Gaussian
    record — exact quadrature latitudes in microdegrees, lon axis from
    0°E with the exact affine step, grid_template 50 marking the
    raster SYNTHESIZED — and the unified cell explode serves it like
    any other record.  Values must equal the direct codec synthesis;
    product metadata rides unchanged; a non-dividing ni stops loudly;
    the boundary (no kwarg → loud stop) keeps holding."""
    import pytest

    from monitoring_data_ingestion_spark.grid.grib2 import (
        encode_grib2_message,
        gaussian_latitudes,
        spectral_synthesis,
    )

    t = 4
    npairs = (t + 1) * (t + 2) // 2
    c = (np.arange(npairs) - 5.0 + 1j * (np.arange(npairs) % 7)).astype(
        complex
    )
    c[: t + 1] = c[: t + 1].real
    v = np.arange(12, dtype=np.float64).reshape(3, 4)
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    with open(os.path.join(landing, "a.grib"), "wb") as f:
        f.write(
            encode_grib1_message(v, reference_value=0.0, nbits=8)
            + encode_grib1_message(
                c, spectral=dict(truncation=t), nbits=8, parameter=80,
                forecast=dict(unit=1, value=6),
            )
            + encode_grib2_message(
                c, spectral=dict(truncation=t, sub_truncation=1),
                nbits=16, category=3, number=9,
                level_type=105, level_value=3,
            )
        )
    recs = grib1_records(spark, landing, synthesize_spectral=(6, 8))
    rows = recs.orderBy("record_number").collect()
    assert [r["grid_template"] for r in rows] == [None, 50, 50]
    ref, lats = spectral_synthesis(c, t, 6, 8)
    for r in rows[1:]:
        assert (r["ni"], r["nj"]) == (8, 6)
        assert (r["lon_first_mdeg"], r["dlon_mdeg"]) == (0, 45_000)
        assert r["lat_first_mdeg"] is None and r["dlat_mdeg"] is None
        assert r["latitudes_udeg"] == [
            int(round(float(x) * 1e6)) for x in gaussian_latitudes(6)
        ]
        assert np.allclose(
            np.array(r["values"]).reshape(6, 8), ref, atol=1e-12
        )
    # product metadata rides unchanged through the synthesis
    assert (rows[1]["parameter"], rows[1]["forecast_hours"]) == (80, 6)
    assert (rows[2]["category"], rows[2]["number"]) == (3, 9)
    assert (rows[2]["level_type"], rows[2]["level"]) == (105, 3)
    # the unified cell explode serves synthesized records like any other
    assert grib1_cells(recs).count() == 12 + 48 + 48
    # streaming form threads the same kwarg (same decode partial)
    assert grib1_records_stream(
        spark, landing, synthesize_spectral=(6, 8)
    ).isStreaming
    # a non-dividing longitude count cannot produce an exact grid step
    with pytest.raises(Exception, match="must divide"):
        grib1_records(spark, landing, synthesize_spectral=(6, 7)).collect()
    # without the opt-in the boundary still stops loudly
    with pytest.raises(Exception, match="synthesize_spectral"):
        grib1_records(spark, landing).collect()


# --- landing-row golden digests ---------------------------------------------
#
# The sha256 of every record's landing row (``_decode_record_row``) and
# inventory dict (``_unified_inventory``) over a corpus of every GRIB1
# grid and time form, the GRIB2 product families, and every section-5
# and section-3 case of the encode goldens.  The digests were taken
# before the two editions' per-edition row builders became one by-name
# rule, so that refactor (and any later one) proves its rows identical.


def _spectrum(truncation: int) -> np.ndarray:
    npairs = (truncation + 1) * (truncation + 2) // 2
    c = (np.arange(npairs) - 5.0 + 1j * (np.arange(npairs) % 7)).astype(complex)
    c[: truncation + 1] = c[: truncation + 1].real
    return c


def _landing_corpus() -> dict:
    """Case name -> one GRIB message (edition 1 or 2)."""
    from monitoring_data_ingestion_spark.grid.grib2 import encode_grib2_message

    from .test_grib2_golden import _cases, _grid_cases

    rng = np.random.default_rng(20261021)
    v = np.round(rng.uniform(200.0, 320.0, size=(4, 6)), 1)
    bitmap = rng.random((4, 6)) < 0.75
    rows = [4, 6, 6, 4]
    ragged = np.round(rng.uniform(0.0, 50.0, size=sum(rows)), 1)
    g1 = dict(decimal_scale=1, nbits=12)

    def e1(values, **kw):
        return encode_grib1_message(values, **{**g1, **kw})

    def e2(**kw):
        return encode_grib2_message(v, **{**g1, **kw})

    ens = dict(type=3, member=2, size=10)
    stat = dict(process=1, interval_end=(2020, 1, 2, 0, 0), range_hours=24)
    bands = [
        dict(series=333, number=17, instrument=616, scale=-3, value=717),
        dict(series=333, number=18, instrument=620, scale=2, value=98765),
    ]
    corpus = {
        "g1 regular": e1(v, parameter=11, reftime=(2020, 3, 4, 6, 0)),
        "g1 south-first": e1(
            v, scanning_mode=0x40, lat_first_mdeg=-10_000, lon_first_mdeg=20_000,
            dlat_mdeg=500, dlon_mdeg=250,
        ),
        "g1 bitmap": e1(v, bitmap=bitmap, parameter=61),
        "g1 Gaussian": e1(v, gaussian=True, lon_first_mdeg=0, dlon_mdeg=60_000),
        "g1 rotated": e1(
            v, rotated=dict(south_pole_lat=-30.0, south_pole_lon=10.0, angle=2.0),
        ),
        "g1 reduced Gaussian": e1(ragged, reduced_ni=rows, lon_first_mdeg=0),
        "g1 reduced lat/lon": e1(
            ragged, reduced_ni=rows, reduced_latlon=True, dlat_mdeg=500,
        ),
        "g1 statistical": e1(v, statistical=dict(process=1, start=0, end=6)),
        "g1 16-bit lead": e1(v, forecast=dict(unit=1, value=300)),
        "g1 layer": e1(v, level_type=112, level=0, level2=10),
        "g1 spectral": encode_grib1_message(
            _spectrum(4), spectral=dict(truncation=4), nbits=8, parameter=80,
            forecast=dict(unit=1, value=6),
        ),
        "g1 second-order": e1(v, second_order=dict(groups="rows")),
        "g2 layer": e2(level_type=106, level_value=0, level2=dict(type=106, value=2)),
        "g2 ensemble": e2(ensemble=ens, forecast=dict(unit=1, value=6)),
        "g2 derived": e2(derived=dict(type=4, size=20)),
        "g2 cluster": e2(cluster=dict(
            type=1, size=51, identifier=2, hires=1, lores=3, total=6, method=1,
            members=[3, 7, 11], stddev=(2, 125), distance=(1, 37),
            bounds=(60_000_000, 30_000_000, 40_000_000, -10_000_000),
        )),
        "g2 probability": e2(
            probability=dict(number=1, total=3, type=2, lower=(0, -10), upper=(1, 255)),
            statistical=stat,
        ),
        "g2 percentile": e2(percentile=90),
        "g2 spatial": e2(spatial=dict(stat=2, type=3, points=9)),
        "g2 satellite": e2(category=4, number=7, satellite=dict(bands=bands)),
        "g2 simulated satellite": e2(
            category=4, number=7, satellite=dict(simulated=True, bands=bands[:1]),
            forecast=dict(unit=1, value=12),
        ),
        "g2 radar": e2(discipline=15, category=1, number=195, radar=dict(
            sites=3, site_id="KTLX", site_number=351, lat_udeg=35_333_000,
            lon_udeg=-97_278_000, elevation_m=370, mode=2,
        )),
        "g2 chemistry": e2(chemistry=8, statistical=stat),
        "g2 aerosol": e2(aerosol=dict(
            type=62001, size_interval=2, first_size=(8, 25), second_size=(7, 100),
            wavelength_interval=11, first_wavelength=(9, 550),
            second_wavelength=(9, 650),
        )),
        "g2 reforecast": e2(ensemble=ens, model_version=(2019, 5, 27, 12, 0, 0)),
    }
    for cases in (_cases(), _grid_cases()):
        for name, (_, kw) in cases.items():
            kw = dict(kw)
            corpus[f"g2 golden {name}"] = encode_grib2_message(kw.pop("values"), **kw)
    return corpus


def _digest(d: dict) -> str:
    import hashlib
    import json

    blob = json.dumps(d, sort_keys=True, default=repr)
    return hashlib.sha256(blob.encode()).hexdigest()


def _landed(msg: bytes) -> tuple:
    """(landing rows, inventory dicts) of one message's records."""
    from monitoring_data_ingestion_spark.sources.grib_source import (
        _decode_record_row,
        _record_units,
        _unified_inventory,
    )

    rows, inventory = [], []
    for n, (edition, m, s) in enumerate(_record_units(msg), start=1):
        rows.append(_decode_record_row("corpus", n, edition, m, s, None, (6, 8)))
        inventory.append(_unified_inventory(edition, m, s))
    return rows, inventory


_LANDING_GOLDEN = {
    "g1 16-bit lead": [(
        "08259f8aedafb5b65cad054ced5ea6fe34c239067da72b83aabf7bff0ce5dd35",
        "53146d18fc5452ecc5338c3f5d2e10b284d5d120a3535e48fa29514f41844c56",
    )],
    "g1 Gaussian": [(
        "993aaf9db4f070b95d36d2a6c226e577ec1d9e64624f28454a64ec4ddc6e454f",
        "f8ea39c1ebffb814d99585733cb72cc9ec761b4b88d13c16b8a5df277e6162c1",
    )],
    "g1 bitmap": [(
        "ec0efa14c02fabf0c80c23c88d3f6d748591bef6e4eb13c64fa5cbc7df5b23d1",
        "48bc2d4a11df1a1870cb3b61b6cbd9a67f9858d791dc724ad1cea40bf0c89d61",
    )],
    "g1 layer": [(
        "197addde60ae6748c1448eda634ae66633d087cbcadb8b118517efa70d8917f1",
        "57effbe4b0bec36701bbdd77ac9534bf25c8bacbc0781113b8c5d04a8318b0a6",
    )],
    "g1 reduced Gaussian": [(
        "b811d1a16d9d4f564072ac7413dd8bd5e0a4eb18c8f1d21c1ab7ef2efe44e97e",
        "c7057af27fd920959666105c5f02a3c2ee8157c9c904289fe635040e65ea26f9",
    )],
    "g1 reduced lat/lon": [(
        "a9e4a0c80b543198e94955aeeb487d38eb68f29625945be0c422c4a352b0e461",
        "c7057af27fd920959666105c5f02a3c2ee8157c9c904289fe635040e65ea26f9",
    )],
    "g1 regular": [(
        "19b47e875d474df0776863ddfbd840bcd94059a3170d1920a1bb159925790b76",
        "2a3ef16a58b260829af47ee70a6c5c7a6d762976f77150bbff73541b128abe8c",
    )],
    "g1 rotated": [(
        "f470e251fb612d965cd04f32775300fefdcaffebeb04b75567d796d25849abf5",
        "f6aa8ac5aac4ac63dbfbd8b1c6829975095e0a52604eed5b95cbb34f7044be41",
    )],
    "g1 second-order": [(
        "b99f4bcbb8bd1c3ebffc6bc5864295a7d8f4cf9b3a2c06729278a6104939d56e",
        "72938ed02f817ce5cb3b78380bbb1c18444e2f4fb59fc949b1554d436913bab6",
    )],
    "g1 south-first": [(
        "7e278000ab3db9a04b7a545e1cb415682cbf3b4638f7799a2f9d878dbeed7c9d",
        "f8ea39c1ebffb814d99585733cb72cc9ec761b4b88d13c16b8a5df277e6162c1",
    )],
    "g1 spectral": [(
        "7125de51e19dc390c4e0f83cba6d584c2a9a12eee21d2cae6767554cc5b22497",
        "43f7d50bab934cdaaacbfc6affc4b66a7a45e8c4516ea3c0b843a588cb01fe08",
    )],
    "g1 statistical": [(
        "dbdac965de0eb9d549baa872ec11f51a9b220b2addf908f35166ce40eac3879c",
        "f8ea39c1ebffb814d99585733cb72cc9ec761b4b88d13c16b8a5df277e6162c1",
    )],
    "g2 aerosol": [(
        "8518f233fc8d3152274aca2800604421f9a42e0eee6212a4828d364a80382322",
        "4195b6b225aaef850c4b5dde6bcbe4ead5d96ef18f4d511a756e4be127aaf15b",
    )],
    "g2 chemistry": [(
        "9d30ffe9a0250390d5091be0d904117236bbc16c1dbdd732b830e724f4ec533d",
        "68871f3476ca3d5ad2e09ea2f31630c74562527b497a71a0db8166a54b04b31b",
    )],
    "g2 cluster": [(
        "a35a7829fd9442b3f3edd887b0389b24b6f7340a57ed3aaa3dc61a3ca35fa2fb",
        "533b5ad67825621ebc997afd0a8b74d719a3b5e819af3a70fef5fc63e29b85d4",
    )],
    "g2 derived": [(
        "e9fbb5f43e0dedcfdfccf8163221d77974167480842b75622b189ef5e9151fb7",
        "b377f461b84d405a17f5ac33780cef15462d84ba7436a614d1ca8689e8483c54",
    )],
    "g2 ensemble": [(
        "2c3076b40555aee00dde30dd4d36a6c29febd06e1dc3b2dda41ac04efca8ae65",
        "ea10fbd4b4ad81ed51d5acb0f0da75e68b550ff52d1d618fc74daae9c62eea17",
    )],
    "g2 golden 3.0 south-first": [(
        "be474169a276e5cfd3ab7b9d978dd5f31358f34bec57aa89bbff42b3b9258123",
        "f8688763d2335861a40a17621c00d771cd611d6c6e7c5b603173f1f6f4ac34e0",
    )],
    "g2 golden 3.1 rotated": [(
        "68901291769f9dc78c3b018b6334f2176d73f20ae570cb05b46be5fc74ef4cbb",
        "e2ea88c0318641dbf136113aae41203325ce4f5f7cf2e35bbc12f6b70de3db4b",
    )],
    "g2 golden 3.10 Mercator": [(
        "7c4fac4ffa08209b401aa5d0b1a5fafff4dc37b1107fbaed3734d75193a39a85",
        "f8688763d2335861a40a17621c00d771cd611d6c6e7c5b603173f1f6f4ac34e0",
    )],
    "g2 golden 3.2 stretched": [(
        "59e06d02da2bcc37eb128bdedaf5c7a17aca5a7915a0237c2a63608142886e2d",
        "e2ea88c0318641dbf136113aae41203325ce4f5f7cf2e35bbc12f6b70de3db4b",
    )],
    "g2 golden 3.20 polar stereographic": [(
        "596acd8054f3f6e93dd5d8de59a5bb869d6d796ed6931faf52c621e7f10fa697",
        "0f4e889ea361a0569e180522f25ceab7fe8992d8891f9e7bb69d6970bc2622b8",
    )],
    "g2 golden 3.3 stretched rotated": [(
        "293faa57281d32d95f078852675aa2eb1ba9ed9c8d941ca1b1a93fdcedc4efbb",
        "39249cededbe77e5fa57fde49b517bfd91c439fca7e1af21c96c76cd09e6823a",
    )],
    "g2 golden 3.30 Lambert": [(
        "aec2ef1d083f0d1e544f23b99163252a98e54d98c86e3244a2dab1cda7da096d",
        "5c5ffa9fd4049d299f61b7146269a8e101184d3575982212dfcd259b6c535006",
    )],
    "g2 golden 3.40 regular Gaussian": [(
        "75402e1c988462b8f47dc9b442fdedb81051c9e4bfc9038d936a9369fc09785f",
        "f8688763d2335861a40a17621c00d771cd611d6c6e7c5b603173f1f6f4ac34e0",
    )],
    "g2 golden 5.0": [(
        "302937f045117d36779b8043133da9b0c0b0730f3ef306a26625b4acbcfe4bac",
        "f8688763d2335861a40a17621c00d771cd611d6c6e7c5b603173f1f6f4ac34e0",
    )],
    "g2 golden 5.0 bitmap": [(
        "e7fea8f292588171a095b0b17962d4f6fd4b7715bb105fd8e7894d9d198106d6",
        "cf7b941d278972d936bfc1d83b817dc3b60f2d4ebb6a54e57a1f662df8e70761",
    )],
    "g2 golden 5.0 constant": [(
        "af978701f8469b15120e371a7508fd94c5683965a60511165a3940317f0cf423",
        "e6b9cfe6c5c1c8e51260f0fc99d6ccf35b86782fcce8692e25a6158c8081b21e",
    )],
    "g2 golden 5.0 reduced Gaussian": [(
        "5d4ac3d24cff85bad112773c6d084a91b142d8ea95dda53f097b8e4df43f0cee",
        "60147bf3147e0635f8b88f6905931d2cd77cfdb45b872c55f1e5a3c4beb20a88",
    )],
    "g2 golden 5.0 statistical product": [(
        "123e0d3f7c17a01348a46a2de4841fd20675b3e6ce1492ed213f3a1ee938f9c8",
        "5ec567280f96154eeee9c7d801fd0cd5919ab3c7f130cee20ae032b7c47d60e8",
    )],
    "g2 golden 5.2": [(
        "302937f045117d36779b8043133da9b0c0b0730f3ef306a26625b4acbcfe4bac",
        "8225fc0ac34118f57bd318544a55d5900701f37d19ea32d432c1b8d194b4ff09",
    )],
    "g2 golden 5.2 mvm=1": [(
        "06ff81509985727c9ee8a76c0458c63259ec8b0b50a30ae0b865500f6736cd0e",
        "8225fc0ac34118f57bd318544a55d5900701f37d19ea32d432c1b8d194b4ff09",
    )],
    "g2 golden 5.200": [(
        "726139e1ea7de5cb17e9bc698e5df9a1baca49392e7b7d619014ed8cd05bd138",
        "f402d1087e588afe59d9b607d65ff467629a33282581a91c14c3274264a07ff6",
    )],
    "g2 golden 5.3 order 1": [(
        "302937f045117d36779b8043133da9b0c0b0730f3ef306a26625b4acbcfe4bac",
        "259105103b42b9baef383d324288810ff461ba4f828a7c5c29e1c701bf6b391b",
    )],
    "g2 golden 5.3 order 2 mvm=2": [(
        "401b85c96c4246fb35e0da10c87ae8b8f06bf0c0044aa00a0465ec5918405e19",
        "0f62ab82551b64136399079222c357c5f30fe603536772f0de99106af62d2891",
    )],
    "g2 golden 5.4 binary32": [(
        "5d25bcca3894ab2338b978aea4102ced9c974e5e23bac00a5acfc5b56f4f3ae5",
        "d63fcd6103b25766274a65eee31047dc4d30aa99b5b3fe27046ee1e69c512401",
    )],
    "g2 golden 5.4 binary64": [(
        "e7fea8f292588171a095b0b17962d4f6fd4b7715bb105fd8e7894d9d198106d6",
        "607f4429d3c883b1bbeb3962db129d176ddc0a65e410100705f984f5c91d671d",
    )],
    "g2 golden 5.40": [(
        "302937f045117d36779b8043133da9b0c0b0730f3ef306a26625b4acbcfe4bac",
        "d63fcd6103b25766274a65eee31047dc4d30aa99b5b3fe27046ee1e69c512401",
    )],
    "g2 golden 5.40 bitmap": [(
        "e7fea8f292588171a095b0b17962d4f6fd4b7715bb105fd8e7894d9d198106d6",
        "cd2faa7751de24579921fbb392b5c9c46e8c81e1a3b24e680bea0adb6a6e599b",
    )],
    "g2 golden 5.41": [(
        "302937f045117d36779b8043133da9b0c0b0730f3ef306a26625b4acbcfe4bac",
        "1bca6c839491b66023543cc61fededf447d3ab896993962c03f7a50566f6e883",
    )],
    "g2 golden 5.42": [(
        "302937f045117d36779b8043133da9b0c0b0730f3ef306a26625b4acbcfe4bac",
        "8522f754616ea161a1d6d650e9f8e4a27603db04b766872fc3a05200114dab7c",
    )],
    "g2 golden 5.50 spectral": [(
        "74cac74d91eb2178a6e0fd0752e3ec63f3aeae2c9e5a15e0027f25f8be62a13c",
        "848d31189f8f253cf8f2a6c85d18eb53fa50b968bfaeee3d51d9c9f5125d5b91",
    )],
    "g2 golden 5.51 spectral": [(
        "12d5e393d934397f89afe33dc05fb93cd7f871f80434edbe0cd8533d7e45fc37",
        "a12cb650e271a3a70fc22489e599b6e82a5d1bc8d3bd9b33c6b0dae307b9eae6",
    )],
    "g2 golden 5.61": [(
        "25792fca6589fb51b01c3d94991ca03a59d330e5632a6435473b86a5c7f18f06",
        "b844ae01654b97e64692772f79127eeecc210052a51886640fb8e73db8ce4cf0",
    )],
    "g2 layer": [(
        "7c060e0a9bdcb394ac9df654be207fcbfc98f9d6660e21fcc216aa7dcde9eadd",
        "7f64cf953c552716b14ae79cc406b8fb3d33946c20a5bf9a1ab034132a7d22ef",
    )],
    "g2 percentile": [(
        "ef18b261fa2e3598b2585803dae75eb22f5a51cb414647c809ba8ed03f797a4e",
        "470d418633cf7c466b00eafcf65e95c4a16fb91ff936a3246493c34bfa59272b",
    )],
    "g2 probability": [(
        "2539e9c6749fd8c5f05dedc74703970f2df5a9323b000904d459151f9197dc2c",
        "533b5ad67825621ebc997afd0a8b74d719a3b5e819af3a70fef5fc63e29b85d4",
    )],
    "g2 radar": [(
        "1f2819c00c2c1ce1eaeac8752e62684681b4ad4d79e96a2d55739369023522e4",
        "66b81499a039b5f0967548f933f702e597684a7eb6ed59e23cb21323d5eaebd1",
    )],
    "g2 reforecast": [(
        "8bf5dd1422ebc1d0eb22cd741445d5e04a82e9e7b1ef269338573c2ab653af12",
        "a8fe4960b90f1a2d0a21ac92893310f657d3e1560a325a55c1f1959959143329",
    )],
    "g2 satellite": [(
        "b04360307625bcbebbca067b8657861c7468777d2b2e1edc77d2d99711a6d968",
        "dd58c164ca542969b707e5a9175a209c87f08dedface6b91dc935336db06846e",
    )],
    "g2 simulated satellite": [(
        "98061d2111a08a604fa076ce97e14a01fc9b44081199c5d12a76ba5ce7f3b714",
        "c112de81de1383775c6d89fe7f1e92f51c5d931fd22c0dc2dd7696d2883bc9cf",
    )],
    "g2 spatial": [(
        "1ab9d2e845a4d7e4134b8ded4ff70ffbfd52fe74c8193e2beb44b7d73f67d522",
        "6158a916a39699eed98bfc2fb313f8bd68766686e6ff6137a820fa4ccf4613d4",
    )],
}


def test_landing_golden_covers_the_corpus():
    assert set(_LANDING_GOLDEN) == set(_landing_corpus())


@pytest.mark.filterwarnings("ignore:spectral m=0")
@pytest.mark.parametrize("name", sorted(_LANDING_GOLDEN))
def test_landing_rows_match_their_golden_digests(name):
    rows, inventory = _landed(_landing_corpus()[name])
    assert [(_digest(r), _digest(h)) for r, h in zip(rows, inventory)] == (
        _LANDING_GOLDEN[name]
    )


@pytest.mark.filterwarnings("ignore:spectral m=0")
def test_landing_corpus_fills_every_record_column():
    """Under the by-name copy a renamed record field would NULL its
    column silently; every column but ``error`` must be set somewhere."""
    from monitoring_data_ingestion_spark.sources.grib_source import _RECORD_COLUMNS

    rows = [r for msg in _landing_corpus().values() for r in _landed(msg)[0]]
    assert all(list(r) == _RECORD_COLUMNS for r in rows)
    never = [c for c in _RECORD_COLUMNS if all(r[c] is None for r in rows)]
    assert never == ["error"]
