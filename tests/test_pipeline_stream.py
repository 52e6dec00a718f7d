"""End-to-end: the reference's main loop as one Structured Streaming query.

gridmonths stream → sentinel→NULL → broadcast normals rasters → anomaly →
idempotent month-partitioned publish. The fixture's closed-form values
(tests/gridfix.py) make the expected anomaly exact:

    value = lat*10 + lon + month + (year − 1991) + var_offset
    normal over years {1991..1993} = ... + mean(0,1,2) = ... + 1
    anomaly(year) = (year − 1991) − 1                      (exactly)
"""

from __future__ import annotations

import math
import os
import struct
from datetime import datetime

import numpy as np
import pytest
from pyspark.sql import functions as F

from monitoring_data_ingestion_spark.grid.ops import nodata_to_null
from monitoring_data_ingestion_spark.streaming.pipeline import (
    anomaly_transform,
    month_partitioned_writer,
    monthly_anomaly_query,
    monthly_normals,
)
from tests.gridfix import LATS, LONS, VAR_OFFSETS, write_fixture


@pytest.fixture(scope="module")
def landing(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pipe_landing"))
    # 1991-1993 history (normals period) + 1994 months 1-3 (the "live" head).
    write_fixture(spark, d, years=range(1991, 1995), months=range(1, 4))
    return d


@pytest.fixture(scope="module")
def normals(spark, landing):
    history = spark.read.parquet(os.path.join(landing, "199[123]-*.parquet"))
    return monthly_normals(history, years=[1991, 1992, 1993]).cache()


def _per_cell(normals):
    """The grid-aligned normals read back as one row per (lat, lon,
    variable, month): slot ``j*len(lon_axis) + i`` of ``normal_grid``."""
    return normals.select(
        "variable", "month", "lat_axis", "lon_axis", F.posexplode("normal_grid").alias("slot", "normal_value")
    ).select(
        F.col("lat_axis")[F.expr("slot div size(lon_axis)").cast("int")].alias("lat"),
        F.col("lon_axis")[F.expr("slot % size(lon_axis)")].alias("lon"),
        "variable",
        "month",
        "normal_value",
    )


def test_normals_match_closed_form(normals):
    # normal(month m) = lat*10 + lon + m + 1 + var_offset; the always-
    # sentinel corner cell averages nothing (NULL normal).
    normals = _per_cell(normals)
    corner = normals.filter((F.col("lat") == LATS[0]) & (F.col("lon") == LONS[0]))
    assert corner.filter(F.col("normal_value").isNotNull()).count() == 0
    row = normals.filter(
        (F.col("lat") == LATS[1]) & (F.col("lon") == LONS[2]) & (F.col("variable") == "t2m")
        & (F.col("month") == 2)
    ).collect()[0]
    assert row["normal_value"] == pytest.approx(LATS[1] * 10 + LONS[2] + 2 + 1)


def _per_cell_anomaly(stream, history, years):
    """Reference: the relational form, a left join of every cell to its
    per-cell normal on (lat, lon, variable, month)."""
    normals = (
        nodata_to_null(history)
        .filter(F.year("time").isin(list(years)))
        .groupBy("lat", "lon", "variable", F.month("time").alias("month"))
        .agg(F.avg("value").alias("normal_value"))
    )
    return (
        nodata_to_null(stream)
        .withColumn("month", F.month("time"))
        .join(F.broadcast(normals), ["lat", "lon", "variable", "month"], "left")
        .select(
            "time", "lat", "lon", "variable", "value",
            (F.col("value") - F.col("normal_value")).alias("anomaly"),
        )
    )


def _bits(df) -> list[tuple]:
    """Rows with every double as its IEEE bit pattern, so -0.0 != 0.0
    and NaN == NaN; sorted, since row order is not part of the result."""

    def key(v):
        return struct.pack(">d", v).hex() if isinstance(v, float) else repr(v)

    return sorted(tuple(key(v) for v in row) for row in df.collect())


def _assert_matches_per_cell_join(stream, history, years):
    normals = monthly_normals(history, years).persist()
    try:
        got_bits = _bits(anomaly_transform(stream, normals))
    finally:
        normals.unpersist()
    assert len(got_bits) == stream.count()
    assert got_bits == _bits(_per_cell_anomaly(stream, history, years))


def test_anomaly_matches_per_cell_join_on_closed_form_fixture(spark, landing):
    """A two-month batch of the closed-form fixture, sentinel corner
    (NULL normal) included; ``unused_var`` has no normals at all."""
    history = spark.read.parquet(os.path.join(landing, "199[123]-*.parquet")).filter(
        F.col("variable") != "unused_var"
    )
    stream = spark.read.parquet(*(os.path.join(landing, f"1994-0{m}.parquet") for m in (1, 2)))
    _assert_matches_per_cell_join(stream, history, (1991, 1992, 1993))


_SCHEMA = "time timestamp, lat double, lon double, variable string, value double"


def _lattice_rows(lats, lons, years, value):
    return [
        (datetime(y, 1, 1), lat, lon, "t2m", value(j, i, y))
        for y in years
        for j, lat in enumerate(lats)
        for i, lon in enumerate(lons)
    ]


def test_anomaly_matches_per_cell_join_at_coordinate_edges(spark):
    """Cells off the lattice get NULL; NULL, NaN, infinite and -0.0
    coordinates raise no ANSI cast error and match exactly as the
    equi-join matches them (-0.0 equals the lattice's 0.0)."""
    lats, lons = [0.5, 0.25, 0.0, -0.25], [-0.25, 0.0, 0.25]
    history = spark.createDataFrame(
        _lattice_rows(lats, lons, (1991, 1992), lambda j, i, y: j * 3.7 + i / 3 + y % 7), _SCHEMA
    )
    t = datetime(1995, 1, 1)
    live = _lattice_rows(lats, lons, (1995,), lambda j, i, y: 1.0 + j - i)
    edges = [
        (t, -0.0, -0.0, "t2m", 2.0),
        (t, None, 0.25, "t2m", 3.0),
        (t, 0.25, None, "t2m", 4.0),
        (t, math.nan, 0.25, "t2m", 5.0),
        (t, 0.25, math.nan, "t2m", 6.0),
        (t, math.inf, 0.25, "t2m", 7.0),
        (t, 0.25, -math.inf, "t2m", 8.0),
        (t, 0.1, 0.25, "t2m", 9.0),  # between two latitudes
        (t, 0.25 + 1e-12, 0.25, "t2m", 10.0),  # nearest slot, not equal
        (t, 5.0, 0.25, "t2m", 11.0),  # past the axis
        (t, 0.25, 0.125, "t2m", 12.0),
        (t, 0.25, 0.25, "snow", 13.0),  # no normals for this variable
        (None, 0.25, 0.25, "t2m", 14.0),  # no month
    ]
    stream = spark.createDataFrame(live + edges, _SCHEMA)
    _assert_matches_per_cell_join(stream, history, (1991, 1992))
    anomalies = [r["anomaly"] for r in anomaly_transform(
        stream, monthly_normals(history, (1991, 1992))
    ).collect()]
    assert sum(a is not None for a in anomalies) == len(live) + 1  # + the -0.0 cell


def test_anomaly_matches_per_cell_join_on_tenth_degree_grid(spark):
    """A 0.1 degree grid whose ``mdeg / 1000.0`` coordinates are inexact
    in binary: every lattice cell finds its normal, and a coordinate one
    ulp away (the accumulated ``37.5 - 0.1 - 0.1 - ...``) finds none."""
    lats = [(37_500 - 100 * j) / 1000.0 for j in range(12)]
    lons = [(-18_000 + 100 * i) / 1000.0 for i in range(9)]
    history = spark.createDataFrame(
        _lattice_rows(lats, lons, (2020, 2021), lambda j, i, y: (j * 9 + i) * 0.1 + (y - 2020) / 3),
        _SCHEMA,
    )
    drifted, lat = [], 37.5
    for j in range(1, 12):
        lat -= 0.1
        drifted.append((datetime(2022, 1, 1), lat, lons[1], "t2m", 1.0 * j))
    assert sum(d[1] not in lats for d in drifted) > 0
    live = _lattice_rows(lats, lons, (2022,), lambda j, i, y: j - i * 0.1)
    stream = spark.createDataFrame(live + drifted, _SCHEMA)
    _assert_matches_per_cell_join(stream, history, (2020, 2021))


@pytest.mark.parametrize(
    "lats",
    [
        pytest.param([0.5, 0.25, 0.0], id="missing-cell"),
        pytest.param(
            np.degrees(np.arcsin(np.polynomial.legendre.leggauss(6)[0])).tolist(), id="gaussian-lat"
        ),
    ],
)
def test_normals_off_a_uniform_lattice_fail_loudly(spark, lats):
    """Normals that are not a full, uniformly spaced lattice raise an
    error naming the (variable, month) when they materialize, and the
    anomaly built on them never publishes silent NULLs."""
    lons = [10.0, 10.5, 11.0]
    rows = _lattice_rows(lats, lons, (1991,), lambda j, i, y: float(j + i))
    if len(lats) == 3:
        rows = [r for r in rows if not (r[1] == lats[1] and r[2] == lons[1])]
    history = spark.createDataFrame(rows, _SCHEMA)
    normals = monthly_normals(history, (1991,))
    with pytest.raises(Exception, match=r"variable=t2m, month=1\)"):
        normals.persist().count()
    normals.unpersist()
    stream = spark.createDataFrame(_lattice_rows(lats, lons, (1995,), lambda j, i, y: 1.0), _SCHEMA)
    with pytest.raises(Exception, match=r"not a full, uniformly spaced"):
        anomaly_transform(stream, monthly_normals(history, (1991,))).collect()


def _plan_nodes(plan, name: str) -> list:
    """Nodes of a physical plan named ``name``, AQE wrappers unwrapped."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    found = [plan] if plan.nodeName() == name else []
    children = plan.children()
    for k in range(children.size()):
        found += _plan_nodes(children.apply(k), name)
    return found


def test_anomaly_batch_broadcasts_one_row_per_variable_month(spark, landing, normals):
    """Plan only: the anomaly batch's single BroadcastExchange carries
    the normals rasters, keyed on (variable, month) alone, one row per
    (variable, calendar month) — no per-cell (lat, lon) broadcast."""
    import re

    batch = anomaly_transform(
        spark.read.parquet(os.path.join(landing, "1994-03.parquet")), normals
    )
    plan = batch._jdf.queryExecution().executedPlan()
    (exchange,) = _plan_nodes(plan, "BroadcastExchange")
    output = exchange.child().output()
    built = {output.apply(k).name() for k in range(output.size())}
    assert {"variable", "month", "normal_grid"} <= built
    assert not built & {"lat", "lon", "normal_value"}
    (join,) = _plan_nodes(plan, "BroadcastHashJoin")
    keys = join.rightKeys()
    key_names = {
        n for k in range(keys.size()) for n in re.findall(r"(\w+)#\d+", keys.apply(k).toString())
    }
    assert key_names == {"variable", "month"}
    assert normals.count() == normals.select("variable", "month").distinct().count()
    assert normals.count() == len(VAR_OFFSETS) * 3  # the fixture's months 1-3


def test_stream_pipeline_drains_and_matches_closed_form(spark, landing, normals, tmp_path):
    out = str(tmp_path / "out")
    q = monthly_anomaly_query(
        spark,
        landing,
        normals,
        out,
        str(tmp_path / "ckpt"),
        str(tmp_path / "commits"),
        variables=["t2m", "precip"],
        available_now=True,
    )
    assert q.awaitTermination(180), "pipeline did not drain"

    got = spark.read.parquet(out)
    # 12 month partitions (1991-1994 × months 1-3), 2 variables, 8×8 grid.
    assert got.select("month_key").distinct().count() == 12
    assert got.count() == 12 * 2 * len(LATS) * len(LONS)

    # Closed-form anomaly: (year − 1991) − 1, identical for every
    # non-sentinel cell, variable and month.
    chk = (
        got.filter(F.col("lat") > LATS[0])  # exclude sentinel corner row
        .withColumn("expected", F.year("time") - F.lit(1991) - F.lit(1))
        .withColumn("err", F.abs(F.col("anomaly") - F.col("expected")))
    )
    assert chk.agg(F.max("err")).collect()[0][0] == pytest.approx(0.0)

    # Sentinel corner: value −9999 → NULL at the scan edge → NULL anomaly.
    corner = got.filter((F.col("lat") == LATS[0]) & (F.col("lon") == LONS[0]))
    assert corner.filter(F.col("value").isNotNull()).count() == 0
    assert corner.filter(F.col("anomaly").isNotNull()).count() == 0


def test_replayed_batch_converges_not_duplicates(spark, landing, normals, tmp_path):
    """T2: re-delivering a batch id must be a no-op (marker) and even a
    forced re-write must converge (dynamic partition overwrite)."""
    out = str(tmp_path / "out2")
    commits = str(tmp_path / "commits2")
    q = monthly_anomaly_query(
        spark, landing, normals, out, str(tmp_path / "ckpt2"), commits,
        variables=["t2m"], available_now=True,
    )
    assert q.awaitTermination(180)
    before = spark.read.parquet(out).count()

    # Re-deliver batch 0 through the sink object: marker short-circuits.
    from monitoring_data_ingestion_spark.streaming.sinks import IdempotentForeachBatch

    sink = IdempotentForeachBatch(commits, month_partitioned_writer(out))
    batch0 = anomaly_transform(
        spark.read.parquet(os.path.join(landing, "1991-01.parquet")), normals
    )
    sink(batch0, 0)  # committed marker exists → skipped
    assert spark.read.parquet(out).count() == before

    # Even a forced re-write of the same month converges to the same rows.
    month_partitioned_writer(out)(batch0.filter(F.col("variable") == "t2m"), 999)
    assert spark.read.parquet(out).count() == before


def test_quarantine_publish_coexists_and_replays_idempotently(spark):
    """The quarantine-through-publish flagship sibling under the real
    micro-batch engine: a torn month-file lands exactly one manifest
    row BESIDE the published dataset (the other 71 month/variable
    groups publish with full cell counts), and a second invocation in
    the same session — same checkpoint, same commit markers, same
    batch-keyed manifest slices — returns the identical result without
    re-publishing or duplicating anything."""
    from monitoring_data_ingestion_spark.plans import REGISTRY

    fn = REGISTRY["era5_grib_quarantine_publish"].fn
    first = fn(spark, "/root/testdata/sf0.001").collect()
    kinds = {}
    for r in first:
        kinds[r["kind"]] = kinds.get(r["kind"], 0) + 1
    assert kinds == {"published": 71, "quarantined": 1}
    q = [r for r in first if r["kind"] == "quarantined"]
    assert q[0]["variable"] is None and q[0]["n_rows"] == 1
    assert q[0]["time"].year == 2022 and q[0]["time"].month == 6
    # the torn month's OTHER variable (pre-tear record) still published
    pub_jun = [
        r for r in first
        if r["kind"] == "published"
        and r["time"].year == 2022 and r["time"].month == 6
    ]
    assert [(r["variable"], r["n_rows"]) for r in pub_jun] == [("t2m", 60)]
    # replay: checkpoint + commit markers + batch-keyed manifest
    # overwrite make the second run a pure read-back
    second = fn(spark, "/root/testdata/sf0.001").collect()
    assert second == first


def test_paced_trigger_rejects_available_now(spark, landing, normals, tmp_path):
    """months_per_trigger + available_now would silently truncate the
    backfill: AvailableNow fixes its end offset at query start, so a
    paced source drains exactly one increment and the query terminates
    'successfully' — the combination must stop loudly."""
    import pytest

    with pytest.raises(ValueError, match="silently truncate"):
        monthly_anomaly_query(
            spark, landing, normals,
            str(tmp_path / "out"), str(tmp_path / "ckpt"),
            str(tmp_path / "commit"),
            months_per_trigger=1, available_now=True,
        )


def _part_files(month_dir: str) -> list[str]:
    return [f for f in os.listdir(month_dir) if f.startswith("part-")]


def test_two_month_batch_publishes_both_partitions_and_replay_converges(
    spark, landing, normals, tmp_path
):
    """One task carrying two months (no shuffle groups them): each
    month_key partition receives exactly that month's rows, an earlier
    month's partition is left alone, and re-publishing the batch
    converges instead of duplicating."""
    out = str(tmp_path / "two_month_out")
    write = month_partitioned_writer(out)
    earlier = anomaly_transform(
        spark.read.parquet(os.path.join(landing, "1993-03.parquet")), normals
    )
    write(earlier, 0)
    batch = anomaly_transform(
        spark.read.parquet(*(
            os.path.join(landing, f"1994-0{m}.parquet") for m in (1, 2)
        )),
        normals,
    ).coalesce(1)
    expected = {
        key: sorted(
            batch.filter(F.date_format("time", "yyyy-MM") == key).collect()
        )
        for key in ("1994-01", "1994-02")
    }
    rows_per_month = len(VAR_OFFSETS) * len(LATS) * len(LONS)
    for batch_id in (1, 2):  # the second publish is a replay
        write(batch, batch_id)
        assert sorted(
            d for d in os.listdir(out) if d.startswith("month_key=")
        ) == ["month_key=1993-03", "month_key=1994-01", "month_key=1994-02"]
        for key, rows in expected.items():
            month_dir = os.path.join(out, f"month_key={key}")
            assert len(rows) == rows_per_month
            assert sorted(spark.read.parquet(month_dir).collect()) == rows
            assert len(_part_files(month_dir)) == 1  # one input task
        assert spark.read.parquet(
            os.path.join(out, "month_key=1993-03")
        ).count() == rows_per_month


def test_one_file_batch_publishes_without_a_shuffle_stage(
    spark, landing, normals, tmp_path
):
    """A one-file micro-batch (the maxFilesPerTrigger=1 shape) publishes
    in the stages a plain scan of the batch already runs: the write adds
    no exchange, and its single task writes one file per month."""
    normals.count()  # the broadcast side reads the materialized cache
    batch = anomaly_transform(
        spark.read.parquet(os.path.join(landing, "1994-03.parquet")), normals
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def stages(group: str, action) -> list[int]:
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return sorted(
            s
            for job in tracker.getJobIdsForGroup(group)
            for s in tracker.getJobInfo(job).stageIds
        )

    out = str(tmp_path / "one_file_out")
    scan = stages(
        f"scan-{tmp_path.name}", lambda: batch.write.format("noop").mode("overwrite").save()
    )
    publish = stages(
        f"publish-{tmp_path.name}", lambda: month_partitioned_writer(out)(batch, 0)
    )
    assert len(publish) == len(scan)
    assert tracker.getStageInfo(publish[-1]).numTasks == 1
    assert len(_part_files(os.path.join(out, "month_key=1994-03"))) == 1
