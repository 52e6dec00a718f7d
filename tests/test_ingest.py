"""Golden pipeline tests (SURVEY.md §5.3/§5.5): state evolution across
runs, idempotent crash-resume, empty-batch short-circuit, publish sinks."""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from monitoring_data_ingestion_spark.ingest import IngestScheduler, SourceState, StateStore
from monitoring_data_ingestion_spark.ingest.gridded_source import (
    GriddedMonthlySource,
    layer_name,
)
from monitoring_data_ingestion_spark.ingest.runner import NoUpdateNeeded

from .gridfix import BASE_YEAR, DATASETS, LATS, LONS, cell_value, write_fixture


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("ingest")
    landing = str(root / "landing")
    out = str(root / "out")
    write_fixture(spark, landing, years=range(1991, 1994), months=range(1, 13))
    src = GriddedMonthlySource(
        name="gridsource",
        landing_dir=landing,
        output_root=out,
        normal_years=range(1991, 1994),
        epoch="1993-01-01",
    )
    store = StateStore(out)
    return src, store


def test_three_run_state_evolution(spark, env):
    src, store = env
    sched = IngestScheduler(spark, store)
    for expected_month in ("1993-01", "1993-02", "1993-03"):
        run = sched.run_once(src, DATASETS)
        assert run.ok and not run.skipped, run.error
        assert store.load_source("gridsource").date == expected_month

    # Non-anomaly output: value passthrough (with corner nodata → NULL).
    out = spark.read.parquet(
        os.path.join(src.output_root, "gridsource_temperature_2_m", "month=1993-01")
    )
    got = {
        (r.lat, r.lon): r.value
        for r in out.collect()
    }
    assert got[(LATS[1], LONS[1])] == cell_value(LATS[1], LONS[1], 1993, 1, "t2m")
    assert got[(LATS[0], LONS[0])] is None  # sentinel mapped to NULL

    # Unit-scaled output (m → mm).
    precip = spark.read.parquet(
        os.path.join(src.output_root, "gridsource_precipitation_1_day", "month=1993-02")
    )
    row = precip.filter((F.col("lat") == LATS[2]) & (F.col("lon") == LONS[3])).first()
    assert row.value == pytest.approx(cell_value(LATS[2], LONS[3], 1993, 2, "precip") * 1000.0)

    # Anomaly output: closed form (year−base) − mean(0,1,2) = 2 − 1 = 1.
    anom = spark.read.parquet(
        os.path.join(src.output_root, "gridsource_temperature_2_m_anomaly", "month=1993-03")
    )
    arow = anom.filter((F.col("lat") == LATS[4]) & (F.col("lon") == LONS[5])).first()
    assert arow.value == pytest.approx((1993 - BASE_YEAR) - 1.0)

    # Normals were memoized into state (T7).
    st = store.load_source("gridsource")
    assert "t2m" in st.normals and "3" in st.normals["t2m"]

    # Publish sinks: metadata min/max accumulated, inventory merged.
    md = json.load(
        open(os.path.join(src.output_root, "gridsource_temperature_2_m", "metadata.json"))
    )
    assert md["start"].startswith("1993-01") and md["end"].startswith("1993-03")
    inv = json.load(open(os.path.join(src.output_root, "inventory.json")))
    assert {e["layer_name"] for e in inv} == {
        "gridsource_temperature_2_m",
        "gridsource_precipitation_1_day",
        "gridsource_temperature_2_m_anomaly",
    }
    assert os.path.exists(os.path.join(src.output_root, "heart.json"))
    assert os.path.exists(os.path.join(src.output_root, "state.json"))


def test_crash_resume_idempotent(spark, env):
    """Kill between output write and state commit (T2): the re-run must
    reproduce identical outputs and only then advance the cursor."""
    src, store = env
    sched = IngestScheduler(spark, store)
    crashing = CrashAfterOutputsFactory(src)
    run = IngestScheduler(spark, store, max_retries=0).run_once(crashing, DATASETS)
    assert not run.ok and "injected crash" in run.error
    # Cursor did NOT advance.
    assert store.load_source("gridsource").date == "1993-03"

    # Re-run for real: month 1993-04 publishes once, state advances.
    run2 = sched.run_once(src, DATASETS)
    assert run2.ok
    assert store.load_source("gridsource").date == "1993-04"
    out = spark.read.parquet(
        os.path.join(src.output_root, "gridsource_temperature_2_m", "month=1993-04")
    )
    assert out.count() == len(LATS) * len(LONS)


def CrashAfterOutputsFactory(src):
    class Crashing:
        name = src.name

        def forage(self, spark_, state, datasets):
            src.forage(spark_, state, datasets)  # outputs written
            raise RuntimeError("injected crash after outputs, before commit")

    return Crashing()


def test_head_of_stream_short_circuit(spark, env):
    """T3: past the last landing month, forage raises NoUpdateNeeded and
    the scheduler records a skip, keeping the cursor."""
    src, store = env
    sched = IngestScheduler(spark, store)
    runs = sched.run_until_head(src, DATASETS, max_batches=100)
    assert runs[-1].skipped
    assert store.load_source("gridsource").date == "1993-12"
    # A further run is a clean skip, not an error.
    run = sched.run_once(src, DATASETS)
    assert run.ok and run.skipped


def test_retry_wrapper(spark, tmp_path):
    """T4: failed runs retry with delay; success stops the loop."""
    store = StateStore(str(tmp_path / "retry_out"))
    attempts = []

    class Flaky:
        name = "flaky"

        def forage(self, spark_, state, datasets):
            attempts.append(1)
            if len(attempts) < 3:
                raise RuntimeError("transient")
            raise NoUpdateNeeded("done")

    sleeps = []
    sched = IngestScheduler(
        spark, store, retry_delay_s=5.0, max_retries=5, sleep=sleeps.append
    )
    run = sched.run_with_retry(Flaky(), [])
    assert run.ok and run.skipped
    assert len(attempts) == 3
    assert sleeps == [5.0, 5.0]


# ---------------------------------------------------------------------------
# One-write publish: every layer of a month in one Spark write, swapped in.
# ---------------------------------------------------------------------------

LAYERS = [layer_name(ds["filename"]) for ds in DATASETS]


def _fresh_source(env, tmp_path) -> GriddedMonthlySource:
    """A source over the shared landing with its own, empty output root."""
    return GriddedMonthlySource(
        name="gridsource",
        landing_dir=env[0].landing_dir,
        output_root=str(tmp_path / "out"),
        normal_years=range(1991, 1994),
        epoch="1993-01-01",
    )


def test_empty_layer_publishes_its_columns(spark, env, tmp_path):
    """A dataset whose variable is absent from the landing month has no
    rows, so the partitioned write makes no directory for it; the month
    still publishes, readable, with the other layers' columns and types."""
    src = _fresh_source(env, tmp_path)
    absent = {"filename": "gridsource-absent", "variable": "no_such_variable"}
    result = src.forage(spark, SourceState(), DATASETS + [absent])
    assert result.metadatas[-1]["layer_name"] == "gridsource_absent"
    empty = spark.read.parquet(os.path.join(src.output_root, "gridsource_absent", "month=1993-01"))
    full = spark.read.parquet(
        os.path.join(src.output_root, "gridsource_temperature_2_m", "month=1993-01")
    )
    assert empty.count() == 0
    assert sorted(empty.dtypes) == sorted(full.dtypes)
    assert {c for c, _ in full.dtypes} == {"time", "lat", "lon", "variable", "value"}


@pytest.mark.parametrize("column", ["value", "variable"])
def test_landing_file_missing_a_column_fails_by_name(spark, tmp_path, column):
    """The landing scan reads with the declared contract; a file without a
    contract column fails the run naming it instead of reading NULLs."""
    landing = str(tmp_path / "landing")
    spark.createDataFrame(
        [(datetime(1993, 1, 1, tzinfo=timezone.utc), LATS[1], LONS[1], "t2m", 1.0)],
        "time timestamp, lat double, lon double, variable string, value double",
    ).drop(column).write.parquet(os.path.join(landing, "1993-01.parquet"))
    src = GriddedMonthlySource(
        name="broken", landing_dir=landing, output_root=str(tmp_path / "out"), epoch="1993-01-01"
    )
    run = IngestScheduler(spark, StateStore(src.output_root), max_retries=0).run_once(
        src, DATASETS[:1]
    )
    assert not run.ok
    assert f"lacks column(s) ['{column}']" in run.error
    assert StateStore(src.output_root).load_source("broken").date is None


@pytest.mark.parametrize("fail_in", ["write", "swap"])
def test_failed_republish_keeps_last_good_month(spark, env, tmp_path, monkeypatch, fail_in):
    """Republish a published month with a failure injected after the
    staged write, or inside the swap after the first layer moved in: the
    previous month's files and values stay, no staging or ``.__old-*``
    litter is left, and a clean re-run converges to the same values."""
    import monitoring_data_ingestion_spark.ingest.sinks as sinks
    from pyspark.sql import DataFrameWriter

    src = _fresh_source(env, tmp_path)
    state = SourceState()
    src.forage(spark, state, DATASETS)

    def month(layer):
        d = os.path.join(src.output_root, layer, "month=1993-01")
        rows = spark.read.parquet(d).orderBy("lat", "lon").collect()
        return sorted(f for f in os.listdir(d) if f.startswith("part-")), rows

    before = {layer: month(layer) for layer in LAYERS}
    if fail_in == "write":
        real_parquet = DataFrameWriter.parquet

        def failing_parquet(self, path, *args, **kwargs):
            real_parquet(self, path, *args, **kwargs)
            raise RuntimeError("injected write failure")

        monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
    else:
        real_rename = os.rename
        moved_in = []

        def failing_rename(src_, dst):
            if ".staging-" in src_:
                moved_in.append(dst)
                if len(moved_in) == 2:
                    raise OSError("injected swap failure")
            real_rename(src_, dst)

        monkeypatch.setattr(sinks.os, "rename", failing_rename)
    with pytest.raises((RuntimeError, OSError), match="injected"):
        src.forage(spark, SourceState(normals=state.normals), DATASETS)
    monkeypatch.undo()

    assert {layer: month(layer) for layer in LAYERS} == before
    litter = [
        name
        for _, dirs, files in os.walk(src.output_root)
        for name in dirs + files
        if ".staging-" in name or ".__old-" in name
    ]
    assert litter == []
    src.forage(spark, SourceState(normals=state.normals), DATASETS)
    after = {layer: month(layer) for layer in LAYERS}
    for layer in LAYERS:
        assert after[layer][1] == before[layer][1]
        assert after[layer][0] != before[layer][0]  # a new publish, not the old files


def test_forage_runs_broadcast_and_write_jobs_only(spark, env, tmp_path):
    """With the month's normal memoized, one forage submits at most two
    Spark jobs: the normal's broadcast and the one write of every layer.
    Both scans read declared schemas, so no footer job runs."""
    src = _fresh_source(env, tmp_path)
    state = SourceState()
    src.get_normal(spark, state, "t2m", 1)
    sc = spark.sparkContext
    group = f"forage-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        src.forage(spark, state, DATASETS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 2, jobs
