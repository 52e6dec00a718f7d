"""Small-file compaction (operators/compaction.py): plan arithmetic, data
equality through the rewrite, atomic swap, per-partition independence."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from monitoring_data_ingestion_spark.operators.compaction import (
    _data_files,
    compact_parquet,
    compact_partitioned,
    compaction_plan,
)


def _fragmented(spark, path, n_files=24, rows=2400):
    df = spark.range(rows).withColumn("v", F.col("id") * 2)
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    return df


def test_plan_counts_files_and_targets(spark, tmp_path):
    path = str(tmp_path / "t")
    _fragmented(spark, path)
    plan = compaction_plan(path, target_mb=128)
    assert plan.n_files == 24
    assert plan.target_files == 1  # tiny data → one file
    assert plan.worth_it


def test_plan_skips_already_compact(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(100).coalesce(1).write.mode("overwrite").parquet(path)
    plan = compaction_plan(path, target_mb=128)
    assert plan.n_files == 1 and not plan.worth_it
    # compact_parquet honors the short-circuit: nothing rewritten.
    before = _data_files(path)
    compact_parquet(spark, path, target_mb=128)
    assert _data_files(path) == before


def test_compact_preserves_data_and_shrinks_files(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _fragmented(spark, path)
    plan = compact_parquet(spark, path, target_mb=128)
    assert plan.worth_it
    files = _data_files(path)
    assert len(files) == 1
    back = spark.read.parquet(path)
    assert back.count() == 2400
    assert back.agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]
    # No leftover staging/trash dirs.
    assert [d for d in os.listdir(tmp_path) if "__" in d] == []


def test_compact_partitioned_per_partition(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(1000).withColumn("part", (F.col("id") % 3).cast("int"))
    df.repartition(10).write.partitionBy("part").mode("overwrite").parquet(path)
    results = compact_partitioned(spark, path, target_mb=128)
    assert sorted(results) == ["part=0", "part=1", "part=2"]
    for sub, plan in results.items():
        assert len(_data_files(os.path.join(path, sub))) == 1, sub
    back = spark.read.parquet(path)
    assert back.count() == 1000
    assert back.select("part").distinct().count() == 3


def test_swap_failure_rolls_back(spark, tmp_path, monkeypatch):
    """If the second rename fails, the original directory must be
    restored — a crashed compaction never leaves the table missing."""
    import monitoring_data_ingestion_spark.operators.compaction as comp

    path = str(tmp_path / "t")
    _fragmented(spark, path, n_files=4, rows=400)

    real_rename = os.rename
    calls = {"n": 0}

    def failing_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:  # the staging→path promotion
            raise OSError("injected failure")
        real_rename(src, dst)

    monkeypatch.setattr(comp.os, "rename", failing_rename)
    try:
        comp.compact_parquet(spark, path, target_mb=128)
        raised = False
    except OSError:
        raised = True
    assert raised
    # Original data intact at the original path, no staging/trash litter.
    assert spark.read.parquet(path).count() == 400
    assert [d for d in os.listdir(tmp_path) if "__" in d] == []


def test_partitioned_root_refuses_flattening(spark, tmp_path):
    """compact_parquet on a hive-partitioned root would silently rewrite
    partition columns into data files — it must raise and point at
    compact_partitioned instead."""
    import pytest
    from pyspark.sql import functions as F

    from monitoring_data_ingestion_spark.operators.compaction import compact_parquet
    from monitoring_data_ingestion_spark.sources.readers import table

    from .conftest import SF_SMOKE

    root = str(tmp_path / "part_table")
    table(spark, SF_SMOKE, "nation").withColumn(
        "rk", F.col("n_regionkey")
    ).write.partitionBy("rk").parquet(root)
    with pytest.raises(ValueError, match="compact_partitioned"):
        compact_parquet(spark, root)


def test_recover_compaction_restores_stranded_swap(spark, tmp_path):
    """A hard kill between the two swap renames strands the table under
    .__old-*; recover_compaction must rename it back, and be a no-op on a
    healthy table."""
    from monitoring_data_ingestion_spark.operators.compaction import (
        recover_compaction,
    )
    from monitoring_data_ingestion_spark.sources.readers import table

    from .conftest import SF_SMOKE

    path = str(tmp_path / "t")
    table(spark, SF_SMOKE, "region").write.parquet(path)
    n = spark.read.parquet(path).count()
    assert recover_compaction(path) is False  # healthy: no-op
    # simulate the crash window: first rename done, second never happened
    os.rename(path, f"{path}.__old-deadbeef")
    assert recover_compaction(path) is True
    assert spark.read.parquet(path).count() == n
    assert recover_compaction(path) is False


# ---------------------------------------------------------------------------
# Manifest-backed compaction (compact_versioned): no swap window exists.
# ---------------------------------------------------------------------------


def _fragmented_versioned(spark, root, n_files=8, rows=800):
    from monitoring_data_ingestion_spark.sources.versioned import VersionedTable

    vt = VersionedTable(str(root))
    df = spark.range(rows).withColumn("v", F.col("id") * 3)
    vt.commit(df.repartition(n_files), batch_id="seed")
    return vt


def test_compact_versioned_shrinks_files_keeps_data_and_history(spark, tmp_path):
    from monitoring_data_ingestion_spark.operators.compaction import compact_versioned

    vt = _fragmented_versioned(spark, tmp_path / "vt")
    v1_files = vt._resolve(None).n_files
    assert v1_files == 8
    plan = compact_versioned(spark, vt, target_mb=128)
    assert plan.worth_it and plan.n_files == 8 and plan.target_files == 1
    latest = vt._resolve(None)
    assert latest.n_files == 1
    assert vt.read(spark).count() == 800
    assert vt.read(spark).agg(F.sum("v")).first()[0] == sum(i * 3 for i in range(800))
    # Pre-compaction snapshot still time-travels (its files were not touched).
    assert vt.read(spark, version=1).count() == 800
    # Re-running on an already-compact snapshot is a no-op plan.
    again = compact_versioned(spark, vt, target_mb=128)
    assert not again.worth_it
    assert vt.latest_version() == 2


def test_compact_versioned_crash_has_no_missing_path_window(spark, tmp_path, monkeypatch):
    """Kill the compaction at its commit point (the manifest link claim
    — the exact analogue of compact_parquet's between-renames window).
    The table must stay fully readable at every moment WITHOUT any
    recovery scan: the latest manifest still points at the intact old
    snapshot. (r7: the commit point moved from os.rename to the atomic
    os.link claim, so the crash injects there.)"""
    import monitoring_data_ingestion_spark.sources.versioned as versioned_mod
    from monitoring_data_ingestion_spark.operators.compaction import compact_versioned

    vt = _fragmented_versioned(spark, tmp_path / "vt")

    real_link = os.link

    def crashing_link(src, dst):
        if versioned_mod._MANIFEST_DIR in str(dst):
            raise OSError("injected crash at the commit point")
        real_link(src, dst)

    monkeypatch.setattr(versioned_mod.os, "link", crashing_link)
    try:
        compact_versioned(spark, vt, target_mb=128)
        crashed = False
    except OSError:
        crashed = True
    assert crashed
    # No recovery call, no re-listing — the table reads immediately.
    assert vt.read(spark).count() == 800
    assert vt.latest_version() == 1
    monkeypatch.setattr(versioned_mod.os, "link", real_link)
    # Retry completes; the orphaned rewrite from the crash is vacuumable.
    plan = compact_versioned(spark, vt, target_mb=128)
    assert plan.worth_it
    assert vt.read(spark).count() == 800
    assert vt._resolve(None).n_files == 1
    assert vt.vacuum()  # the crashed attempt's unreferenced files


def test_compact_versioned_idempotent_per_snapshot(spark, tmp_path):
    """A retried compaction of the same source snapshot must dedupe on its
    derived batch id instead of committing the rewrite twice."""
    from monitoring_data_ingestion_spark.operators.compaction import compact_versioned
    from monitoring_data_ingestion_spark.sources.versioned import VersionedTable

    vt = _fragmented_versioned(spark, tmp_path / "vt")
    compact_versioned(spark, vt, target_mb=128)
    v = vt.latest_version()
    # Simulate a redelivered maintenance job for source version 1.
    vt.commit(vt.read(spark).coalesce(1), batch_id="__compaction-of-v1")
    assert vt.latest_version() == v  # no new version created
