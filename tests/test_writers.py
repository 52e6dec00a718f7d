"""Partitioned sink layer: layout, pruning, dynamic-partition idempotence,
csv/json interchange, compressed inventory bytes."""

from __future__ import annotations

import glob
import gzip
import json
import os

from pyspark.sql import functions as F

from monitoring_data_ingestion_spark.sources.readers import table
from monitoring_data_ingestion_spark.sources.writers import (
    compress_json_bytes,
    overwrite_partitions,
    read_partitioned,
    write_partitioned,
)

from .conftest import SF_SMOKE


def _events_with_month(spark):
    return table(spark, SF_SMOKE, "events").withColumn(
        "month", F.date_format("ts", "yyyy-MM-dd")
    )


def test_partitioned_parquet_layout_and_pruning(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _events_with_month(spark)
    write_partitioned(df, path, ["month"])
    months = sorted(
        os.path.basename(p).split("=")[1] for p in glob.glob(f"{path}/month=*")
    )
    assert len(months) >= 2
    back = read_partitioned(spark, path)
    assert back.count() == df.count()
    # A partition predicate must prune to one directory, not filter rows.
    pruned = back.filter(F.col("month") == months[0])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert pruned.count() == df.filter(F.col("month") == months[0]).count()
    assert "PartitionFilters: [isnotnull(month" in plan


def test_dynamic_partition_overwrite_is_idempotent(spark, tmp_path):
    """Re-writing one month replaces exactly that month (T2): other
    partitions untouched, re-run converges to the same state."""
    path = str(tmp_path / "t")
    df = _events_with_month(spark).select("event_id", "value", "month")
    write_partitioned(df, path, ["month"])
    months = sorted(r["month"] for r in df.select("month").distinct().collect())
    target = months[0]
    one = df.filter(F.col("month") == target).withColumn("value", F.lit(0.0))
    overwrite_partitions(one, path, ["month"])
    overwrite_partitions(one, path, ["month"])  # re-delivery
    back = read_partitioned(spark, path)
    assert back.count() == df.count()
    assert back.filter((F.col("month") == target) & (F.col("value") != 0.0)).count() == 0
    assert (
        back.filter(F.col("month") != target).count()
        == df.filter(F.col("month") != target).count()
    )


def test_csv_json_roundtrip(spark, tmp_path):
    src = table(spark, SF_SMOKE, "nation")
    for fmt in ("csv", "json"):
        path = str(tmp_path / fmt)
        write_partitioned(src, path, ["n_regionkey"], fmt=fmt, compression="gzip")
        back = read_partitioned(spark, path, fmt=fmt, schema=src.schema)
        assert sorted(r["n_name"] for r in back.collect()) == sorted(
            r["n_name"] for r in src.collect()
        )


def test_compress_json_bytes_roundtrip():
    obj = {"datasets": [{"name": "a", "start": "1959-01-01"}], "n": 3}
    payload, ext = compress_json_bytes(obj)
    assert ext in (".br", ".gz")
    if ext == ".gz":
        assert json.loads(gzip.decompress(payload)) == obj
    else:  # pragma: no cover - brotli not in this environment
        import brotli

        assert json.loads(brotli.decompress(payload)) == obj
    # compression actually happened
    assert len(payload) < len(json.dumps(obj).encode()) + 20


def test_atomic_publish_has_plain_file_mode(tmp_path):
    """A published file gets the same permissions as one made by a plain
    ``open(path, "w")`` in the same directory — readable by a downstream
    server running as another user wherever the umask allows it."""
    import stat

    from monitoring_data_ingestion_spark.ingest.sinks import write_json_atomically

    plain = tmp_path / "plain.json"
    with open(plain, "w") as f:
        f.write("{}")
    published = tmp_path / "state.json"
    write_json_atomically(str(published), {"a": 1})
    assert stat.S_IMODE(published.stat().st_mode) == stat.S_IMODE(plain.stat().st_mode)


def test_atomic_open_failure_keeps_old_file_and_leaves_no_temp(tmp_path):
    import pytest

    from monitoring_data_ingestion_spark.ingest.sinks import atomic_open

    path = tmp_path / "heart.json"
    path.write_bytes(b"old")
    with pytest.raises(RuntimeError):
        with atomic_open(str(path)) as f:
            f.write(b"half of the new")
            raise RuntimeError("writer died")
    assert path.read_bytes() == b"old"
    assert os.listdir(tmp_path) == ["heart.json"]
    with atomic_open(str(path)) as f:
        f.write(b"new")
    assert path.read_bytes() == b"new"
    assert os.listdir(tmp_path) == ["heart.json"]
