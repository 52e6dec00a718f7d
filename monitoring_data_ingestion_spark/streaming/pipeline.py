"""The reference's main loop as ONE Structured Streaming pipeline.

The reference wires: month-cursor source → variable select → sentinel
nodata → 30-year normals (cached per variable+month) → broadcast join →
anomaly subtract → atomic partitioned publish, with state committed only
after outputs (src/rabbit.js:28-61, src/sources/era5monthly.js:36-155).

Here the whole loop is a single ``readStream → transform → foreachBatch``
query over the ``gridmonths`` custom source (sources/python_datasource.py):

- the month cursor is the stream OFFSET (checkpointed, duplicate-safe);
- normals are a broadcast stream-static join keyed (lat, lon, variable,
  month-of-year) — the reference's (variable, month) memo generalized to
  a persisted table, refreshed outside the stream (T7);
- the sink is idempotent per micro-batch: month-keyed dynamic partition
  overwrite, then a commit marker (T2's output→state ordering) — a
  re-delivered batch overwrites the same partitions, so replays converge.

Scale posture: each micro-batch is one month of grid (|cells|×|vars|
rows) scanned executor-side via Arrow; the normals table is ~|cells|
rows — broadcast, so the join needs no shuffle, and the partitioned
write runs in the scan's own tasks (no exchange) — a micro-batch is one
narrow stage. A 1000-executor backfill uses the
BATCH reader over the same landing dir instead (one partition per month,
embarrassingly parallel), then flips to this paced stream at the head —
same transform, same sink, same layout.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..grid.ops import nodata_to_null
from .sinks import IdempotentForeachBatch
from ..sources.python_datasource import FORMAT_NAME, register


def monthly_normals(history: DataFrame, years: Sequence[int]) -> DataFrame:
    """Climatological normals for EVERY (cell, variable, calendar month):
    the reference's per-(variable, month) normal cache as one table
    (src/sources/era5monthly.js:126-155). Sentinels map to NULL first, so
    the mean excludes missing cells — CDO's ``-setmissval`` semantics
    (P5). One map-side-combined hash aggregate; output is
    ~|cells|×|vars|×12 rows — small enough to broadcast against any
    month's grid."""
    return (
        nodata_to_null(history)
        .filter(F.year("time").isin([int(y) for y in years]))
        .groupBy("lat", "lon", "variable", F.month("time").alias("month"))
        .agg(F.avg("value").alias("normal_value"))
    )


def anomaly_transform(stream: DataFrame, normals: DataFrame) -> DataFrame:
    """sentinel→NULL, then current − normal via broadcast stream-static
    equi-join on (lat, lon, variable, month-of-year)."""
    cur = nodata_to_null(stream).withColumn("month", F.month("time"))
    return (
        cur.join(F.broadcast(normals), ["lat", "lon", "variable", "month"], "left")
        .withColumn("anomaly", F.col("value") - F.col("normal_value"))
        .select("time", "lat", "lon", "variable", "value", "anomaly")
    )


def month_partitioned_writer(out_dir: str):
    """Idempotent month-keyed sink: dynamic partition overwrite means a
    replayed micro-batch rewrites exactly its own months (S7's atomic
    rename generalized to partition swaps).

    The batch is written as it arrives, without a shuffle: each input
    task writes one file into every ``month_key`` partition it holds.
    A one-file micro-batch (``maxFilesPerTrigger=1``) is one task, so
    each month partition gets one file."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("month_key", F.date_format("time", "yyyy-MM"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("month_key")
            .parquet(out_dir)
        )

    return write


def monthly_anomaly_query(
    spark: SparkSession,
    landing_dir: str,
    normals: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    commit_dir: str,
    *,
    variables: Sequence[str] | None = None,
    months_per_trigger: int | None = None,
    available_now: bool = False,
):
    """Assemble and start the full pipeline. ``months_per_trigger`` paces
    a ProcessingTime service loop (the reference's one-month-per-run
    contract); leave it None with ``available_now=True`` to drain a
    backfill and terminate."""
    if months_per_trigger is not None and available_now:
        # Trigger.AvailableNow captures ONE latestOffset at query start
        # as the fixed end; a paced source then drains exactly one
        # increment and the query terminates "successfully" having
        # published a fraction of the backfill — silent data loss.
        raise ValueError(
            "months_per_trigger cannot combine with available_now — "
            "AvailableNow fixes its end offset at start, so a paced "
            "source would silently truncate the backfill"
        )
    register(spark)
    reader = spark.readStream.format(FORMAT_NAME).option("path", landing_dir)
    if months_per_trigger is not None:
        reader = reader.option("maxMonthsPerTrigger", str(months_per_trigger))
    stream = reader.load()
    if variables:
        stream = stream.filter(F.col("variable").isin(list(variables)))
    result = anomaly_transform(stream, normals)
    sink = IdempotentForeachBatch(commit_dir, month_partitioned_writer(out_dir))
    writer = result.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
