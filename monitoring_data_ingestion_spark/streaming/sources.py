"""Streaming sources: file streams over landing directories.

The reference discovers work by watching a directory
(/root/reference/src/main.js:7-11); the Spark-native form is
``spark.readStream`` over a landing path — each newly arrived file becomes
part of the next micro-batch, with exactly-once tracking in the checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..sources.readers import nanos_ts_cols, normalize_scan_edge


def file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
    path_glob: str | None = None,
    max_files_per_trigger: int | None = None,
    max_file_age: str = "36500d",
) -> DataFrame:
    """Generic landing-directory stream with an explicit schema (streaming
    scans never infer — schema drift must fail loudly, not silently).

    ``max_files_per_trigger`` bounds micro-batch size — the streaming
    analogue of the reference's one-month-per-run pacing (T1). At scale it
    is the knob that keeps a backfill from turning into one giant batch.
    """
    # FileStreamSource's default maxFileAge (7 days, measured against
    # the NEWEST file seen) silently drops late-landed files whose
    # mtimes are old — rsync/cp -p backfills into a watched landing
    # directory are exactly that shape, so the landing pattern defaults
    # to effectively-unbounded age and lets callers override.
    reader = (
        spark.readStream.schema(schema)
        .format(fmt)
        .option("maxFileAge", max_file_age)
    )
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture as an unbounded stream, normalized at the scan
    edge by the batch reader's own :func:`normalize_scan_edge`: a query
    moved from batch to streaming sees identical values, and watermarks
    get instant-typed event time.
    """
    path = f"{sf_dir}/events.parquet"
    nanos = nanos_ts_cols(spark, path)
    raw_schema = spark.read.parquet(path).schema
    stream = file_stream(spark, sf_dir, raw_schema, path_glob="events.parquet")
    return normalize_scan_edge(stream, nanos)
