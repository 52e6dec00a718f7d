"""Table readers for the engine's relational fixtures.

The reference's "scan" layer is file-at-a-time GRIB extraction
(/root/reference/src/file-conversions.js:114-156); here every scan is a
``spark.read.parquet`` so Catalyst gets predicate pushdown + column pruning
for free (SURVEY.md §4). At 100 TB the same call reads a partitioned
table layout — nothing in the query layer changes.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

from ..session_cache import memo_plan

# The fixture star schema + stream + LLM-pipeline tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def nanos_ts_cols(spark: SparkSession, path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS) (Spark can't scan them
    natively — the engine normalizes at the scan edge, like the reference's
    nodata-sentinel mapping, SURVEY §2.2 P5). Reads the footer; when any
    exist, switches the session to reading them as nanos-longs."""
    try:
        import pyarrow.parquet as pq
        import pyarrow as pa
    except ImportError:  # pragma: no cover
        return ()
    target = path
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            return ()
        target = parts[0]
    try:
        schema = pq.read_schema(target)
    except Exception:  # pragma: no cover
        return ()
    nanos = tuple(
        f.name for f in schema if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return nanos


def normalize_scan_edge(df: DataFrame, nanos: tuple[str, ...]) -> DataFrame:
    """The engine's timestamp contract at the scan edge, shared by the batch
    reader and the events stream so both see identical values.

    ``nanos`` columns (read as nanos-longs, see :func:`nanos_ts_cols`)
    become microsecond timestamps, truncating like DuckDB/Arrow µs
    semantics. Parquet micros without isAdjustedToUTC infer as
    TIMESTAMP_NTZ, which watermarks and epoch arithmetic reject; those
    are cast to TIMESTAMP — wall-clock values are preserved (cast
    interprets and renders in the session timezone).
    """
    for c in nanos:
        # Integer division: float division would lose precision at ~1e18 ns.
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Lazy: no data moves until an action.

    The handle is memoized per session on the table's file fingerprint
    (session_cache.memo_plan): building it lists the path and reads
    footers (75-400 ms at sf0.1), and query builds re-scan the same
    tables many times. Scan-edge normalization: :func:`normalize_scan_edge`.
    """
    path = f"{sf_dir}/{name}.parquet"

    def scan() -> DataFrame:
        nanos = nanos_ts_cols(spark, path)
        return normalize_scan_edge(spark.read.parquet(path), nanos)

    return memo_plan(spark, "scan", scan, path)


def tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(table(spark, sf_dir, n) for n in names)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
