"""The reference's main loop as ONE Structured Streaming pipeline.

The reference wires: month-cursor source → variable select → sentinel
nodata → 30-year normals (cached per variable+month) → broadcast join →
anomaly subtract → atomic partitioned publish, with state committed only
after outputs (src/rabbit.js:28-61, src/sources/era5monthly.js:36-155).

Here the whole loop is a single ``readStream → transform → foreachBatch``
query over the ``gridmonths`` custom source (sources/python_datasource.py):

- the month cursor is the stream OFFSET (checkpointed, duplicate-safe);
- normals are one dense raster per (variable, calendar month) — the
  reference's (variable, month) memo and its grid-minus-grid ``cdo sub``
  (src/file-conversions.js:206-217) — persisted outside the stream (T7)
  and broadcast as |vars|×12 rows; each cell finds its normal by index
  arithmetic on the raster's lattice, not by a per-cell hash join;
- the sink is idempotent per micro-batch: month-keyed dynamic partition
  overwrite, then a commit marker (T2's output→state ordering) — a
  re-delivered batch overwrites the same partitions, so replays converge.

Scale posture: each micro-batch is one month of grid (|cells|×|vars|
rows) scanned executor-side via Arrow; the normals side is |vars|×12
rows of |cells| doubles each — broadcast, so the lookup needs no
shuffle and hashes no per-cell keys, and the partitioned write runs in
the scan's own tasks (no exchange) — a micro-batch is one narrow stage.
A 1000-executor backfill uses the
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


# A lattice axis may stray from its uniform position by this share of a
# step: a global 0.1 degree axis derived as ``mdeg / 1000.0`` strays by
# ~3e-13 steps, a Gaussian latitude axis (N12 to N640) by 0.006-0.014.
_AXIS_TOLERANCE = 1e-6


def _axis_step(axis):
    """Signed spacing of a sorted coordinate axis; 1.0 for a one-point
    axis, whose only slot is 0 whatever the step."""
    n = F.size(axis)
    return F.when(n > 1, (F.element_at(axis, -1) - axis[0]) / (n - 1)).otherwise(F.lit(1.0))


def _uniform(axis, step):
    """Every coordinate within ``_AXIS_TOLERANCE`` steps of ``axis[0] +
    k*step``. False for NaN or infinite coordinates: the step or the
    deviation is then NaN or infinite, which fails ``<``."""
    deviation = F.array_max(F.transform(axis, lambda x, k: F.abs(x - (axis[0] + k * step))))
    return (F.abs(step) < F.lit(float("inf"))) & (deviation < F.abs(step) * _AXIS_TOLERANCE)


def _slot(coord, axis, step):
    """The axis index nearest ``coord``, or NULL outside the axis (NULL,
    NaN and infinite coordinates included: NaN compares above every
    number). The int cast only ever sees an in-range value, so ANSI mode
    never trips on it."""
    k = F.rint((coord - axis[0]) / step)
    return F.when((k >= 0) & (k < F.size(axis)), k).cast("int")


def monthly_normals(history: DataFrame, years: Sequence[int]) -> DataFrame:
    """Climatological normals as one dense raster per (variable, calendar
    month): the reference's per-(variable, month) normal cache
    (src/sources/era5monthly.js:126-155), laid out like the grid the
    reference subtracts it from.

    Each row holds ``lat_axis`` (descending) and ``lon_axis`` (ascending),
    their signed steps ``lat_step``/``lon_step``, and ``normal_grid``, the
    row-major ``array<double>`` whose slot ``j*len(lon_axis) + i`` is the
    normal of cell (``lat_axis[j]``, ``lon_axis[i]``). Sentinels map to
    NULL first, so the mean excludes missing cells — CDO's
    ``-setmissval`` semantics (P5) — and a cell with no data in any year
    holds a NULL normal. Every normal is the per-cell ``avg`` the
    relational form computes; one more aggregation gathers each
    (variable, month)'s cells into its raster. Cells with a NULL key are
    left out: no equi-join could ever match them.

    Lazy, like any DataFrame: callers ``persist()`` it, because a
    stream-static join re-evaluates its static side on every trigger.
    Normals that are not a full, uniformly spaced lattice raise an
    error naming the (variable, month) when they materialize."""
    cells = (
        nodata_to_null(history)
        .filter(F.year("time").isin([int(y) for y in years]))
        .groupBy("lat", "lon", "variable", F.month("time").alias("month"))
        .agg(F.avg("value").alias("normal_value"))
        .dropna(subset=["lat", "lon", "variable", "month"])
    )
    rasters = cells.groupBy("variable", "month").agg(
        # (-lat, lon) ascending is row-major: north to south, west to east
        F.sort_array(
            F.collect_list(F.struct((-F.col("lat")).alias("neg_lat"), "lon", "normal_value"))
        ).alias("cells"),
        F.sort_array(F.collect_set("lat"), asc=False).alias("lat_axis"),
        F.sort_array(F.collect_set("lon")).alias("lon_axis"),
    )
    lat_step = _axis_step(F.col("lat_axis"))
    lon_step = _axis_step(F.col("lon_axis"))
    # (lat, lon) pairs are unique group keys drawn from the two axes, so
    # a count of |lat|×|lon| means every lattice point is present once.
    lattice = (
        (F.size("cells") == F.size("lat_axis") * F.size("lon_axis"))
        & _uniform(F.col("lat_axis"), lat_step)
        & _uniform(F.col("lon_axis"), lon_step)
    )
    not_lattice = F.raise_error(
        F.format_string(
            "normals for (variable=%s, month=%d) are not a full, uniformly spaced "
            "lat/lon lattice: %d cells over %d lats x %d lons",
            "variable", "month", F.size("cells"), F.size("lat_axis"), F.size("lon_axis"),
        )
    )
    return rasters.where(F.when(lattice, F.lit(True)).otherwise(not_lattice)).select(
        "variable",
        "month",
        "lat_axis",
        "lon_axis",
        lat_step.alias("lat_step"),
        lon_step.alias("lon_step"),
        F.transform("cells", lambda c: c["normal_value"]).alias("normal_grid"),
    )


def anomaly_transform(stream: DataFrame, normals: DataFrame) -> DataFrame:
    """sentinel→NULL, then current − normal: a broadcast stream-static
    join on (variable, month-of-year) to ``monthly_normals``' rasters
    (|vars|×12 rows), then each cell's slot by index arithmetic. A slot
    counts only when its axis coordinates equal the cell's exactly, so
    the result is the per-cell left join on (lat, lon, variable, month)
    bit for bit: a cell off the lattice, or with no normals for its
    (variable, month), gets a NULL anomaly."""
    cur = nodata_to_null(stream).withColumn("month", F.month("time"))
    j = _slot(F.col("lat"), F.col("lat_axis"), F.col("lat_step"))
    i = _slot(F.col("lon"), F.col("lon_axis"), F.col("lon_step"))
    on_lattice = (F.col("lat_axis")[j] == F.col("lat")) & (F.col("lon_axis")[i] == F.col("lon"))
    normal = F.when(on_lattice, F.col("normal_grid")[j * F.size("lon_axis") + i])
    return cur.join(F.broadcast(normals), ["variable", "month"], "left").select(
        "time", "lat", "lon", "variable", "value", (F.col("value") - normal).alias("anomaly")
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
