"""A gridded monthly source: the reference's ERA5 pipeline, Spark-first.

Mirrors `forage(current_state, datasets)` of
/root/reference/src/sources/era5monthly.js:36-124 end-to-end:

  cursor advance (one month, epoch 1959-01-01)      → T1
  availability check → NoUpdateNeeded               → T3
  one declared-schema scan for all datasets         → scan sharing, §4
  per-dataset: record select → clip → scale         → P1/P4/F1
  anomaly datasets: memoized climatological normal  → T7/A1/J1/J2/F2
  one partitioned write, layers swapped into place  → S6/S7
  new state {date, last_updated, normals}           → T2

The "CDS download" is a landing directory of monthly parquet files (the
acquisition client in sources/cds.py fills such a directory in a real
deployment); forage itself is pure Spark from there on.

A month costs two Spark jobs once its normals are memoized: the normal's
broadcast and one write.  Every dataset's frame is one branch of a single
union, written with ``partitionBy`` into a hidden staging directory under
``output_root``; ``sinks.swap_dirs`` then moves each layer's partition to
``{output_root}/{layer}/month={YYYY-MM}``, so a failed write or swap keeps
the last good month.  The landing and normal scans read with declared
schemas, so no job reads a footer to infer one; the landing files'
column names are checked driver-side with ``pyarrow`` instead, since a
declared schema would read a missing column as NULLs.
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone
from functools import reduce
from typing import Any, Sequence

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions.strings import layer_name as _layer_name_col
from ..grid.model import GRID_SCHEMA
from ..grid.ops import (
    anomaly,
    clip_polygon,
    climatological_normal,
    nodata_to_null,
    record_select,
    scale_values,
)
from ..sources.python_datasource import _month_files
from .runner import ForageResult, NoUpdateNeeded
from .sinks import swap_dirs
from .state import SourceState, typical_metadata

EPOCH = "1959-01-01"

# A memoized normal as ``climatological_normal`` builds it.
NORMAL_SCHEMA = "lat double, lon double, variable string, normal_value double"


def layer_name(dataset_filename: str) -> str:
    """`-` → `_` (src/rabbit.js:38-39); driver-side twin of the column fn."""
    return dataset_filename.replace("-", "_")


def _month_iso(dt: datetime) -> str:
    return dt.strftime("%Y-%m")


def _add_month(dt: datetime) -> datetime:
    y, m = dt.year + dt.month // 12, dt.month % 12 + 1
    return dt.replace(year=y, month=m)


@dataclass
class GriddedMonthlySource:
    """One instance per upstream source (plugin-module equivalent)."""

    name: str
    landing_dir: str  # monthly parquet drops: {landing}/{YYYY-MM}.parquet
    output_root: str
    normal_years: Sequence[int] = field(default_factory=lambda: list(range(1991, 2021)))
    epoch: str = EPOCH

    # -- acquisition boundary ---------------------------------------------
    def _month_path(self, dt: datetime) -> str:
        return os.path.join(self.landing_dir, f"{_month_iso(dt)}.parquet")

    def _available(self, dt: datetime) -> bool:
        return os.path.exists(self._month_path(dt))

    def _scan(self, spark: SparkSession, months: list[datetime]) -> DataFrame:
        """Landing months read under the landing contract, ``GRID_SCHEMA``.
        A file missing a contract column fails here, by name, rather than
        reading NULLs."""
        for dt in months:
            for f in _month_files(self.landing_dir, _month_iso(dt)):
                names = set(pq.read_schema(f).names)
                missing = [c for c in GRID_SCHEMA.fieldNames() if c not in names]
                if missing:
                    raise ValueError(f"landing file {f} lacks column(s) {missing}")
        paths = [self._month_path(dt) for dt in months]
        return nodata_to_null(spark.read.schema(GRID_SCHEMA).parquet(*paths))

    # -- normals memoization (T7) -----------------------------------------
    def _normal_path(self, variable: str, month: int) -> str:
        return os.path.join(self.output_root, "_normals", variable, f"month={month:02d}")

    def get_normal(
        self, spark: SparkSession, state: SourceState, variable: str, month: int
    ) -> DataFrame:
        """Cache-or-build the (variable, month) climatological normal
        (src/sources/era5monthly.js:129-155): on miss, scan all
        same-month years in one pass, aggregate, persist as parquet, and
        record the path in state.normals[variable][month]."""
        cached = state.normals.get(variable, {}).get(str(month))
        if cached and os.path.exists(cached):
            return spark.read.schema(NORMAL_SCHEMA).parquet(cached)
        years = [datetime(y, month, 1, tzinfo=timezone.utc) for y in self.normal_years]
        years = [dt for dt in years if self._available(dt)]
        if not years:
            raise FileNotFoundError(f"no history for normal ({variable}, month {month})")
        history = self._scan(spark, years)
        normal = climatological_normal(history, month, self.normal_years, variable)
        out = self._normal_path(variable, month)
        normal.write.mode("overwrite").parquet(out)
        state.normals.setdefault(variable, {})[str(month)] = out
        return spark.read.schema(NORMAL_SCHEMA).parquet(out)

    def _publish(self, layers: dict[str, DataFrame], month_iso: str) -> None:
        """S7: write every layer's frame in one job, partitioned by its
        position (an integer needs none of Spark's path escaping), into a
        hidden staging directory, then swap each partition in as
        ``{layer}/month={month_iso}``.  Spark writes no partition for an
        empty frame; such a layer gets one empty file with the columns,
        as a plain write of it would."""
        if not layers:
            return
        union = reduce(
            DataFrame.unionByName,
            (df.withColumn("layer", F.lit(i)) for i, df in enumerate(layers.values())),
        )
        staging = os.path.join(self.output_root, f".staging-{uuid.uuid4().hex}")
        parts = [os.path.join(staging, f"layer={i}") for i in range(len(layers))]
        try:
            union.write.partitionBy("layer").parquet(staging)
            for part in parts:
                if not os.path.isdir(part):
                    os.makedirs(part)
                    empty = to_arrow_schema(union.drop("layer").schema).empty_table()
                    pq.write_table(empty, os.path.join(part, "part-00000.parquet"))
            swap_dirs(
                [
                    (part, os.path.join(self.output_root, layer, f"month={month_iso}"))
                    for part, layer in zip(parts, layers)
                ]
            )
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    # -- the batch --------------------------------------------------------
    def forage(
        self, spark: SparkSession, state: SourceState, datasets: list[dict[str, Any]]
    ) -> ForageResult:
        # T1: advance the cursor exactly one month (epoch on first run).
        if state.date:
            dt = _add_month(datetime.strptime(state.date, "%Y-%m").replace(tzinfo=timezone.utc))
        else:
            dt = datetime.strptime(self.epoch, "%Y-%m-%d").replace(tzinfo=timezone.utc)
        # T3: head-of-stream / no-data probe.
        if not self._available(dt):
            raise NoUpdateNeeded(f"{self.name}: no data for {_month_iso(dt)}")

        # Scan sharing (§4): one scan feeds every dataset's branch of the
        # single write plan; the month is small, so each branch reads it.
        month_df = self._scan(spark, [dt])
        month_iso = _month_iso(dt)
        dt_iso = dt.strftime("%Y-%m-%dT00:00:00.000Z")

        layers: dict[str, DataFrame] = {}
        metadatas: list[dict[str, Any]] = []
        for ds in datasets:
            layer = layer_name(ds["filename"])
            df = record_select(month_df, ds["variable"])
            if ds.get("clip"):
                df = clip_polygon(df, ds["clip"])
            if ds.get("factor") not in (None, 1, 1.0):
                df = scale_values(df, float(ds["factor"]))
            if ds.get("anomaly"):
                normal = self.get_normal(spark, state, ds["variable"], dt.month)
                if ds.get("factor") not in (None, 1, 1.0):
                    normal = normal.withColumn(
                        "normal_value", F.col("normal_value") * F.lit(float(ds["factor"]))
                    )
                df = anomaly(df, normal)
            layers[layer] = df

            prior = _load_metadata(self.output_root, layer) or {}
            md = typical_metadata(
                {
                    "name": ds.get("name", layer),
                    "unit": ds.get("unit"),
                    "original_unit": ds.get("original_unit"),
                },
                dt_iso,
                prior,
            )
            md["layer_name"] = layer
            metadatas.append(md)

        self._publish(layers, month_iso)
        new_state = SourceState(
            date=month_iso,
            last_updated=dt_iso,
            normals=state.normals,
            extra=state.extra,
        )
        return ForageResult(new_state=new_state, metadatas=metadatas)


def _load_metadata(root: str, layer: str) -> dict[str, Any] | None:
    import json

    try:
        with open(os.path.join(root, layer, "metadata.json")) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return None
