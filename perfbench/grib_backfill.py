"""Workload ``grib_backfill``: drain GRIB month-files through the
streaming anomaly pipeline and publish them month-partitioned.

The composition is the one ``era5_grib_anomaly_pipeline`` uses:
``grib1_records`` -> ``monthly_normals(...).persist()``, then
``grib1_records_stream(max_files_per_trigger=1)`` -> ``grib1_cells`` ->
``anomaly_transform`` -> ``IdempotentForeachBatch(month_partitioned_writer)``
under an AvailableNow trigger.  Each month-file carries a GRIB1
simple-packed t2m record and a GRIB2 AEC-packed tp record on the
0.25 degree Africa grid (291 x 281 cells).
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

from gen import AFRICA_025, T2M_BINARY_SCALE, write_grib_landing

GRID = AFRICA_025
# Two calendar months over two years: normals average both years, so
# every published anomaly is a genuine departure.
MONTHS = [(year, month) for year in (2020, 2021) for month in (1, 2)]
NORMAL_YEARS = (2020, 2021)
# Packing precision: a decoded t2m value is within one quantum of the
# generator's field, an anomaly within two; tp is integer-valued, exact.
TOL = {"t2m": 2.0**T2M_BINARY_SCALE, "tp": 1e-6}
WARMUP_GRID_CELLS = (6, 5)


def _to_grid(cells):
    from pyspark.sql import functions as F

    lon_mdeg = F.when(F.col("lon_mdeg") >= 180_000, F.col("lon_mdeg") - 360_000).otherwise(
        F.col("lon_mdeg")
    )
    return cells.select(
        F.expr("make_timestamp(year, month, 1, 0, 0, 0)").alias("time"),
        (F.col("lat_mdeg") / F.lit(1000.0)).alias("lat"),
        (lon_mdeg / F.lit(1000.0)).alias("lon"),
        F.when(F.col("parameter") == 11, F.lit("t2m")).otherwise(F.lit("tp")).alias("variable"),
        F.col("value"),
    )


STREAM_PHASES = {
    "streaming.latest_offset_ms": "latestOffset",
    "streaming.get_batch_ms": "getBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.add_batch_ms": "addBatch",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
}


class GribBackfill:
    name = "grib_backfill"
    streaming = True
    # Untimed full passes before measuring: this pipeline's JVM is still
    # speeding up in its second full pass.
    prime_passes = 2

    def __init__(self, root: str, seed: int, rec) -> None:
        self.root = root
        self.seed = seed
        self.rec = rec
        self.landing = os.path.join(root, "landing")
        self.fields: dict = {}
        self.n_normals = 0

    # -- inputs --------------------------------------------------------
    def generate(self) -> None:
        self.fields = write_grib_landing(self.landing, self.seed, MONTHS, GRID)

    def generate_warmup(self) -> None:
        from gen import Grid

        nj, ni = WARMUP_GRID_CELLS
        self.warm_landing = os.path.join(self.root, "warm_landing")
        write_grib_landing(
            self.warm_landing, self.seed, MONTHS[:1], Grid(37_500, -18_000, 250, nj, ni)
        )

    # -- the pipeline ----------------------------------------------------
    def _drain(self, spark, landing: str, base: str, normals):
        from monitoring_data_ingestion_spark.sources.grib_source import (
            grib1_cells,
            grib1_records_stream,
        )
        from monitoring_data_ingestion_spark.streaming.pipeline import (
            anomaly_transform,
            month_partitioned_writer,
        )
        from monitoring_data_ingestion_spark.streaming.sinks import IdempotentForeachBatch

        writer = self.rec.wrap(
            month_partitioned_writer(os.path.join(base, "out")), "streaming.sink.write"
        )
        sink = IdempotentForeachBatch(os.path.join(base, "commit"), writer)
        stream = _to_grid(
            grib1_cells(grib1_records_stream(spark, landing, max_files_per_trigger=1))
        )
        q = (
            anomaly_transform(stream, normals)
            .writeStream.foreachBatch(self.rec.wrap(sink, "streaming.sink"))
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return [p for p in q.recentProgress if p["numInputRows"] > 0]

    def _normals(self, spark, landing: str):
        from monitoring_data_ingestion_spark.sources.grib_source import grib1_cells, grib1_records
        from monitoring_data_ingestion_spark.streaming.pipeline import monthly_normals

        history = _to_grid(grib1_cells(grib1_records(spark, landing)))
        normals = monthly_normals(history, NORMAL_YEARS).persist()
        self.n_normals = normals.count()
        return normals

    def warmup(self, spark) -> None:
        """One decode job on the tiny landing: the set-up's first
        operation of this workload's shape."""
        from monitoring_data_ingestion_spark.sources.grib_source import grib1_records

        grib1_records(spark, self.warm_landing).count()

    def run_pass(self, spark, base: str) -> dict:
        t0 = time.perf_counter()
        with self.rec.span("streaming.normals"):
            normals = self._normals(spark, self.landing)
        batches = self._drain(spark, self.landing, base, normals)
        wall = time.perf_counter() - t0
        return {
            "wall_s": wall,
            "month_s": [p["durationMs"]["triggerExecution"] / 1000.0 for p in batches],
            "normals": normals,
        }

    def release(self, r: dict) -> None:
        r["normals"].unpersist()

    # -- correctness -------------------------------------------------------
    def reference(self) -> dict:
        """(year, month, variable) -> (value, anomaly) grids from the
        generator's own fields."""
        ref = {}
        for (y, m), f in self.fields.items():
            for var, vals in f.items():
                normal = np.mean([self.fields[(ny, m)][var] for ny in NORMAL_YEARS], axis=0)
                ref[(y, m, var)] = (vals, vals - normal)
        return ref

    def load_published(self, base: str):
        import pyarrow.parquet as pq

        return pq.read_table(
            os.path.join(base, "out"), columns=["time", "lat", "lon", "variable", "value", "anomaly"]
        ).to_pandas()

    def bad_months(self, pub) -> set:
        """Months whose published rows do not match the reference (or
        are missing); the row count must be months x 2 x cells."""
        ref = self.reference()
        bad = set()
        if len(pub) != len(MONTHS) * 2 * GRID.cells:
            bad.add("row_count")
        j = np.rint((GRID.north_mdeg / 1000.0 - pub["lat"].to_numpy()) * 1000 / GRID.step_mdeg)
        i = np.rint((pub["lon"].to_numpy() - GRID.west_mdeg / 1000.0) * 1000 / GRID.step_mdeg)
        pub = pub.assign(j=j.astype(int), i=i.astype(int))
        for (y, m, var), (vals, anom) in ref.items():
            sel = pub[
                (pub["time"].dt.year == y)
                & (pub["time"].dt.month == m)
                & (pub["variable"] == var)
            ]
            jj, ii = sel["j"].to_numpy(), sel["i"].to_numpy()
            if (
                len(sel) != GRID.cells
                or not ((jj >= 0) & (jj < GRID.nj) & (ii >= 0) & (ii < GRID.ni)).all()
                or len(np.unique(jj * GRID.ni + ii)) != GRID.cells
                or not np.allclose(sel["value"].to_numpy(), vals[jj, ii], rtol=0, atol=TOL[var])
                or not np.allclose(sel["anomaly"].to_numpy(), anom[jj, ii], rtol=0, atol=2 * TOL[var])
            ):
                bad.add((y, m))
        return bad

    def check(self, spark, base: str, r: dict, restart: bool) -> tuple[int, int, list[str]]:
        """(operations attempted, failed, notes): one operation per
        published month, plus the exactly-once restart when asked."""
        pub = self.load_published(base)
        bad = self.bad_months(pub)
        notes = [f"mismatch {b}" for b in sorted(map(str, bad))]
        failed = len(bad)
        self.last_published = pub
        if not restart:
            return len(MONTHS), failed, notes
        # Exactly-once: a restart on the same checkpoint publishes no
        # batch and leaves the commit directory untouched.
        commit = os.path.join(base, "commit")
        before = {f: os.stat(os.path.join(commit, f)).st_mtime_ns for f in os.listdir(commit)}
        from spans import NullRecorder

        rec, self.rec = self.rec, NullRecorder()
        try:
            replayed = self._drain(spark, self.landing, base, r["normals"])
        finally:
            self.rec = rec
        after = {f: os.stat(os.path.join(commit, f)).st_mtime_ns for f in os.listdir(commit)}
        if replayed or before != after:
            failed += 1
            notes.append("restart re-published")
        return len(MONTHS) + 1, failed, notes

    def corruption_caught(self) -> bool:
        """Flip one published anomaly: the check must reject it."""
        pub = self.last_published.copy()
        pub.loc[pub.index[len(pub) // 2], "anomaly"] += 0.5
        return bool(self.bad_months(pub))

    # -- per-layer numbers (traced run) -----------------------------------
    def layer_metrics(self, r: dict, rec, batches: list[dict], udf_s: float) -> dict[str, float]:
        """``batches``: the listener's ``durationMs`` per micro-batch;
        ``udf_s``: profiled Python time of the decode ``mapInPandas``."""
        write = statistics.median(rec.durations("streaming.sink.write"))
        out = {
            **self.source_counts(),
            **self.codec_timings(),
            "sources.grib.decode_task_s": udf_s,
            "streaming.batches": len(batches),
            "streaming.sink.write_s": write,
            "streaming.sink.marker_s": statistics.median(rec.durations("streaming.sink")) - write,
            "streaming.normals_s": sum(rec.durations("streaming.normals")),
            "streaming.join_static_useful_ratio": self.join_static_useful_ratio(),
        }
        for name, key in STREAM_PHASES.items():
            out[name] = statistics.median(b.get(key, 0) for b in batches)
        return out

    def codec_timings(self) -> dict[str, float]:
        """ms per million cells of the public GRIB1 / GRIB2 (AEC) decode
        functions on this workload's own messages, median of 3 repeats."""
        from monitoring_data_ingestion_spark.grid.grib1 import decode_grib1
        from monitoring_data_ingestion_spark.grid.grib2 import decode_grib2
        from monitoring_data_ingestion_spark.sources.grib_source import iter_grib_messages

        msgs = {1: [], 2: []}
        for name in sorted(os.listdir(self.landing)):
            with open(os.path.join(self.landing, name), "rb") as f:
                for edition, msg in iter_grib_messages(f.read()):
                    msgs[edition].append(msg)
        out = {}
        for edition, decode, key in ((1, decode_grib1, "grid.grib1"), (2, decode_grib2, "grid.aec")):
            per = []
            for _ in range(3):
                t0 = time.perf_counter()
                for m in msgs[edition]:
                    decode(m)
                per.append(time.perf_counter() - t0)
            cells = len(msgs[edition]) * GRID.cells
            out[f"{key}.decode_ms_per_mcell"] = float(np.median(per)) * 1000 / (cells / 1e6)
        return out

    def source_counts(self) -> dict[str, float]:
        from monitoring_data_ingestion_spark.sources.grib_source import iter_grib_messages

        files = sorted(os.listdir(self.landing))
        records = nbytes = 0
        for name in files:
            with open(os.path.join(self.landing, name), "rb") as f:
                buf = f.read()
            nbytes += len(buf)
            records += sum(1 for _ in iter_grib_messages(buf))
        return {
            "sources.grib.files": len(files),
            "sources.grib.records": records,
            "sources.grib.bytes": nbytes,
        }

    def join_static_useful_ratio(self) -> float:
        """Normals rows one batch's calendar month can match, over all
        normals rows on the static side of the join."""
        per_month = 2 * GRID.cells
        return per_month / self.n_normals if self.n_normals else 0.0

