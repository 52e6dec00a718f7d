"""Workload ``month_ingest``: the incremental monthly run loop.

``IngestScheduler.run_until_head`` drives a ``GriddedMonthlySource``
over a gridmonths parquet landing (Africa at 1 degree, 73 x 71 cells,
with -9999 sentinels).  The source is wrapped so that, after each
``forage``, every dataset-month is also published as a GeoTIFF through
``grid.ops.to_geotiff`` (the reference's ``gdal_translate`` step).

A pass first builds the 1991-2020 normals for the window's calendar
months through the source's own ``get_normal`` (the misses a fresh
service pays in its first year), then runs the scheduler to head, where
every month hits the normals memo: the steady state of the service.
"""

from __future__ import annotations

import os
import statistics
import time
import warnings

import numpy as np

from gen import AFRICA_1, SENTINEL, gridmonth_fields, write_gridmonths_landing

GRID = AFRICA_1
WINDOW = [(2023, m) for m in (7, 8, 9)]
NORMAL_YEARS = range(1991, 2021)
SOURCE = "bench_gridded"
OUTLINE = os.path.join("fixtures", "africa_outline.shp")


def datasets(ring) -> list[dict]:
    return [
        {
            "filename": "bench-temperature-2-m",
            "name": "Temperature (2 m)",
            "variable": "t2m",
            "unit": "K",
            "original_unit": "K",
        },
        {
            "filename": "bench-precipitation-africa",
            "name": "Precipitation, Africa",
            "variable": "precip",
            "unit": "mm",
            "original_unit": "m",
            "factor": 1000.0,
            "clip": ring,
        },
        {
            "filename": "bench-temperature-2-m-anomaly",
            "name": "Temperature anomaly (2 m)",
            "variable": "t2m",
            "unit": "K",
            "original_unit": "K",
            "anomaly": True,
        },
    ]


def inside(lat: np.ndarray, lon: np.ndarray, ring) -> np.ndarray:
    """numpy twin of ``grid.ops.point_in_polygon`` (same ray casting,
    same operation order)."""
    crossings = np.zeros(lat.shape, dtype=int)
    n = len(ring)
    with np.errstate(divide="ignore", invalid="ignore"):
        for k in range(n):
            x1, y1 = ring[k]
            x2, y2 = ring[(k + 1) % n]
            hit = ((y1 > lat) != (y2 > lat)) & (lon < (x2 - x1) * (lat - y1) / (y2 - y1) + x1)
            crossings += hit
    return crossings % 2 == 1


class GeoTiffPublishing:
    """A ``Source`` that forages through ``inner`` and then publishes the
    month's dataset outputs as GeoTIFFs, one raster per dataset."""

    def __init__(self, inner, tif_root: str, rec) -> None:
        self.inner = inner
        self.name = inner.name
        self.tif_root = tif_root
        self.rec = rec
        self.forage_s: list[float] = []
        self.publish_s: list[float] = []
        self.manifest: list = []

    def forage(self, spark, state, datasets):
        from monitoring_data_ingestion_spark.ingest.gridded_source import layer_name

        t0 = time.perf_counter()
        with self.rec.span("ingest.forage"):
            result = self.inner.forage(spark, state, datasets)
        t1 = time.perf_counter()
        month = result.new_state.date
        with self.rec.span("ingest.publish"):
            self.manifest += self.publish(
                spark, month, [layer_name(ds["filename"]) for ds in datasets]
            )
        self.forage_s.append(t1 - t0)
        self.publish_s.append(time.perf_counter() - t1)
        return result

    def publish(self, spark, month: str, layers: list[str]):
        from functools import reduce

        from pyspark.sql import functions as F

        from monitoring_data_ingestion_spark.grid.ops import to_geotiff

        frames = [
            spark.read.parquet(
                os.path.join(self.inner.output_root, layer, f"month={month}")
            ).select(F.lit(layer).alias("layer"), "lat", "lon", "value")
            for layer in layers
        ]
        df = reduce(lambda a, b: a.unionByName(b), frames)
        out = os.path.join(self.tif_root, month)
        return to_geotiff(df, out, group_cols=("layer",)).collect()


class MonthIngest:
    name = "month_ingest"
    streaming = False
    prime_passes = 1

    def __init__(self, root: str, seed: int, rec) -> None:
        from monitoring_data_ingestion_spark.grid.shapefile import main_ring
        from monitoring_data_ingestion_spark.ingest.gridded_source import layer_name

        self.root = root
        self.seed = seed
        self.rec = rec
        self.landing = os.path.join(root, "landing")
        self.ring = main_ring(OUTLINE)
        self.datasets = datasets(self.ring)
        self.layers = [layer_name(ds["filename"]) for ds in self.datasets]

    # -- inputs --------------------------------------------------------
    def generate(self) -> None:
        months = [(y, m) for y in NORMAL_YEARS for _, m in WINDOW] + WINDOW
        write_gridmonths_landing(self.landing, self.seed, months, GRID)

    def generate_warmup(self) -> None:
        self.warm_landing = os.path.join(self.root, "warm_landing")
        write_gridmonths_landing(self.warm_landing, self.seed, [(2023, 1)], GRID)

    # -- the run loop ------------------------------------------------------
    def _source(self, landing: str, base: str, epoch: str):
        from monitoring_data_ingestion_spark.ingest.gridded_source import GriddedMonthlySource

        return GriddedMonthlySource(
            name=SOURCE,
            landing_dir=landing,
            output_root=os.path.join(base, "out"),
            normal_years=list(NORMAL_YEARS),
            epoch=epoch,
        )

    def warmup(self, spark) -> None:
        """One GeoTIFF publish of a tiny landing month: the set-up's first
        operation of this workload's shape."""
        from monitoring_data_ingestion_spark.grid.ops import to_geotiff

        df = spark.read.parquet(os.path.join(self.warm_landing, "2023-01.parquet"))
        to_geotiff(df, os.path.join(self.root, "warm_tif")).collect()

    def _count_normals(self, inner) -> dict:
        """Wrap the instance's ``get_normal`` to time misses and count
        hits (a hit is a (variable, month) already memoized in state)."""
        get_normal = inner.get_normal
        counts = {"calls": 0, "hits": 0, "build_s": 0.0}

        def counted(spark, state, variable, month):
            counts["calls"] += 1
            if state.normals.get(variable, {}).get(str(month)):
                counts["hits"] += 1
                return get_normal(spark, state, variable, month)
            t0 = time.perf_counter()
            with self.rec.span("ingest.normals_build"):
                out = get_normal(spark, state, variable, month)
            counts["build_s"] += time.perf_counter() - t0
            return out

        inner.get_normal = counted
        return counts

    def run_pass(self, spark, base: str) -> dict:
        from monitoring_data_ingestion_spark.ingest import IngestScheduler, StateStore

        y0, m0 = WINDOW[0]
        inner = self._source(self.landing, base, f"{y0:04d}-{m0:02d}-01")
        normals = self._count_normals(inner)
        store = StateStore(inner.output_root)
        src = GeoTiffPublishing(inner, os.path.join(base, "tif"), self.rec)
        sched = IngestScheduler(spark, store)
        t0 = time.perf_counter()
        state = store.load_source(SOURCE)
        for _, month in WINDOW:
            inner.get_normal(spark, state, "t2m", month)
        store.commit_source(SOURCE, state)
        with self.rec.span("ingest.run_until_head"):
            runs = sched.run_until_head(src, self.datasets)
        wall = time.perf_counter() - t0
        return {
            "wall_s": wall,
            "month_s": [r.elapsed_s for r in sched.runs if r.ok and not r.skipped],
            "inner": inner,
            "src": src,
            "store": store,
            "sched": sched,
            "runs": runs,
            "normals": normals,
        }

    def release(self, r: dict) -> None:
        pass

    # -- correctness -------------------------------------------------------
    def reference(self, year: int, month: int) -> dict[str, np.ndarray]:
        """layer -> (nj, ni) expected values, NaN where NULL."""
        cur = gridmonth_fields(GRID, self.seed, year, month)
        t2m = np.where(cur["t2m"] == SENTINEL, np.nan, cur["t2m"])
        precip = np.where(cur["precip"] == SENTINEL, np.nan, cur["precip"]) * 1000.0
        lat, lon = np.meshgrid(GRID.lats, GRID.lons, indexing="ij")
        precip = np.where(inside(lat, lon, self.ring), precip, np.nan)
        hist = np.stack(
            [gridmonth_fields(GRID, self.seed, y, month)["t2m"] for y in NORMAL_YEARS]
        )
        hist = np.where(hist == SENTINEL, np.nan, hist)
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)  # all-sentinel cells
            normal = np.nanmean(hist, axis=0)
        return {
            "bench_temperature_2_m": t2m,
            "bench_precipitation_africa": precip,
            "bench_temperature_2_m_anomaly": t2m - normal,
        }

    def load_published(self, base: str) -> dict:
        """(layer, month) -> (nj, ni) published values, NaN where NULL."""
        import pyarrow.parquet as pq

        out = {}
        for y, m in WINDOW:
            month = f"{y:04d}-{m:02d}"
            for layer in self.layers:
                t = pq.read_table(
                    os.path.join(base, "out", layer, f"month={month}"),
                    columns=["lat", "lon", "value"],
                ).to_pandas()
                grid = np.full((GRID.nj, GRID.ni), np.inf)  # inf: never published
                j = np.rint((GRID.north_mdeg / 1000.0 - t["lat"].to_numpy()) * 1000 / GRID.step_mdeg)
                i = np.rint((t["lon"].to_numpy() - GRID.west_mdeg / 1000.0) * 1000 / GRID.step_mdeg)
                on_grid = (j >= 0) & (j < GRID.nj) & (i >= 0) & (i < GRID.ni)
                if len(t) == GRID.cells and on_grid.all():
                    grid[j.astype(int), i.astype(int)] = t["value"].to_numpy(
                        dtype=float, na_value=np.nan
                    )
                out[(layer, month)] = grid
        return out

    def bad_months(self, published: dict, base: str) -> set:
        from monitoring_data_ingestion_spark.grid.geotiff import read_geotiff

        bad = set()
        for y, m in WINDOW:
            month = f"{y:04d}-{m:02d}"
            for layer, want in self.reference(y, m).items():
                got = published[(layer, month)]
                if not np.allclose(got, want, rtol=0, atol=1e-9, equal_nan=True):
                    bad.add(month)
                tif = os.path.join(base, "tif", month, f"{layer}.tif")
                try:
                    r = read_geotiff(tif)
                except (OSError, ValueError):
                    bad.add(month)
                    continue
                expect = np.where(np.isnan(got), r.nodata, got).astype("float32")
                if r.values.shape != expect.shape or not np.array_equal(r.values, expect):
                    bad.add(month)
        return bad

    def check(self, spark, base: str, r: dict, restart: bool) -> tuple[int, int, list[str]]:
        """(operations attempted, failed, notes): one operation per
        scheduler run; a wrong month, a missing service artifact or a
        cursor short of head each fail one."""
        sched = r["sched"]
        notes = [f"run failed: {run.error}" for run in sched.runs if not run.ok]
        failed = len(notes)
        self.last_published = self.load_published(base)
        bad = self.bad_months(self.last_published, base)
        failed += len(bad)
        notes += [f"mismatch {b}" for b in sorted(bad)]
        y, m = WINDOW[-1]
        if r["store"].load_source(SOURCE).date != f"{y:04d}-{m:02d}" or not r["runs"][-1].skipped:
            failed += 1
            notes.append("cursor not at head")
        root = r["inner"].output_root
        wanted = ["inventory.json.br", "state.json", "heart.json"] + [
            os.path.join(layer, "metadata.json") for layer in self.layers
        ]
        missing = [w for w in wanted if not os.path.exists(os.path.join(root, w))]
        if missing:
            failed += 1
            notes.append(f"missing {missing}")
        self.last_base = base
        return len(sched.runs), failed, notes

    def corruption_caught(self) -> bool:
        """Flip one published value: the check must reject it."""
        published = {k: v.copy() for k, v in self.last_published.items()}
        y, m = WINDOW[0]
        grid = published[("bench_temperature_2_m", f"{y:04d}-{m:02d}")]
        j, i = np.argwhere(np.isfinite(grid))[len(grid) // 2]  # not a NULL cell
        grid[j, i] += 0.5
        return bool(self.bad_months(published, self.last_base))

    # -- per-layer numbers (traced run) -----------------------------------
    def encode_s(self, src) -> float:
        """In-process ``encode_geotiff`` time for one month's rasters
        (the published rasters of the last month, median of 3)."""
        from monitoring_data_ingestion_spark.grid.geotiff import encode_geotiff, read_geotiff

        y, m = WINDOW[-1]
        last = [row["path"] for row in src.manifest if f"{y:04d}-{m:02d}" in row["path"]]
        rasters = [read_geotiff(p) for p in last]
        per = []
        for _ in range(3):
            t0 = time.perf_counter()
            for r in rasters:
                encode_geotiff(r)
            per.append(time.perf_counter() - t0)
        return statistics.median(per)

    def layer_metrics(self, r: dict, rec, batches: list[dict], udf_s: float) -> dict[str, float]:
        sched, src = r["sched"], r["src"]
        runs = [run for run in sched.runs if run.ok and not run.skipped]
        commit = [
            run.elapsed_s - f - p for run, f, p in zip(runs, src.forage_s, src.publish_s)
        ]
        tif_bytes = cells = 0
        for row in src.manifest:
            tif_bytes += os.path.getsize(row["path"])
            cells += row["width"] * row["height"]
        return {
            "ingest.runs": len(sched.runs),
            "ingest.retries": len(sched.runs) - len(r["runs"]),
            "ingest.forage_s": statistics.median(src.forage_s),
            "ingest.publish_s": statistics.median(src.publish_s),
            "ingest.commit_s": statistics.median(commit),
            "ingest.normals_build_s": r["normals"]["build_s"],
            "ingest.normals_hit_ratio": r["normals"]["hits"] / max(1, r["normals"]["calls"]),
            "grid.geotiff.rasters": len(src.manifest),
            "grid.geotiff.encode_s": self.encode_s(src),
            "grid.geotiff.bytes_per_cell": tif_bytes / max(1, cells),
        }

