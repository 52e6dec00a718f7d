#!/usr/bin/env python3
"""The repo benchmark: the paper's ingestion paths, end to end.

Run from the repository root:

    python3 perfbench/run.py --workload grib_backfill --seed 1 --seconds 18 --trace 0

``--workload`` is ``grib_backfill`` or ``month_ingest`` (see
perfbench/README.md).  The inputs are generated from ``--seed``; after
untimed prime passes, measured passes of the workload repeat while one
more would end within ``--seconds`` (at least two); every measured pass
is checked against a numpy reference after the measurement.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics for ``--trace 0`` and the per-layer metrics for ``--trace 1``.
The line before it records the run's cpu count, versions, source
fingerprint and seed.

Everything the run writes lives under ``.perfbench_run/`` in the
current directory; the per-run directory is removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import NullRecorder, SpanRecorder  # noqa: E402

PACKAGE = "monitoring_data_ingestion_spark"
RUN_ROOT = ".perfbench_run"
DRIVER_MEMORY = "2g"
# Measured passes per untraced run, at the least: wall_s is their median.
MIN_PASSES = 2

# Untraced-run metrics: name -> unit.
END_TO_END = {"setup_s": "s", "wall_s": "s", "month_p50_s": "s", "peak_rss_mb": "MB"}

# Traced-run metrics: name -> (unit, better).  A metric that does not
# apply to a workload reads 0 there.
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "sources.grib.files": ("count", "lower"),
    "sources.grib.records": ("count", "lower"),
    "sources.grib.bytes": ("bytes", "lower"),
    "sources.grib.decode_task_s": ("s", "lower"),
    "grid.grib1.decode_ms_per_mcell": ("ms/Mcell", "lower"),
    "grid.aec.decode_ms_per_mcell": ("ms/Mcell", "lower"),
    "grid.geotiff.rasters": ("count", "lower"),
    "grid.geotiff.encode_s": ("s", "lower"),
    "grid.geotiff.bytes_per_cell": ("bytes", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.latest_offset_ms": ("ms", "lower"),
    "streaming.get_batch_ms": ("ms", "lower"),
    "streaming.query_planning_ms": ("ms", "lower"),
    "streaming.add_batch_ms": ("ms", "lower"),
    "streaming.wal_commit_ms": ("ms", "lower"),
    "streaming.commit_offsets_ms": ("ms", "lower"),
    "streaming.sink.write_s": ("s", "lower"),
    "streaming.sink.marker_s": ("s", "lower"),
    "streaming.normals_s": ("s", "lower"),
    "streaming.join_static_useful_ratio": ("ratio", "higher"),
    "ingest.runs": ("count", "lower"),
    "ingest.retries": ("count", "lower"),
    "ingest.forage_s": ("s", "lower"),
    "ingest.publish_s": ("s", "lower"),
    "ingest.commit_s": ("s", "lower"),
    "ingest.normals_build_s": ("s", "lower"),
    "ingest.normals_hit_ratio": ("ratio", "higher"),
    "exec.jobs": ("count", "lower"),
    "exec.jobs_per_month": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.scheduler_delay_s": ("s", "lower"),
    "exec.task_s": ("s", "lower"),
    "exec.gc_s": ("s", "lower"),
    "exec.shuffle_write_bytes": ("bytes", "lower"),
    "exec.shuffle_read_bytes": ("bytes", "lower"),
    "exec.spill_bytes": ("bytes", "lower"),
    "exec.output_bytes": ("bytes", "lower"),
    "pyworker.udf_s": ("s", "lower"),
    "trace.overhead_wall_s": ("s", "lower"),
    "trace.overhead_month_p50_s": ("s", "lower"),
}

def workload_class(name: str):
    if name == "grib_backfill":
        from grib_backfill import GribBackfill

        return GribBackfill
    from month_ingest import MonthIngest

    return MonthIngest


# -- process facts -----------------------------------------------------------
def process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms
    resolution), so interpreter start-up counts toward set-up."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over cpus."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def source_fingerprint() -> str:
    """sha256 over the engine package's .py files (the checkout the
    benchmark runs in need not be a git repository)."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(PACKAGE):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                h.update(path.encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    """HEAD of the checkout, when the checkout is a git repository."""
    if not os.path.exists(".git"):
        return None
    out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
    return out.stdout.strip() or None


# -- spark -------------------------------------------------------------------
def start_spark(work: str, event_log: str | None = None):
    """local[k] with k shuffle partitions, k = the cpus this process may
    use; every scratch file Spark or its Python workers write stays
    under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")  # wins over spark.local.dir
    # Every JVM, the spark-submit launcher's too, would otherwise write its
    # perf-data file outside the checkout.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"])
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [os.getcwd(), HERE] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    )
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        # a fixed-size heap, so peak RSS does not follow the heap's growth policy
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    from monitoring_data_ingestion_spark.session import get_spark

    k = cpu_count()
    spark = get_spark(
        app_name="perfbench", master=f"local[{k}]", shuffle_partitions=k, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _active_spark():
    if "pyspark.sql" not in sys.modules:
        return None
    from pyspark.sql import SparkSession

    return SparkSession.getActiveSession()


def jvm_process(spark):
    return spark.sparkContext._gateway.proc


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    proc = jvm_process(spark)
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- modes -------------------------------------------------------------------
def setup(args, work: str, event_log: str | None = None):
    """Generate inputs (untimed), start Spark, run one operation of the
    workload's shape on a tiny input.  Returns (workload, spark,
    timings); ``setup_s`` runs from process start to here, minus the
    input generation."""
    wl = workload_class(args.workload)(work, args.seed, NullRecorder())
    t0 = time.perf_counter()
    wl.generate_warmup()
    wl.generate()
    gen_s = time.perf_counter() - t0
    t1 = time.perf_counter()
    spark = start_spark(work, event_log)
    t2 = time.perf_counter()
    wl.warmup(spark)
    t3 = time.perf_counter()
    timings = {
        "setup_s": process_age_s() - gen_s,
        "session.start_s": t2 - t1,
        "session.warmup_s": t3 - t2,
        "generate_s": gen_s,
    }
    # Untimed passes first: the measured passes then start with the
    # pipeline compiled and its Python workers running.
    for i in range(wl.prime_passes):
        wl.release(wl.run_pass(spark, os.path.join(work, f"prime{i}")))
    timings["prime_s"] = time.perf_counter() - t3
    return wl, spark, timings


def check_passes(wl, spark, passes) -> tuple[int, int, list[str]]:
    attempted = failed = 0
    notes: list[str] = []
    for i, (base, r) in enumerate(passes):
        a, f, n = wl.check(spark, base, r, restart=i == len(passes) - 1)
        wl.release(r)
        attempted, failed, notes = attempted + a, failed + f, notes + n
    if not wl.corruption_caught():
        failed += 1
        notes.append("corrupted output was not caught")
    return attempted, failed, notes


def measured_until(passes: list, t0: float) -> float:
    """Seconds since ``t0`` at which one more pass, as long as the median
    pass so far, would end."""
    return time.perf_counter() - t0 + statistics.median(r["wall_s"] for _, r in passes)


def untraced(args, work: str) -> tuple[dict, dict]:
    wl, spark, t = setup(args, work)
    jvm = jvm_process(spark)
    passes = []
    t0, steal0 = time.perf_counter(), steal_s()
    while len(passes) < MIN_PASSES or measured_until(passes, t0) <= args.seconds:
        base = os.path.join(work, f"pass{len(passes)}")
        passes.append((base, wl.run_pass(spark, base)))
    steal = steal_s() - steal0
    rss_py, rss_jvm = vm_hwm_mb(os.getpid()), (vm_hwm_mb(jvm.pid) if jvm else 0.0)
    rss = rss_py + rss_jvm
    t_check = time.perf_counter()
    attempted, failed, notes = check_passes(wl, spark, passes)
    check_s = time.perf_counter() - t_check
    stop_spark(spark)
    months = [m for _, r in passes for m in r["month_s"]]
    values = {
        "setup_s": t["setup_s"],
        "wall_s": statistics.median(r["wall_s"] for _, r in passes),
        "month_p50_s": statistics.median(months),
        "peak_rss_mb": rss,
    }
    metrics = {k: (v, END_TO_END[k]) for k, v in values.items()}
    info = {
        "passes": len(passes),
        "months": len(months),
        "setup": t,
        "pass_wall_s": [r["wall_s"] for _, r in passes],
        "month_s": months,
        "rss_mb": {"python": rss_py, "jvm": rss_jvm},
        "steal_s": steal,
        "check_s": check_s,
        "notes": notes,
    }
    return _result(attempted, failed, metrics), info


def traced(args, work: str) -> tuple[dict, dict]:
    """A traced pass between two untraced passes.  Tracing is a progress
    listener, span timers around the public calls and the Python UDF
    profiler; the event log is on for the whole session.  The overhead
    is the traced pass minus the mean of the untraced ones, which also
    cancels a steady warm-up trend across the three passes."""
    from pyspark.sql.streaming import StreamingQueryListener

    import eventlog

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.batches = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.numInputRows > 0:
                self.batches.append(dict(p.durationMs))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    log_dir = os.path.join(work, "eventlog")
    wl, spark, t = setup(args, work, event_log=log_dir)
    before = wl.run_pass(spark, os.path.join(work, "pass0"))

    rec = SpanRecorder(f"{args.workload}-{args.seed}")
    listener = Progress()
    wl.rec = rec
    spark.streams.addListener(listener)
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    start_ms = time.time() * 1000
    with rec.span("pass"):
        r = wl.run_pass(spark, os.path.join(work, "pass1"))
    end_ms = time.time() * 1000
    spark.conf.unset("spark.sql.pyspark.udf.profiler")
    wl.rec = NullRecorder()
    n_months = len(r["month_s"])
    deadline = time.time() + 10  # listener events arrive asynchronously
    while wl.streaming and len(listener.batches) < n_months and time.time() < deadline:
        time.sleep(0.1)
    spark.streams.removeListener(listener)
    udf_s = sum(s.total_tt for s in spark._profiler_collector._perf_profile_results.values())
    after = wl.run_pass(spark, os.path.join(work, "pass2"))

    passes = [(os.path.join(work, f"pass{i}"), p) for i, p in enumerate((before, r, after))]
    attempted, failed, notes = check_passes(wl, spark, passes)
    layers = {k: 0.0 for k in PER_LAYER}
    layers.update({k: v for k, v in t.items() if k.startswith("session.")})
    layers["pyworker.udf_s"] = udf_s
    layers["trace.overhead_wall_s"] = r["wall_s"] - (before["wall_s"] + after["wall_s"]) / 2
    layers["trace.overhead_month_p50_s"] = statistics.median(r["month_s"]) - (
        statistics.median(before["month_s"]) + statistics.median(after["month_s"])
    ) / 2
    layers.update(wl.layer_metrics(r, rec, listener.batches, udf_s))
    stop_spark(spark)

    totals = eventlog.exec_totals(eventlog.read_events(log_dir), start_ms, end_ms)
    for field in totals.__dataclass_fields__:
        layers[f"exec.{field}"] = getattr(totals, field)
    layers["exec.jobs_per_month"] = totals.jobs / max(1, n_months)

    trace_path = os.path.join(RUN_ROOT, f"trace-{args.workload}-{args.seed}.json")
    rec.dump(trace_path)
    metrics = {k: (float(v), PER_LAYER[k][0]) for k, v in layers.items()}
    info = {"notes": notes, "trace": trace_path, "stream_batches": listener.batches}
    return _result(attempted, failed, metrics), info


def _result(attempted: int, failed: int, metrics: dict) -> dict:
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("grib_backfill", "month_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=18.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(PACKAGE) or not os.path.isfile(os.path.join("fixtures", "africa_outline.shp")):
        print(
            f"perfbench: run from the repository root ({PACKAGE}/ and fixtures/ not found)",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(1, os.getcwd())
    work = os.path.abspath(os.path.join(RUN_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}"))
    os.makedirs(work)
    try:
        result, info = (traced if args.trace else untraced)(args, work)
    finally:
        active = _active_spark()
        if active is not None:  # a failed run: stop the JVM before removing its files
            stop_spark(active)
        shutil.rmtree(work, ignore_errors=True)
    import pyspark

    info.update(
        workload=args.workload, seed=args.seed, trace=args.trace, cpus=cpu_count(),
        spark=pyspark.__version__, python=sys.version.split()[0],
        git_sha=git_sha(), source_sha256=source_fingerprint(),
    )
    print(json.dumps({"info": info}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
