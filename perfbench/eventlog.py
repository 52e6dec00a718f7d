"""Offline reader for Spark's JSON event log (local files only).

Reads the ``spark.eventLog.dir`` file a traced run leaves behind and
sums job, stage and task metrics over the jobs submitted inside a time
window (epoch milliseconds, the event log's own clock).  Scheduler
delay follows the Spark UI's definition: task duration minus executor
run time, deserialization, result serialization and result fetch.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass


@dataclass
class ExecTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    scheduler_delay_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0


def read_events(path: str) -> list[dict]:
    """Events of one event-log file, or of the single app log in a dir."""
    if os.path.isdir(path):
        files = glob.glob(os.path.join(path, "*"))
        if len(files) != 1:
            raise ValueError(f"expected one event log in {path}, found {files}")
        path = files[0]
    events = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if line:
                events.append(json.loads(line))
    return events


def scheduler_delay_ms(info: dict, metrics: dict) -> int:
    duration = info["Finish Time"] - info["Launch Time"]
    getting = info.get("Getting Result Time", 0)
    fetch = info["Finish Time"] - getting if getting else 0
    overhead = metrics.get("Executor Deserialize Time", 0) + metrics.get(
        "Result Serialization Time", 0
    )
    return max(0, duration - metrics.get("Executor Run Time", 0) - overhead - fetch)


def exec_totals(events: list[dict], start_ms: float, end_ms: float) -> ExecTotals:
    """Totals over jobs submitted in [start_ms, end_ms]; their completed
    stages and those stages' finished tasks."""
    stage_ids: set[int] = set()
    out = ExecTotals()
    for e in events:
        if e["Event"] == "SparkListenerJobStart" and start_ms <= e["Submission Time"] <= end_ms:
            out.jobs += 1
            stage_ids.update(e["Stage IDs"])
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerStageCompleted":
            if e["Stage Info"]["Stage ID"] in stage_ids:
                out.stages += 1
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_ids:
            m = e.get("Task Metrics") or {}
            out.tasks += 1
            out.task_s += m.get("Executor Run Time", 0) / 1000.0
            out.gc_s += m.get("JVM GC Time", 0) / 1000.0
            out.scheduler_delay_s += scheduler_delay_ms(e["Task Info"], m) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            out.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            out.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            out.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            out.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return out
