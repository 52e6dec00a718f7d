#!/usr/bin/env python3
"""Offline self-checks of the benchmark's own machinery (no Spark).

    python3 perfbench/selfcheck.py

* the event-log reader's sums and scheduler-delay arithmetic on the
  tiny recorded log in perfbench/fixtures/;
* span nesting and self time (duration minus the union of children);
* BENCHMARK.json names exactly the metrics the runner emits.

The check that a corrupted published value is caught runs inside every
benchmark run (``corruption_caught`` of each workload).
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
from spans import SpanRecorder, covered, self_times  # noqa: E402


def close(a: float, b: float) -> bool:
    return abs(a - b) < 1e-9


def expect(ok: bool, what) -> None:
    if not ok:
        raise SystemExit(f"self-check failed: {what}")


def check_eventlog() -> None:
    events = eventlog.read_events(os.path.join(HERE, "fixtures", "tiny_eventlog.json"))
    t = eventlog.exec_totals(events, 1900, 3000)  # job 1 only
    expect((t.jobs, t.stages, t.tasks) == (1, 2, 3), t)  # stage 3 was skipped
    expect(close(t.task_s, 0.31) and close(t.gc_s, 0.02), t)
    # delays: 200-150-10 = 40; 100-100-10 < 0 -> 0; 100-60-5-(2400-2390) = 25
    expect(close(t.scheduler_delay_s, 0.065), t)
    expect((t.shuffle_write_bytes, t.shuffle_read_bytes) == (1000, 1000), t)
    expect((t.spill_bytes, t.output_bytes) == (5120, 2048), t)
    everything = eventlog.exec_totals(events, 0, 3000)
    expect((everything.jobs, everything.stages, everything.tasks) == (2, 3, 4), everything)
    expect(close(everything.scheduler_delay_s, 0.065 + 0.014), everything)
    expect(eventlog.exec_totals(events, 3000, 4000).tasks == 0, "empty window")


def check_spans() -> None:
    now = [0.0]
    rec = SpanRecorder("selfcheck", clock=lambda: now[0])
    with rec.span("pass"):
        now[0] = 1.0
        with rec.span("a"):
            now[0] = 3.0
            with rec.span("a.inner"):
                now[0] = 4.0
        now[0] = 5.0
        timed = rec.wrap(lambda: now.__setitem__(0, 7.0), "b")
        timed()
        now[0] = 10.0
    by_name = {s.name: s for s in rec.spans}
    expect(by_name["a.inner"].parent == by_name["a"].id, "nested parent")
    expect(by_name["b"].parent == by_name["pass"].id, "wrapped call's parent")
    st = self_times(rec.spans)
    expect(st[by_name["pass"].id] == 10.0 - (3.0 + 2.0), "self time of pass")
    expect(st[by_name["a"].id] == 3.0 - 1.0, "self time of a")
    expect(rec.durations("b") == [2.0], "wrapped call's duration")
    expect(covered([(0, 2), (1, 3), (5, 6)]) == 4.0, "union of overlapping intervals")


def check_benchmark_json() -> None:
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    per_layer = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    expect(per_layer == run.PER_LAYER, set(per_layer) ^ set(run.PER_LAYER))
    expect({m["name"] for m in spec["end_to_end"]} == set(run.END_TO_END), "end_to_end names")


def main() -> int:
    for check in (check_eventlog, check_spans, check_benchmark_json):
        check()
        print(f"ok {check.__name__}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
