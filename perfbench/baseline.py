#!/usr/bin/env python3
"""Record a baseline: many seeded runs of every workload, summarized.

    python3 perfbench/baseline.py --seeds 1-10 --out perfbench/BASELINE.json

Runs ``perfbench/run.py`` once per (workload, seed) untraced and once
per workload traced (first seed), one run at a time, from the current
directory.  For every (end-to-end metric, workload) it records the
median, the quartiles (``statistics.quantiles(n=4)``), the spread
(interquartile range over median) and the samples, and keeps each run's
info line (pass and month samples, set-up split, steal time).  The traced run
contributes its per-layer numbers, including the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} failed:\n{p.stderr[-3000:]}")
    info, result = (json.loads(line) for line in p.stdout.strip().splitlines()[-2:])
    result["info"] = info["info"]
    result["run_s"] = time.monotonic() - t0
    return result


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)  # med is the median
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "samples": values}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--out", default=os.path.join(HERE, "BASELINE.json"))
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    out = {"end_to_end": {}, "per_layer": {}, "runs": []}
    for w in (x["name"] for x in spec["workloads"]):
        results = [run_once(w, s, spec["run_seconds"], 0) for s in seeds(args.seeds)]
        out["runs"] += [
            {"workload": w, "seed": r["info"]["seed"], "correct": r["correct"],
             "attempted": r["attempted"], "failed": r["failed"], "run_s": r["run_s"],
             "info": r["info"]}
            for r in results
        ]
        out["end_to_end"][w] = {
            m["name"]: summarize([r["metrics"][m["name"]]["value"] for r in results])
            for m in spec["end_to_end"]
        }
        traced = run_once(w, seeds(args.seeds)[0], spec["run_seconds"], 1)
        out["per_layer"][w] = {k: v["value"] for k, v in traced["metrics"].items()}
        out["runs"].append({"workload": w, "seed": traced["info"]["seed"], "trace": 1,
                            "correct": traced["correct"], "run_s": traced["run_s"]})
        last = results[-1]["info"]
        out["host"] = {k: last[k] for k in ("cpus", "spark", "python", "git_sha", "source_sha256")}
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    for w, metrics in out["end_to_end"].items():
        for name, s in metrics.items():
            print(f"{w:14s} {name:12s} median {s['median']:.4f} spread {s['spread']:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
