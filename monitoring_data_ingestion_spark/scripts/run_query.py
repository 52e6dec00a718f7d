"""Generic operator-invocation CLI (the reference's convert.js shape:
call any registered operation by name with options —
/root/reference/src/scripts/convert.js:1-12).

    python -m monitoring_data_ingestion_spark.scripts.run_query \
        dedup_minhash_lsh --sf-dir /root/testdata/sf0.01 \
        --output /tmp/pairs --format parquet

With no ``--output`` the result prints as JSON lines (first ``--limit``
rows, default 20) — the interactive twin of the parquet sink. ``--list``
enumerates the catalog with tags, ``--explain`` prints the formatted
physical plan instead of executing (the plan-audit workflow), and
``--timings`` prints one JSON line to stderr with the milliseconds spent
building the DataFrame (``fn(spark, sf_dir)``, py4j included), analyzing,
optimizing and physical planning it — without executing.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="run_query", description="Run any catalog query by name."
    )
    p.add_argument("name", nargs="?", help="catalog query name (see --list)")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01", help="fixture dir")
    p.add_argument("--output", help="write result here instead of printing")
    p.add_argument(
        "--format", default="parquet", choices=("parquet", "json", "csv"),
        help="output format for --output",
    )
    p.add_argument("--limit", type=int, default=20, help="rows to print without --output")
    p.add_argument("--list", action="store_true", help="list catalog queries and exit")
    p.add_argument("--explain", action="store_true", help="print the physical plan only")
    p.add_argument(
        "--timings", action="store_true",
        help="print build/analyze/optimize/plan milliseconds to stderr; no execution",
    )
    p.add_argument("--tag", help="with --list: only queries carrying this tag")
    return p


def plan_timings(df, t0: float) -> dict[str, float]:
    """Milliseconds per planning layer of ``df``, built since ``t0``.

    Each QueryExecution phase is lazy and computed once, so forcing them in
    order times analysis, optimization and physical planning separately.
    PySpark analyzes every intermediate DataFrame as it is built, so most
    analysis cost lands in ``build_ms``."""
    qe = df._jdf.queryExecution()
    marks = [t0, time.perf_counter()]
    for phase in (qe.analyzed, qe.optimizedPlan, qe.executedPlan):
        phase()
        marks.append(time.perf_counter())
    names = ("build_ms", "analyze_ms", "optimize_ms", "plan_ms")
    return {k: round(1000 * (b - a), 1) for k, a, b in zip(names, marks, marks[1:])}


def run(argv: list[str] | None = None, spark=None) -> int:
    args = build_parser().parse_args(argv)
    from ..plans import REGISTRY

    if args.list:
        for name, spec in sorted(REGISTRY.items()):
            if args.tag and args.tag not in spec.tags:
                continue
            print(f"{name}\t{','.join(spec.tags)}")
        return 0
    if not args.name:
        print("error: query name required (or --list)", file=sys.stderr)
        return 2
    if args.name not in REGISTRY:
        print(f"error: unknown query {args.name!r} (see --list)", file=sys.stderr)
        return 2

    if spark is None:
        from ..session import get_spark

        spark = get_spark(app_name=f"run-query-{args.name}")
        spark.sparkContext.setLogLevel("ERROR")

    from ..session_cache import release_caches

    t0 = time.perf_counter()
    df = REGISTRY[args.name].fn(spark, args.sf_dir)
    try:
        if args.timings:
            print(json.dumps({"query": args.name, **plan_timings(df, t0)}), file=sys.stderr)
            return 0
        if args.explain:
            df.explain(mode="formatted")
            return 0
        if args.output:
            df.write.mode("overwrite").format(args.format).save(args.output)
            print(json.dumps({"query": args.name, "output": args.output, "format": args.format}))
            return 0
        for row in df.limit(args.limit).collect():
            print(json.dumps(row.asDict(), default=str))
        return 0
    finally:
        release_caches()


if __name__ == "__main__":  # pragma: no cover
    sys.exit(run())
