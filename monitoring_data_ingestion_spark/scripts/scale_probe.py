"""One-off sf1 scale probe (SCALE.md): generate a 10x dataset and measure
whether the headline plans' shapes survive the scale-up.

The driver fixtures stop at sf0.1; the engine's 100 TB claims are argued
from plan shape. This script grounds them with one measured 10x point:

* ``gen`` synthesizes an sf1 directory (default /tmp/sf1) from the sf0.1
  fixtures — relational tables are scaled 10x by key-shifted copies
  (FK-consistent: orderkey/custkey shift together; dims stay fixed, as
  in TPC-H scaling), documents are regenerated from the fixture's
  empirical vocabulary/length/dup-rate, embeddings from a 10-cluster
  Gaussian mixture matched to the fixture's dimension and spread.
* ``run`` executes the N most expensive headline queries at a given
  sf dir, reports best-of-2 wall seconds and the final (post-AQE)
  physical-plan operator mix (broadcast vs sort-merge joins, skew
  splits), and prints one JSON line per query.

The generated directory is throwaway (not part of the repo; the fixture
dirs under /root/testdata are read-only and unchanged).
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

PROBE_QUERIES = (
    "dedup_minhash_lsh",
    "knn_ivf",
    "q5_region_revenue",
    "q1_pricing_summary",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_capped",
)

SF01 = "/root/testdata/sf0.1"


def _write_single_file(df, out_dir: str, name: str) -> None:
    """Write one table as a single `<name>.parquet` FILE, matching the
    fixture layout (the streaming file source discovers tables by file
    name via pathGlobFilter — a directory named events.parquet would hide
    its part files from the glob).

    Row groups are bounded at 8 MB: a parquet row group is the minimum
    read unit, so a coalesce(1) file with one default-128 MB row group
    collapses every scan to ONE task no matter how many byte-range
    splits the planner makes (measured: q1 at sf1 went 1.5 s → 14.5 s
    under a single-row-group lineitem). Single-FILE tables are a test
    convenience; single-ROW-GROUP tables are a scan-parallelism bug."""
    import glob
    import shutil

    tmp = os.path.join(out_dir, f".tmp-{name}")
    df.coalesce(1).write.option("parquet.block.size", 8 * 1024 * 1024).mode(
        "overwrite"
    ).parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    dest = os.path.join(out_dir, f"{name}.parquet")
    if os.path.isdir(dest):
        shutil.rmtree(dest)
    elif os.path.exists(dest):
        os.remove(dest)
    os.rename(part, dest)
    shutil.rmtree(tmp)


def _gen_relational(spark, out_dir: str, factor: int) -> None:
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{SF01}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF01}/lineitem.parquet")
    customer = spark.read.parquet(f"{SF01}/customer.parquet")
    k_order = orders.agg(F.max("o_orderkey")).first()[0] + 1
    k_cust = customer.agg(F.max("c_custkey")).first()[0] + 1

    def shifted(df, col_shifts: dict[str, int], i: int):
        for c, k in col_shifts.items():
            df = df.withColumn(c, F.col(c) + F.lit(i * k))
        return df

    def scale(df, col_shifts):
        out = df
        for i in range(1, factor):
            out = out.unionAll(shifted(df, col_shifts, i))
        return out

    _write_single_file(scale(lineitem, {"l_orderkey": k_order}), out_dir, "lineitem")
    _write_single_file(
        scale(orders, {"o_orderkey": k_order, "o_custkey": k_cust}), out_dir, "orders"
    )
    _write_single_file(scale(customer, {"c_custkey": k_cust}), out_dir, "customer")
    events = spark.read.parquet(f"{SF01}/events.parquet")
    k_event = events.agg(F.max("event_id")).first()[0] + 1
    k_user = events.agg(F.max("user_id")).first()[0] + 1
    # Same time range, 10x event/user density — how a stream table grows.
    _write_single_file(
        scale(events, {"event_id": k_event, "user_id": k_user}), out_dir, "events"
    )
    for dim in ("supplier", "part", "nation", "region"):
        _write_single_file(spark.read.parquet(f"{SF01}/{dim}.parquet"), out_dir, dim)


def _gen_documents(out_dir: str, factor: int, seed: int = 42) -> None:
    """Regenerate documents at 10x from the fixture's empirical stats:
    token vocabulary + frequencies, tokens-per-doc distribution, lang/
    source mix, and the planted exact-duplicate rate."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT text, lang, source FROM '{SF01}/documents.parquet'"
    ).fetchall()
    con.close()
    rng = np.random.default_rng(seed)
    vocab: dict[str, int] = {}
    lengths = []
    langs = [r[1] for r in rows]
    sources = [r[2] for r in rows]
    n_dup_groups = 0
    seen_texts: set[str] = set()
    for text, _, _ in rows:
        toks = text.split()
        lengths.append(len(toks))
        for t in toks:
            vocab[t] = vocab.get(t, 0) + 1
        if text in seen_texts:
            n_dup_groups += 1
        seen_texts.add(text)
    words = np.array(sorted(vocab))
    freqs = np.array([vocab[w] for w in words], dtype=np.float64)
    freqs /= freqs.sum()
    n_docs = len(rows) * factor
    dup_rate = max(n_dup_groups / len(rows), 0.001)

    texts: list[str] = []
    for i in range(n_docs):
        if texts and rng.random() < dup_rate:
            texts.append(texts[rng.integers(0, len(texts))])  # planted dup
            continue
        n_tok = int(lengths[rng.integers(0, len(lengths))])
        texts.append(" ".join(rng.choice(words, size=n_tok, p=freqs)))
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array([langs[i % len(langs)] for i in range(n_docs)]),
            "source": pa.array([sources[i % len(sources)] for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, f"{out_dir}/documents.parquet")


def _gen_embeddings(out_dir: str, factor: int, seed: int = 42) -> None:
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    con = duckdb.connect()
    n, dim, n_labels = con.execute(
        f"SELECT COUNT(*), MAX(len(embedding)), COUNT(DISTINCT label) "
        f"FROM '{SF01}/embeddings.parquet'"
    ).fetchone()
    sample = np.array(
        con.execute(
            f"SELECT embedding FROM '{SF01}/embeddings.parquet' LIMIT 500"
        ).fetchnumpy()["embedding"].tolist()
    )
    con.close()
    rng = np.random.default_rng(seed)
    scale = float(np.std(sample))
    centroids = rng.normal(0, scale * 2.0, (n_labels, dim))
    n_out = n * factor
    labels = rng.integers(0, n_labels, n_out)
    vecs = centroids[labels] + rng.normal(0, scale, (n_out, dim))
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n_out), pa.int64()),
            "embedding": pa.array(
                vecs.astype(np.float32).tolist(), pa.list_(pa.float32())
            ),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )
    pq.write_table(tbl, f"{out_dir}/embeddings.parquet")


def _plan_markers(df) -> dict[str, int | bool]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "broadcast_hash_join": plan.count("BroadcastHashJoin"),
        "sort_merge_join": plan.count("SortMergeJoin"),
        "shuffled_hash_join": plan.count("ShuffledHashJoin"),
        "exchanges": plan.count("Exchange"),
        "aqe_skew_split": "isSkew=true" in plan or "skewed" in plan.lower(),
        "aqe_final": "AdaptiveSparkPlan isFinalPlan=true" in plan,
    }


def run_probe(spark, sf_dir: str, queries=PROBE_QUERIES) -> dict:
    from monitoring_data_ingestion_spark.plans import REGISTRY
    from monitoring_data_ingestion_spark.session_cache import release_caches

    out = {}
    for name in queries:
        spec = REGISTRY[name]
        best = None
        markers = None
        for _ in range(2):
            t0 = time.perf_counter()
            df = spec.fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            if markers is None:
                df.collect()  # finalize AQE on a materialized run
                markers = _plan_markers(df)
        release_caches()
        out[name] = {"sec": round(best, 3), **markers}
        print(json.dumps({"query": name, "sf_dir": sf_dir, **out[name]}), flush=True)
    return out


def grid_pipeline_probe(spark, n_cells: int, label: str) -> dict:
    """Run the flagship streaming anomaly pipeline end-to-end (landing
    gen → gridmonths source → normals → broadcast anomaly join →
    idempotent partitioned publish) at a given per-axis grid density and
    report drained wall seconds plus the anomaly join's plan markers.

    The default fixture is 8×8 cells; n_cells=26 is ~10.6× the cells —
    the VERDICT r5 gap: the flagship had no measured 10× point because
    the grid fixture didn't scale with the sf knob."""
    import shutil
    import tempfile

    from monitoring_data_ingestion_spark.grid.fixture import write_grid_landing
    from monitoring_data_ingestion_spark.sources.python_datasource import (
        FORMAT_NAME,
        register,
    )
    from monitoring_data_ingestion_spark.streaming.pipeline import (
        anomaly_transform,
        monthly_anomaly_query,
        monthly_normals,
    )

    base = tempfile.mkdtemp(prefix=f"mdi_grid_probe_{label}_")
    landing = os.path.join(base, "landing")
    normals = None
    try:
        write_grid_landing(spark, landing, "1992-01", "1994-12", n_cells=n_cells)
        register(spark)
        history = spark.read.format(FORMAT_NAME).option("path", landing).load()
        # persisted: the stream-static join re-evaluates its static side
        # on every trigger, so unpersisted normals would re-run the
        # full-history aggregate once per month-file
        normals = monthly_normals(history, (1992, 1993)).persist()
        t0 = time.perf_counter()
        q = monthly_anomaly_query(
            spark,
            landing,
            normals,
            out_dir=os.path.join(base, "out"),
            checkpoint_dir=os.path.join(base, "ckpt"),
            commit_dir=os.path.join(base, "commit"),
            available_now=True,
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        rows = spark.read.parquet(os.path.join(base, "out")).count()
        # The stream-static anomaly join compiles to the same physical
        # join as the batch form — capture its markers at this density.
        batch = anomaly_transform(history, normals)
        batch.write.format("noop").mode("overwrite").save()
        markers = _plan_markers(batch)
        out = {
            "n_cells_axis": n_cells,
            "cells": n_cells * n_cells,
            "sec": round(wall, 3),
            "published_rows": rows,
            **markers,
        }
        print(json.dumps({"query": "era5_grid_anomaly_pipeline", "density": label, **out}), flush=True)
        return out
    finally:
        if normals is not None:
            normals.unpersist()
        shutil.rmtree(base, ignore_errors=True)


def grib_landing_probe(spark, n_months: int) -> dict:
    """Scale the GRIB landing queries along the dimension that actually
    grows at 100 TB: the ARCHIVE (file count), not the relational
    fixtures — `grid_grib1_landing_scan` and
    `stream_grib1_anomaly_pipeline` read a fixed-size landing regardless
    of sf_dir, so their SCALE cells come from a throwaway landing of
    ``n_months`` files (12 = the catalog fixture, 36 = 3×, 120 = 10×).

    Measures (best of 2) the batch scan→cells→aggregate shape and the
    streaming one-file-per-trigger anomaly drain (fresh checkpoint each
    run — a resumed checkpoint would drain nothing and time the no-op)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from monitoring_data_ingestion_spark.grid.grib1 import encode_grib1_message
    from monitoring_data_ingestion_spark.sources.grib_source import (
        grib1_cells,
        grib1_records,
        grib1_records_stream,
    )

    base = tempfile.mkdtemp(prefix=f"mdi_grib_probe_{n_months}_")
    landing = os.path.join(base, "landing")
    os.makedirs(landing)
    try:
        i = np.arange(10)[None, :]
        j = np.arange(6)[:, None]
        for t in range(n_months):
            year, month = 2020 + t // 12, t % 12 + 1
            msgs = []
            for p, param in enumerate((11, 61)):
                v = 100 + 50 * p + 2 * ((t * 17 + p * 23 + i * 3 + j * 5) % 50)
                msgs.append(
                    encode_grib1_message(
                        v.astype(np.float64),
                        parameter=param,
                        reftime=(year, month, 1, 0, 0),
                        reference_value=float(100 + 50 * p),
                        binary_scale=1,
                        nbits=8,
                    )
                )
            with open(
                os.path.join(landing, f"era5_{year}_{month:02d}.grib"), "wb"
            ) as f:
                f.write(b"".join(msgs))

        def scan_once() -> float:
            t0 = time.perf_counter()
            cells = grib1_cells(grib1_records(spark, landing))
            agg = cells.groupBy("year", "month", "parameter").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("bigint")).alias("s"),
            )
            agg.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        scan_sec = min(scan_once() for _ in range(2))

        history = grib1_cells(grib1_records(spark, landing))
        normals = history.groupBy("parameter", "lat_mdeg", "lon_mdeg").agg(
            F.avg("value").alias("normal")
        )

        def drain_once(k: int) -> float:
            ckpt = os.path.join(base, f"ckpt{k}")
            stream = grib1_cells(
                grib1_records_stream(spark, landing, max_files_per_trigger=1)
            )
            anomaly = stream.join(
                F.broadcast(normals), ["parameter", "lat_mdeg", "lon_mdeg"]
            ).select(
                "month",
                "parameter",
                (F.col("value") - F.col("normal")).alias("anomaly"),
            )
            t0 = time.perf_counter()
            q = (
                anomaly.writeStream.format("noop")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return time.perf_counter() - t0

        stream_sec = min(drain_once(k) for k in range(2))
        out = {
            "n_months": n_months,
            "files": n_months,
            "scan_sec": round(scan_sec, 3),
            "stream_sec": round(stream_sec, 3),
        }
        print(json.dumps({"query": "grib_landing_probe", **out}), flush=True)
        return out
    finally:
        shutil.rmtree(base, ignore_errors=True)


def main() -> None:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "run"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1"
    from monitoring_data_ingestion_spark.session import get_spark

    spark = get_spark(app_name="mdi-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    if cmd == "gen":
        os.makedirs(out_dir, exist_ok=True)
        _gen_relational(spark, out_dir, factor=10)
        _gen_documents(out_dir, factor=10)
        _gen_embeddings(out_dir, factor=10)
        print(f"generated sf1 at {out_dir}")
    elif cmd == "run":
        names = tuple(sys.argv[3:]) or PROBE_QUERIES
        run_probe(spark, out_dir, queries=names)
    elif cmd == "grid-probe":
        grid_pipeline_probe(spark, n_cells=8, label="1x")
        grid_pipeline_probe(spark, n_cells=26, label="10.6x")
    elif cmd == "grib-probe":
        for m in (12, 36, 120):
            grib_landing_probe(spark, m)
    elif cmd == "run-headline":
        from monitoring_data_ingestion_spark.plans import REGISTRY

        names = tuple(sorted(n for n, s in REGISTRY.items() if s.headline))
        run_probe(spark, out_dir, queries=names)
    else:
        raise SystemExit(f"unknown command {cmd}")


if __name__ == "__main__":
    main()
