"""Streaming catalog queries: the Structured Streaming engine run to
completion (Trigger.AvailableNow) and hash-checked against the same DuckDB
oracles as the batch engine.

These are not batch re-implementations — each one builds a streaming plan
(file source → watermark/state → sink), drains it through the real
streaming runtime (micro-batches, state store, incremental execution), and
returns the materialized result. Equality with the batch oracle is the
engine's replayability contract: a query moved between the batch and
streaming engines returns identical values (T1/T2/T6/T7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.deterministic import exact_sum, exact_sum_sql
from ..grid.fixture import grid_oracle_sql
from ..sources.readers import table
from ..streaming.ops import purchase_click_interval_join, tumbling_window_agg
from ..streaming.sinks import run_available_now_to_memory
from ..streaming.sources import events_stream
from ..streaming.stateful import running_user_stats
from .catalog import query


@query(
    "stream_tumbling_hourly",
    tags=("streaming", "window"),
    oracle=f"""
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {exact_sum_sql('value', 6)} AS total_value
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
""",
)
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation through the streaming engine (complete
    mode): window() state in the state store, epoch-aligned 1-hour windows
    — value-identical to the batch date_trunc form (ts_tumbling_hourly).

    Scale: with a real unbounded source this exact plan runs with append
    mode + watermark eviction; complete mode here makes the bounded drain
    emit every window for the oracle comparison.
    """
    src = events_stream(spark, sf_dir)
    agg = tumbling_window_agg(src, duration="1 hour", keys=("event_type",))
    out = run_available_now_to_memory(agg, output_mode="complete")
    return out.orderBy("window_start", "event_type")


@query(
    "stream_dedup_union",
    tags=("streaming", "dedup"),
    oracle="""
SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
FROM events
ORDER BY event_id
""",
)
def stream_dedup_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup under duplicate delivery: the source unioned
    with itself (every event delivered twice) → dropDuplicates on the key
    restores exactly-once output (U2/T2: the reference's re-queue dedup).

    State note: keyed dedup state here is unbounded by design so the
    duplicate-delivery equality is exact; the bounded-state production
    form is streaming/ops.dedup_within_watermark (tested separately).
    """
    src = events_stream(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    doubled = src.union(src)
    deduped = doubled.dropDuplicates(["event_id"])
    out = run_available_now_to_memory(deduped, output_mode="append")
    return out.orderBy("event_id")


@query(
    "stream_stateful_user_stats",
    tags=("streaming", "stateful"),
    oracle="""
SELECT user_id, COUNT(*) AS n_events,
       CAST(MIN(ts) AS TIMESTAMP) AS first_ts,
       CAST(MAX(ts) AS TIMESTAMP) AS last_ts
FROM events GROUP BY user_id ORDER BY user_id
""",
)
def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) running per-user
    (count, min ts, max ts) state across micro-batches — the generalized
    normals-cache (T7). The memory sink accumulates one update row per
    (key, batch); the final max-aggregate collapses them to the last state,
    which must equal the batch GROUP BY.
    """
    src = events_stream(spark, sf_dir)
    updates = running_user_stats(src)
    out = run_available_now_to_memory(updates, output_mode="update")
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.min("first_ts_us").alias("first_us"),
            F.max("last_ts_us").alias("last_us"),
        )
        .select(
            "user_id",
            "n_events",
            F.timestamp_micros(F.col("first_us")).alias("first_ts"),
            F.timestamp_micros(F.col("last_us")).alias("last_ts"),
        )
        .orderBy("user_id")
    )


@query(
    "stream_sliding_halfhour",
    tags=("streaming", "window"),
    oracle=f"""
WITH grid AS (
  SELECT to_timestamp((CAST(floor(epoch(ts) / 1800) AS BIGINT) - k) * 1800) AS window_start,
         value
  FROM events, UNNEST(generate_series(0, 1)) AS t(k)
)
SELECT CAST(window_start AS TIMESTAMP) AS window_start,
       COUNT(*) AS n_events,
       {exact_sum_sql('value', 6)} / COUNT(value) AS mean_value
FROM grid GROUP BY 1 ORDER BY window_start
""",
)
def stream_sliding_halfhour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping windows (1 h duration, 30 min slide) through the streaming
    engine: every event belongs to exactly two windows on the 30-minute
    epoch grid. The oracle reproduces the window algebra explicitly
    (floor-to-slide-grid minus k slides, k ∈ {0,1}) — pinning Spark's
    window() placement semantics, not just row counts.
    """
    from ..streaming.ops import sliding_window_agg

    src = events_stream(spark, sf_dir)
    agg = sliding_window_agg(src, duration="1 hour", slide="30 minutes")
    out = run_available_now_to_memory(agg, output_mode="complete")
    return out.orderBy("window_start")


@query(
    "stream_session_windows",
    tags=("streaming", "window", "session"),
    oracle=f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
  FROM events
), numbered AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT CAST(MIN(ts) AS TIMESTAMP) AS session_start,
       CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
       user_id,
       COUNT(*) AS n_events,
       {exact_sum_sql('value', 6)} AS session_value
FROM numbered
GROUP BY user_id, session_id
ORDER BY user_id, session_start
""",
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window through the streaming engine vs the batch
    gaps-and-islands oracle: a session's end is last-event + gap (Spark's
    session_window convention), its start the first event — boundary
    equality here proves the stateful session merge matches the analytic
    formulation exactly (T6/T3).
    """
    from ..streaming.ops import session_window_agg

    src = events_stream(spark, sf_dir)
    agg = session_window_agg(src, gap="30 minutes", keys=("user_id",))
    out = run_available_now_to_memory(agg, output_mode="complete")
    return out.orderBy("user_id", "session_start")


@query(
    "stream_static_enrich",
    tags=("streaming", "join"),
    oracle=f"""
SELECT user_id % 5 AS tier,
       COUNT(*) AS n_events,
       {exact_sum_sql('value', 6)} AS total_value
FROM events
GROUP BY 1
ORDER BY tier
""",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join (J2 through the streaming engine): the event
    stream is enriched against a STATIC broadcast dimension (user → tier)
    inside the micro-batch plan, then aggregated per tier — the streaming
    form of the reference's grid⋈normals broadcast join
    (/root/reference/src/sources/era5monthly.js:79-92).

    Scale: the static side is read once per micro-batch and broadcast, so
    the stream side never shuffles for the join — state exists only for
    the downstream aggregation (|tiers| rows).
    """
    static_tiers = (
        table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .withColumn("tier", F.pmod(F.col("user_id"), F.lit(5)))
    )
    src = events_stream(spark, sf_dir)
    enriched = src.join(F.broadcast(static_tiers), "user_id")
    agg = enriched.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum("value", 6).alias("total_value"),
    )
    out = run_available_now_to_memory(agg, output_mode="complete")
    return out.orderBy("tier")


@query(
    "stream_stream_interval_join",
    tags=("streaming", "join", "range"),
    oracle="""
SELECT p.event_id AS purchase_id, c.event_id AS click_id,
       p.user_id AS user_id,
       CAST(date_diff('second', p.ts, c.ts) AS BIGINT) AS lag_seconds
FROM events p JOIN events c
  ON c.user_id = p.user_id
 AND c.ts >= p.ts
 AND c.ts < p.ts + INTERVAL 30 MINUTE
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
ORDER BY purchase_id, click_id
""",
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join (§2.9 generalized): clicks within 30
    minutes after a purchase by the same user, both sides unbounded
    streams joined inside the streaming engine.

    This is the join state-store contract: each side is watermarked, the
    time-range condition bounds how long a purchase waits for matching
    clicks, so per-key join state is evicted once the watermark passes
    ``p_ts + 30 min`` — bounded state on unbounded input (eviction is
    asserted against stateOperators metrics across paced triggers in
    tests/test_streaming.py). The batch oracle is the same relational
    join; equality is the engine's batch↔streaming replayability
    guarantee (T1/T2).

    Scale: state is partitioned by user_id (the equi half of the
    condition); the interval bound keeps each user's buffered rows to a
    30-minute window regardless of stream length.
    """
    joined = purchase_click_interval_join(events_stream(spark, sf_dir))
    out = run_available_now_to_memory(joined, output_mode="append")
    return out.orderBy("purchase_id", "click_id")


_GRID_START, _GRID_END = "1992-01", "1994-12"  # 36 months
_NORMAL_YEARS = (1992, 1993)


@query(
    "era5_grid_anomaly_pipeline",
    tags=("streaming", "grid", "anomaly", "pipeline"),
    oracle=f"""
WITH {grid_oracle_sql(_GRID_START, _GRID_END)},
normals AS (
  SELECT lat, lon, variable, month(time) AS month,
         AVG(value) AS normal_value
  FROM grid WHERE year(time) IN {_NORMAL_YEARS}
  GROUP BY 1, 2, 3, 4
)
SELECT g.time, g.lat, g.lon, g.variable, g.value,
       g.value - n.normal_value AS anomaly
FROM grid g LEFT JOIN normals n
  ON g.lat = n.lat AND g.lon = n.lon AND g.variable = n.variable
 AND month(g.time) = n.month
ORDER BY g.time, g.variable, g.lat, g.lon
""",
)
def era5_grid_anomaly_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE service loop on the real grid fixture: a
    36-month gridmonths landing dir → custom Python streaming source
    (month cursor as the offset) → sentinel→NULL → broadcast normals
    rasters → anomaly subtract → idempotent month-partitioned publish — then the
    published dataset read back as the result
    (/root/reference/src/rabbit.js:28-61, src/sources/era5monthly.js:36-155).

    The oracle regenerates the closed-form grid and recomputes
    normals/anomaly relationally — so the hash gate witnesses the whole
    dataflow THROUGH the streaming runtime, checkpoint, and partitioned
    sink, not a batch re-statement.

    Scale: each micro-batch is one month of grid scanned executor-side;
    normals broadcast as one dense raster per (variable, month)
    (|vars|×12 rows, each cell's normal found by index arithmetic); the
    idempotent partitioned write runs in the scan's tasks, so no stage
    shuffles. sf_dir is unused — the grid is the
    reference's own data model, independent of the relational fixtures.
    """
    import os

    from ..grid.fixture import write_grid_landing
    from ..session_cache import scratch_tree
    from ..streaming.pipeline import monthly_anomaly_query, monthly_normals
    from ..sources.python_datasource import FORMAT_NAME, register

    # ONE fixed tree per Spark session, not a fresh mkdtemp per
    # invocation: repeated runs reuse the landing data and the
    # checkpoint — the second invocation is a no-op resume through the
    # same exactly-once machinery (T2 replay).
    base = scratch_tree(
        spark,
        "mdi_era5_pipeline",
        lambda b: write_grid_landing(spark, os.path.join(b, "landing"), _GRID_START, _GRID_END),
    )
    landing = os.path.join(base, "landing")

    register(spark)
    history = spark.read.format(FORMAT_NAME).option("path", landing).load()
    # persisted: the stream-static join re-executes the static side per
    # micro-batch — unpersisted, the full-history aggregate recomputes
    # once per month-file (the table is |vars|x12 rasters of |cells|)
    normals = monthly_normals(history, _NORMAL_YEARS).persist()

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

    published = spark.read.parquet(os.path.join(base, "out"))
    return published.select("time", "lat", "lon", "variable", "value", "anomaly").orderBy(
        "time", "variable", "lat", "lon"
    )


@query(
    "stream_late_landing_pickup",
    tags=("streaming", "ingest", "pipeline"),
    oracle="""
SELECT m.m AS month,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM((m.m * 31 + i.i * 7) % 97) AS BIGINT) AS vsum
FROM UNNEST(generate_series(1, 12)) AS m(m),
     UNNEST(generate_series(0, 9)) AS i(i)
GROUP BY m.m
ORDER BY month
""",
)
def stream_late_landing_pickup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATE-LANDED OLD-MTIME file pickup through the streaming file
    source — the driver witness for the r13 ``maxFileAge`` hardening
    (streaming/sources.py): FileStreamSource's 7-day default, measured
    against the NEWEST file seen, silently drops a late-landed file
    whose mtime is old — an ``rsync``/``cp -p`` backfill into a watched
    landing directory is exactly that shape (the reference's archive
    feed delivers months out of order the same way).  The landing
    pattern defaults to effectively-unbounded age; if that default ever
    regressed, this query would lose month 12 and hash-mismatch.

    Two-phase drain through ONE checkpoint: months 1-11 land fresh and
    drain through an AvailableNow pass into the idempotent parquet
    sink; month 12 then lands with its mtime BACKDATED to 2000-01-01
    (decades older than the seen-files window) and a resume drain
    through the same checkpoint must pick it up.  Repeated invocations
    re-resume and find nothing new, so the published dataset is stable
    — the same session-keyed reuse contract as the flagship pipeline.

    Scale: pass-through file stream, no stateful operator — the cost is
    one directory listing per trigger; the exactly-once file tracking
    rides the checkpoint like every landing stream.  sf_dir is unused —
    the landing is the source's own data model.
    """
    import os

    import pandas as pd

    from ..session_cache import scratch_tree
    from ..streaming.sources import file_stream

    def month_file(base: str, m: int) -> str:
        return os.path.join(base, "landing", f"month_{m:02d}.parquet")

    def write_month(base: str, m: int) -> None:
        pd.DataFrame(
            {
                "month": [m] * 10,
                "i": list(range(10)),
                "value": [(m * 31 + i * 7) % 97 for i in range(10)],
            }
        ).to_parquet(month_file(base, m), index=False)

    def drain(base: str) -> None:
        stream = file_stream(
            spark,
            os.path.join(base, "landing"),
            spark.read.parquet(month_file(base, 1)).schema,
            path_glob="month_*.parquet",
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", os.path.join(base, "out"))
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):  # pragma: no cover - hang guard
            q.stop()
            raise TimeoutError("late-landing drain did not finish")

    def build(base: str) -> None:
        os.makedirs(os.path.join(base, "landing"))
        for m in range(1, 12):
            write_month(base, m)
        drain(base)  # months 1-11 commit through the checkpoint
        # month 12 lands LATE with a decades-old preserved mtime — the
        # exact shape the 7-day default silently skips
        write_month(base, 12)
        backdate = 946_684_800  # 2000-01-01T00:00:00Z
        os.utime(month_file(base, 12), (backdate, backdate))

    base = scratch_tree(spark, "mdi_late_landing", build)
    drain(base)  # resume: must pick up the backdated month 12
    published = spark.read.parquet(os.path.join(base, "out"))
    return (
        published.groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("value").alias("vsum"),
        )
        .orderBy("month")
    )


@query(
    "stream_ohlc_hourly",
    tags=("streaming", "window", "timeseries"),
    oracle="""
WITH b AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
         event_type, ts, event_id, value
  FROM events
), r AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY window_start, event_type
                            ORDER BY ts, event_id) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY window_start, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM b
)
SELECT window_start, event_type,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
       COUNT(*) AS n_events
FROM r GROUP BY 1, 2
ORDER BY window_start, event_type
""",
)
def stream_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars through the streaming engine: open/close are struct
    min/max — ORDINARY mergeable aggregates, so the bar needs no ordered
    replay of the stream; per-bar state is six scalars however many events
    arrive, and the drained result is value-identical to the batch form
    (ts_ohlc_resample) and its oracle — the replayability contract for
    the resample family. This harness drains in COMPLETE mode (retains
    every bar) so trailing bars inside the watermark delay still appear
    for the equality check; the production append-mode path, where the
    watermark actually evicts closed bars, is witnessed by
    tests/test_streaming.py::test_ohlc_append_mode_evicts_closed_bars.
    """
    from ..streaming.ops import ohlc_window_agg

    src = events_stream(spark, sf_dir)
    agg = ohlc_window_agg(src, duration="1 hour", keys=("event_type",))
    out = run_available_now_to_memory(agg, output_mode="complete")
    return out.orderBy("window_start", "event_type")


@query(
    "stream_gap_alerts",
    tags=("streaming", "stateful", "monitoring"),
    oracle="""
WITH d AS (
  SELECT user_id,
         epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           AS gap_start_us,
         epoch_us(ts) AS gap_end_us
  FROM events
)
SELECT user_id, gap_start_us, gap_end_us,
       gap_end_us - gap_start_us AS gap_us
FROM d WHERE gap_end_us - gap_start_us > 86400000000
ORDER BY user_id, gap_end_us
""",
)
def stream_gap_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heartbeat-gap alerts through the streaming engine: a custom
    applyInPandasWithState operator carrying ONE timestamp per key across
    micro-batches emits every >24 h silence — per-key liveness that no
    watermarked window can express (a gap spans arbitrarily many
    windows). Value-identical to the batch audit (ts_gap_detection) and
    its window-SQL oracle.

    Caveat stated, not hidden: ties on (ts) within a user are ordered by
    timestamp only in the state machine, so the contract requires unique
    (user_id, ts) — which the fixture satisfies — where the batch form
    uses event_id as tiebreak.
    """
    from ..streaming.stateful import gap_alerts

    src = events_stream(spark, sf_dir)
    out = run_available_now_to_memory(gap_alerts(src), output_mode="append")
    return out.orderBy("user_id", "gap_end_us")


@query(
    "stream_topk_event_types",
    tags=("streaming", "window", "topk"),
    oracle="""
WITH hourly AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
         event_type, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT window_start, event_type, n_events,
         ROW_NUMBER() OVER (PARTITION BY window_start
                            ORDER BY n_events DESC, event_type) AS rk
  FROM hourly
)
SELECT window_start, event_type, n_events, CAST(rk AS INTEGER) AS rk
FROM ranked WHERE rk <= 3
ORDER BY window_start, rk
""",
)
def stream_topk_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending top-k through the streaming engine: per-hour event-type
    counts maintained as streaming window state, with the top-3 ranking
    applied to the drained result — the dashboard 'what's trending this
    hour' feed. Ranking is NOT a streaming operator (a rank can demote
    retroactively, which append-mode sinks cannot express; Spark rejects
    row_number on an unaggregated stream), so the decomposition IS the
    production shape: mergeable counts in the stream, rank at read time
    — exactly how a serving layer pages a leaderboard off the store.

    Scale: streaming state is one counter per (window, type) — mergeable,
    watermark-evictable in append mode (see ohlc's mode note); the rank
    runs over |windows|×|types| aggregated rows, never events.
    """
    src = events_stream(spark, sf_dir)
    agg = tumbling_window_agg(src, duration="1 hour", keys=("event_type",))
    out = run_available_now_to_memory(agg, output_mode="complete")
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), "event_type"
    )
    return (
        out.select("window_start", "event_type", "n_events")
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
        .orderBy("window_start", "rk")
    )


@query(
    "stream_psi_drift",
    tags=("streaming", "dq", "drift"),
    oracle="""
WITH h AS (
  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
         CAST(LEAST(CAST(FLOOR(value / 50.0) AS BIGINT), 9) AS BIGINT) AS bin
  FROM events
), mids AS (
  SELECT (MIN(hr) + MAX(hr) - (MIN(hr) + MAX(hr)) % 2) // 2 AS mid FROM h
), counts AS (
  SELECT bin,
         SUM(CASE WHEN hr <  mid THEN 1 ELSE 0 END) AS n_ref,
         SUM(CASE WHEN hr >= mid THEN 1 ELSE 0 END) AS n_cur
  FROM h CROSS JOIN mids GROUP BY bin
), tots AS (
  SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM counts
), rates AS (
  SELECT c.bin,
         CAST(c.n_ref AS BIGINT) AS n_ref, CAST(c.n_cur AS BIGINT) AS n_cur,
         (c.n_ref + 0.5) / (t.t_ref + 0.5 * 10) AS p_ref,
         (c.n_cur + 0.5) / (t.t_cur + 0.5 * 10) AS p_cur
  FROM counts c CROSS JOIN tots t
)
SELECT bin, n_ref, n_cur,
       ROUND((p_cur - p_ref) * ln(p_cur / p_ref), 6) AS psi_contribution,
       ROUND(SUM((p_cur - p_ref) * ln(p_cur / p_ref)) OVER (), 6) AS psi_total
FROM rates ORDER BY bin""",
)
def stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift scoring through the streaming engine — the streaming
    parity of ``dq_psi_drift``. The stream maintains MERGEABLE state
    only: per (hour-window, value-bin) counts via the real tumbling-
    window aggregation (state store, incremental micro-batches, complete-
    mode drain). The PSI itself — reference/current split at the integer
    midpoint of the observed hour range, Laplace-smoothed rates, per-bin
    contributions — is read-time arithmetic over the drained |hours|×10
    count table, exactly how a monitoring store serves a drift dashboard
    (counts accumulate forever; the score is derived at query time).

    Differs from the batch form only in split granularity (hour-aligned
    midpoint instead of microsecond — counts pre-aggregate to hours in
    the stream, so the split must land on an hour boundary; same exact
    integer floor-halving discipline on both engines).

    Scale: streaming state is one counter per (hour, bin) — mergeable,
    watermark-evictable in append mode (see ohlc's mode note); the
    drift derivation touches aggregated rows only, never events.
    """
    src = events_stream(spark, sf_dir)
    binned = src.select(
        "ts",
        F.least(
            F.floor(F.col("value") / 50.0).cast("bigint"),
            F.lit(9).cast("bigint"),
        ).alias("bin"),
    )
    agg = (
        binned.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            (F.unix_micros(F.col("w.start")) / 3_600_000_000)
            .cast("long")
            .alias("hr"),
            "bin",
            "n",
        )
    )
    out = run_available_now_to_memory(agg, output_mode="complete")
    mids = out.agg(
        (
            (F.min("hr") + F.max("hr"))
            - (F.min("hr") + F.max("hr")) % 2
        ).alias("mid2")
    ).select((F.col("mid2") / 2).cast("long").alias("mid"))
    counts = (
        out.crossJoin(F.broadcast(mids))
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("hr") < F.col("mid"), F.col("n")).otherwise(0)).alias(
                "n_ref"
            ),
            F.sum(F.when(F.col("hr") >= F.col("mid"), F.col("n")).otherwise(0)).alias(
                "n_cur"
            ),
        )
    )
    tots = counts.agg(F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur"))
    p_ref = (F.col("n_ref") + 0.5) / (F.col("t_ref") + 0.5 * 10)
    p_cur = (F.col("n_cur") + 0.5) / (F.col("t_cur") + 0.5 * 10)
    contrib = (p_cur - p_ref) * F.log(p_cur / p_ref)
    rates = counts.crossJoin(F.broadcast(tots)).select(
        "bin",
        F.col("n_ref").cast("bigint").alias("n_ref"),
        F.col("n_cur").cast("bigint").alias("n_cur"),
        contrib.alias("contrib"),
    )
    w = Window.partitionBy()
    return rates.select(
        "bin",
        "n_ref",
        "n_cur",
        F.round("contrib", 6).alias("psi_contribution"),
        F.round(F.sum("contrib").over(w), 6).alias("psi_total"),
    ).orderBy("bin")


@query(
    "stream_grib1_anomaly_pipeline",
    tags=("streaming", "grid", "codec", "anomaly", "pipeline"),
    oracle="""
WITH cells AS (
  SELECT m.m AS m, p.p AS p, i.i AS i, j.j AS j,
         100 + 50 * p.p + 2 * ((m.m * 17 + p.p * 23 + i.i * 3 + j.j * 5) % 50) AS v
  FROM UNNEST(generate_series(0, 11)) AS m(m),
       UNNEST(generate_series(0, 1)) AS p(p),
       UNNEST(generate_series(0, 9)) AS i(i),
       UNNEST(generate_series(0, 5)) AS j(j)
),
normals AS (
  SELECT p, i, j, AVG(CAST(v AS DOUBLE)) AS normal
  FROM cells GROUP BY p, i, j
)
SELECT CAST(c.m + 1 AS INTEGER) AS month,
       CAST(CASE WHEN c.p = 0 THEN 11 ELSE 61 END AS INTEGER) AS parameter,
       CAST(90000 - c.j * 1000 AS INTEGER) AS lat_mdeg,
       CAST(c.i * 1000 AS INTEGER) AS lon_mdeg,
       ROUND(c.v - n.normal, 6) AS anomaly
FROM cells c JOIN normals n ON c.p = n.p AND c.i = n.i AND c.j = n.j
ORDER BY month, parameter, lat_mdeg DESC, lon_mdeg
""",
)
def stream_grib1_anomaly_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's service loop FROM GRIB BYTES through the
    streaming runtime: the shared 12-month ``.grib`` landing directory
    (real files, engine-encoded once per session) drains through
    ``readStream(binaryFile)`` one file per micro-batch → the Arrow
    GRIB1 decode → JVM cell explode → a stream-static broadcast join
    against normals computed from a batch read of the same archive
    (per-parameter, per-cell calendar mean — the reference's
    grib1_normal) → anomaly subtract → append-mode drain. This is
    ``era5_grid_anomaly_pipeline``'s byte-real sibling: that flagship
    streams pre-decoded parquet months; THIS one streams the actual
    download format end-to-end (src/sources/era5monthly.js:172-195 →
    file-conversions.js grib1/grib1_normal/grib1_anomaly), and the
    closed-form oracle hash-checks every decoded cell's anomaly through
    the micro-batch engine.

    Scale: one month-file per micro-batch is the archive's arrival
    unit; the normals table is |params × cells| and broadcasts; the
    stream side is stateless (no watermark state) so the join is
    map-side per batch — the exact posture of the parquet flagship.
    """
    from ..sources.grib_source import grib1_cells, grib1_records, grib1_records_stream
    from .grid_codec_q import ensure_grib1_landing

    landing = ensure_grib1_landing(spark, sf_dir)
    history = grib1_cells(grib1_records(spark, landing))
    normals = history.groupBy("parameter", "lat_mdeg", "lon_mdeg").agg(
        F.avg("value").alias("normal")
    ).persist()  # static side of a per-batch stream-static join
    stream_cells = grib1_cells(
        grib1_records_stream(spark, landing, max_files_per_trigger=1)
    )
    anomaly = stream_cells.join(
        F.broadcast(normals), ["parameter", "lat_mdeg", "lon_mdeg"]
    ).select(
        "month",
        "parameter",
        "lat_mdeg",
        "lon_mdeg",
        F.round(F.col("value") - F.col("normal"), 6).alias("anomaly"),
    )
    out = run_available_now_to_memory(anomaly, output_mode="append")
    return out.orderBy("month", "parameter", F.desc("lat_mdeg"), "lon_mdeg")


@query(
    "era5_grib_anomaly_pipeline",
    tags=("streaming", "grid", "codec", "anomaly", "pipeline"),
    oracle="""
WITH cells AS (
  SELECT t.t // 12 AS y, t.t % 12 AS mo, p.p AS p, i.i AS i, j.j AS j,
         CAST(100 + 50 * p.p + 2 * ((t.t * 17 + p.p * 23 + i.i * 3 + j.j * 5) % 50)
              AS DOUBLE) AS v
  FROM UNNEST(generate_series(0, 35)) AS t(t),
       UNNEST(generate_series(0, 1)) AS p(p),
       UNNEST(generate_series(0, 9)) AS i(i),
       UNNEST(generate_series(0, 5)) AS j(j)
),
normals AS (
  SELECT p, i, j, mo, AVG(v) AS normal
  FROM cells WHERE y < 2 GROUP BY p, i, j, mo
)
SELECT make_timestamp(2020 + c.y, c.mo + 1, 1, 0, 0, 0) AS time,
       (90000 - c.j * 1000) / 1000.0 AS lat,
       (c.i * 1000) / 1000.0 AS lon,
       CASE WHEN c.p = 0 THEN 't2m' ELSE 'tp' END AS variable,
       c.v AS value,
       ROUND(c.v - n.normal, 6) AS anomaly
FROM cells c
JOIN normals n ON c.p = n.p AND c.i = n.i AND c.j = n.j AND c.mo = n.mo
ORDER BY time, variable, lat, lon
""",
)
def era5_grib_anomaly_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship service loop FROM GRIB BYTES with the PUBLISH side
    included — ``era5_grid_anomaly_pipeline``'s byte-real sibling run
    end-to-end: a 36-month (2020-2022) ``.grib`` landing directory drains
    through ``readStream(binaryFile)`` one month-file per micro-batch →
    Arrow GRIB1 decode → JVM cell explode → the SAME
    ``anomaly_transform`` (sentinel→NULL, broadcast normals rasters,
    subtract) and the SAME idempotent month-partitioned publish
    (dynamic partition overwrite + commit marker, output-before-state)
    as the parquet flagship — then the published dataset read back
    (/root/reference/src/rabbit.js:28-61 service loop over
    src/sources/era5monthly.js:172-195 GRIB downloads). Where
    ``stream_grib1_anomaly_pipeline`` proves decode→join→anomaly
    through an append sink, THIS query also witnesses the T2 publish
    machinery from actual bytes; a second invocation resumes the same
    checkpoint and re-publishes nothing.

    The oracle regenerates the landing's closed-form field and restates
    normals/anomaly relationally — the hash gate covers codec, stream,
    join, subtract, AND the partitioned sink round-trip.

    Scale: one month-file per micro-batch (the archive's arrival unit);
    normals broadcast as |vars|×12 rasters; the idempotent partitioned write runs in the
    decode task, so no stage shuffles — the parquet flagship's exact
    posture, now with
    the download format at the front. sf_dir keys only the
    session-cached landing; the data is the engine's own model.
    """
    import os

    from ..sources.grib_source import grib1_cells, grib1_records, grib1_records_stream
    from ..streaming.pipeline import (
        anomaly_transform,
        month_partitioned_writer,
        monthly_normals,
    )
    from ..streaming.sinks import IdempotentForeachBatch
    from ..session_cache import scratch_tree
    from .grid_codec_q import ensure_grib1_landing

    landing = ensure_grib1_landing(spark, sf_dir, n_months=36)
    # One pipeline tree per (session, landing): repeated runs resume the
    # checkpoint through the exactly-once machinery (no re-publish).
    base = scratch_tree(spark, "mdi_grib_flagship", lambda b: None, landing)

    def to_grid(cells: DataFrame) -> DataFrame:
        return cells.select(
            F.expr("make_timestamp(year, month, 1, 0, 0, 0)").alias("time"),
            (F.col("lat_mdeg") / F.lit(1000.0)).alias("lat"),
            (F.col("lon_mdeg") / F.lit(1000.0)).alias("lon"),
            F.when(F.col("parameter") == 11, F.lit("t2m"))
            .otherwise(F.lit("tp"))
            .alias("variable"),
            F.col("value"),
        )

    history = to_grid(grib1_cells(grib1_records(spark, landing)))
    # Climatology = the first two years (2020-2021); 2022's anomalies
    # are genuine out-of-base departures — the reference's normals-vs-
    # current split on the byte-real landing.
    # persisted: 36 micro-batches re-execute the static join side
    normals = monthly_normals(history, (2020, 2021)).persist()

    stream = to_grid(
        grib1_cells(grib1_records_stream(spark, landing, max_files_per_trigger=1))
    )
    result = anomaly_transform(stream, normals)
    out_dir = os.path.join(base, "out")
    sink = IdempotentForeachBatch(
        os.path.join(base, "commit"), month_partitioned_writer(out_dir)
    )
    q = (
        result.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    published = spark.read.parquet(out_dir)
    return (
        published.select(
            "time",
            "lat",
            "lon",
            "variable",
            "value",
            F.round("anomaly", 6).alias("anomaly"),
        ).orderBy("time", "variable", "lat", "lon")
    )


def _ensure_torn_grib1_landing(spark: SparkSession, sf_dir: str) -> str:
    """Session-cached TORN sibling of the 36-month flagship landing:
    every month-file copied verbatim except ``era5_2022_06.grib``,
    which is cut 40 bytes into its second record (tp) — the partial
    download a crashed transfer leaves behind.  Record 1 (t2m) of the
    torn month is intact and must still land."""
    import os

    from ..session_cache import scratch_tree
    from .grid_codec_q import ensure_grib1_landing

    src = ensure_grib1_landing(spark, sf_dir, n_months=36)

    def build(base: str) -> None:
        landing = os.path.join(base, "landing")
        os.makedirs(landing)
        for name in sorted(os.listdir(src)):
            with open(os.path.join(src, name), "rb") as f:
                data = f.read()
            if name == "era5_2022_06.grib":
                rec1_len = int.from_bytes(data[4:7], "big")
                data = data[: rec1_len + 40]
            with open(os.path.join(landing, name), "wb") as f:
                f.write(data)

    return os.path.join(scratch_tree(spark, "mdi_grib_torn", build, src), "landing")


@query(
    "era5_grib_quarantine_publish",
    tags=("streaming", "grid", "codec", "pipeline", "quarantine"),
    oracle="""
WITH cells AS (
  SELECT t.t // 12 AS y, t.t % 12 AS mo, p.p AS p, i.i AS i, j.j AS j,
         CAST(100 + 50 * p.p + 2 * ((t.t * 17 + p.p * 23 + i.i * 3 + j.j * 5) % 50)
              AS DOUBLE) AS v
  FROM UNNEST(generate_series(0, 35)) AS t(t),
       UNNEST(generate_series(0, 1)) AS p(p),
       UNNEST(generate_series(0, 9)) AS i(i),
       UNNEST(generate_series(0, 5)) AS j(j)
),
normals AS (
  SELECT p, i, j, mo, AVG(v) AS normal
  FROM cells WHERE y < 2 GROUP BY p, i, j, mo
),
published AS (
  SELECT make_timestamp(2020 + c.y, c.mo + 1, 1, 0, 0, 0) AS time,
         CASE WHEN c.p = 0 THEN 't2m' ELSE 'tp' END AS variable,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         ROUND(SUM(c.v - n.normal), 6) AS sum_anomaly
  FROM cells c
  JOIN normals n ON c.p = n.p AND c.i = n.i AND c.j = n.j AND c.mo = n.mo
  WHERE NOT (c.y = 2 AND c.mo = 5 AND c.p = 1)
  GROUP BY 1, 2
)
SELECT 'published' AS kind, time, variable, n_rows, sum_anomaly FROM published
UNION ALL
SELECT 'quarantined' AS kind, make_timestamp(2022, 6, 1, 0, 0, 0) AS time,
       CAST(NULL AS VARCHAR) AS variable, CAST(1 AS BIGINT) AS n_rows,
       CAST(NULL AS DOUBLE) AS sum_anomaly
ORDER BY kind, time, variable
""",
)
def era5_grib_quarantine_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship service loop UNDER DAMAGE — the full operational
    story of commit ordering + quarantine: the 36-month byte-real
    landing with one month-file torn mid-record (a partial download)
    drains through the SAME micro-batch pipeline as
    ``era5_grib_anomaly_pipeline``, with ``on_error="quarantine"`` at
    the decode edge.  Every intact record — including the torn month's
    FIRST record, which precedes the tear — publishes through the
    idempotent month-partitioned sink exactly as before; the torn
    record lands as one row in a QUARANTINE MANIFEST parquet beside
    the published dataset (path, record number, the codec's framing
    error), written inside the same exactly-once foreachBatch commit
    (output first, marker last) so a replayed batch rewrites both its
    months AND its manifest slice (batch-keyed overwrite), never
    duplicating either.  One torn record among 100k files becomes a
    re-ingest work item, not a dead job and not silent data loss —
    the posture the reference's service loop needs at archive scale
    (src/rabbit.js:28-61 commit ordering over
    src/sources/era5monthly.js downloads).

    The result reads BOTH datasets back: per-(month, variable)
    published cell counts and anomaly sums, plus the manifest rows
    keyed by the month parsed from the torn file's name — the oracle
    pins that the 71 surviving (month, variable) groups published
    with exact anomaly sums and that exactly one manifest row exists,
    for 2022-06.

    Scale: identical plan shape to the flagship (one Arrow decode
    stage per micro-batch, broadcast normals rasters, month-partitioned
    dynamic overwrite); quarantine is a per-record try/except inside
    the existing decode stage and the manifest write is a tiny
    batch-keyed parquet append — no extra pass over the data, no new
    shuffle.
    """
    import os

    from ..sources.grib_source import (
        grib1_cells,
        grib1_records,
        grib1_records_stream,
    )
    from ..streaming.pipeline import (
        anomaly_transform,
        month_partitioned_writer,
        monthly_normals,
    )
    from ..streaming.sinks import IdempotentForeachBatch
    from ..session_cache import scratch_tree

    landing = _ensure_torn_grib1_landing(spark, sf_dir)
    base = scratch_tree(spark, "mdi_grib_qpub", lambda b: None, landing)

    # Same projection as the flagship (kept local so this query never
    # perturbs the flagship's audited plan): landing cells → the
    # (time, lat, lon, variable, value) grid surface.
    def to_grid(cells: DataFrame) -> DataFrame:
        return cells.select(
            F.expr("make_timestamp(year, month, 1, 0, 0, 0)").alias("time"),
            (F.col("lat_mdeg") / F.lit(1000.0)).alias("lat"),
            (F.col("lon_mdeg") / F.lit(1000.0)).alias("lon"),
            F.when(F.col("parameter") == 11, F.lit("t2m"))
            .otherwise(F.lit("tp"))
            .alias("variable"),
            F.col("value"),
        )

    good_history = grib1_records(spark, landing, on_error="quarantine").filter(
        F.col("error").isNull()
    )
    # persisted: 36 micro-batches re-execute the static join side
    normals = monthly_normals(
        to_grid(grib1_cells(good_history)), (2020, 2021)
    ).persist()

    stream = grib1_records_stream(
        spark, landing, max_files_per_trigger=1, on_error="quarantine"
    )
    out_dir = os.path.join(base, "out")
    manifest_dir = os.path.join(base, "quarantine")
    publish = month_partitioned_writer(out_dir)

    def write_both(batch_df: DataFrame, batch_id: int) -> None:
        # Manifest slice first (batch-keyed overwrite — idempotent
        # under replay), then the month publish; the commit marker
        # follows BOTH, so a crash between them replays the batch and
        # rewrites exactly its own outputs.
        (
            batch_df.filter(F.col("error").isNotNull())
            .select("path", "record_number", "error")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(manifest_dir, f"batch={batch_id}"))
        )
        good = batch_df.filter(F.col("error").isNull())
        publish(anomaly_transform(to_grid(grib1_cells(good)), normals), batch_id)

    sink = IdempotentForeachBatch(os.path.join(base, "commit"), write_both)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    pub = (
        spark.read.parquet(out_dir)
        .groupBy("time", "variable")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("anomaly"), 6).alias("sum_anomaly"),
        )
        .select(
            F.lit("published").alias("kind"),
            "time", "variable", "n_rows", "sum_anomaly",
        )
    )
    man = spark.read.parquet(manifest_dir).select(
        F.lit("quarantined").alias("kind"),
        F.expr(
            "make_timestamp("
            "  cast(regexp_extract(path, 'era5_(\\\\d{4})_(\\\\d{2})', 1) as int),"
            "  cast(regexp_extract(path, 'era5_(\\\\d{4})_(\\\\d{2})', 2) as int),"
            "  1, 0, 0, 0)"
        ).alias("time"),
        F.lit(None).cast("string").alias("variable"),
        F.lit(1).cast("bigint").alias("n_rows"),
        F.lit(None).cast("double").alias("sum_anomaly"),
    )
    return pub.unionByName(man).orderBy("kind", "time", "variable")


def _spectral_stream_ref() -> str:
    """Closed-form (month, rn, val_sum, latw) VALUES rows for the
    6-month spectral landing, from the INDEPENDENT formulation —
    derivative-definition associated Legendre with explicit factorial
    normalization on numpy.leggauss quadrature roots, explicit
    triple-loop synthesis — the oracle-side second implementation of
    the engine's Newton/Bonnet latitudes + recurrence Legendre +
    vectorized synthesis (see plans/grid_spectral_q._synth_ref)."""
    import math

    import numpy as np
    from numpy.polynomial import legendre as L

    from .grid_spectral_q import _spectral_coeffs

    nodes, _ = np.polynomial.legendre.leggauss(6)
    mu = np.sort(nodes)[::-1]
    lat_w = np.round(np.degrees(np.arcsin(mu)) * 1e6) / 1e6
    lon = np.radians(np.arange(8) * 45.0)

    def pbar(n, m, u):
        cn = np.zeros(n + 1)
        cn[n] = 1.0
        pnm = (1 - u * u) ** (m / 2.0) * L.legval(u, L.legder(cn, m))
        return math.sqrt(
            (2 * n + 1) * math.factorial(n - m) / math.factorial(n + m)
        ) * pnm

    rows = []
    for mo in range(6):
        for rn in (1, 2):
            t = 4
            c = _spectral_coeffs(mo * 13 + rn * 5, t, 3, 7, 11, 5, 41)
            vals = np.zeros((6, 8))
            pos = 0
            for m in range(t + 1):
                for n in range(m, t + 1):
                    cc = c[pos]
                    pos += 1
                    for j in range(6):
                        p = pbar(n, m, mu[j])
                        for i in range(8):
                            if m == 0:
                                vals[j, i] += cc.real * p
                            else:
                                vals[j, i] += 2.0 * p * (
                                    cc.real * math.cos(m * lon[i])
                                    - cc.imag * math.sin(m * lon[i])
                                )
            rows.append(
                f"({mo + 1}, {rn}, {float(vals.sum())!r}, "
                f"{float((vals * lat_w[:, None]).sum())!r})"
            )
    return ",\n       ".join(rows)


def ensure_spectral_landing(spark: SparkSession, sf_dir: str) -> str:
    """Write the shared 6-month SPECTRAL landing once per session (a
    ``session_cache.scratch_tree``) and return its path: each 2021
    month-file holds one GRIB1 simple-spectral record and one GRIB2 5.51
    complex-spectral record (T=4, month-keyed integer coefficients) —
    the native form an ERA5/IFS spectral archive arrives in."""
    import os

    from ..grid.grib1 import encode_grib1_message
    from ..grid.grib2 import encode_grib2_message
    from ..session_cache import scratch_tree
    from .grid_spectral_q import _spectral_coeffs

    def build(base: str) -> None:
        landing = os.path.join(base, "landing")
        os.makedirs(landing)
        for mo in range(6):
            buf = encode_grib1_message(
                _spectral_coeffs(mo * 13 + 5, 4, 3, 7, 11, 5, 41),
                spectral=dict(truncation=4), nbits=8, parameter=80,
                reftime=(2021, mo + 1, 1, 0, 0),
            ) + encode_grib2_message(
                _spectral_coeffs(mo * 13 + 10, 4, 3, 7, 11, 5, 41),
                spectral=dict(truncation=4, sub_truncation=1, laplacian=1.0),
                nbits=16, category=3, number=9,
                reftime=(2021, mo + 1, 1, 0, 0),
            )
            with open(os.path.join(landing, f"ifs_2021_{mo + 1:02d}.grib"), "wb") as f:
                f.write(buf)

    return os.path.join(scratch_tree(spark, "mdi_spectral_landing", build, sf_dir), "landing")


@query(
    "stream_grib_spectral_pipeline",
    tags=("streaming", "grid", "codec", "pipeline"),
    oracle=f"""
WITH ref(month, rn, val_sum, latw) AS (
  VALUES {_spectral_stream_ref()}
)
SELECT CAST(month AS INTEGER) AS month,
       CAST(rn AS INTEGER) AS record_number,
       CAST(50 AS INTEGER) AS grid_template,
       CAST(48 AS BIGINT) AS n_cells,
       ROUND(CAST(val_sum AS DOUBLE), 5) AS val_sum,
       ROUND(CAST(latw AS DOUBLE), 3) AS latw
FROM ref
ORDER BY month, record_number
""",
)
def stream_grib_spectral_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An ERA5/IFS NATIVE-SPECTRAL archive through the STREAMING
    runtime: the 6-month spectral landing (GRIB1 simple + GRIB2 5.51
    complex records per month-file) drains through
    ``readStream(binaryFile)`` one file per micro-batch with
    ``synthesize_spectral=(6, 8)`` — each spherical-harmonic record
    synthesizes onto the global Gaussian grid INSIDE the streaming
    Arrow decode stage and lands as a marked raster — then the unified
    cell explode and a per-record aggregation drain append-mode.  This
    witnesses the batch scan's opt-in synthesis contract under the
    micro-batch engine: same decode partial, same landing columns,
    exactly-once file tracking.

    Witness independence: the closed-form oracle embeds each record's
    grid sum and quadrature-latitude-weighted sum from the
    derivative-formulation Legendre path on numpy's own roots — a
    flipped hemisphere, a mis-assigned month or a batch/stream
    divergence in the synthesis path cannot cancel.

    Scale: one month-file per micro-batch is the arrival unit; the
    stream side is stateless (no watermark state), synthesis is
    per-record local numpy, and only per-record statistic rows reach
    the sink — the flagship's posture with spectral input bytes.
    """
    from ..sources.grib_source import grib1_cells, grib1_records_stream

    landing = ensure_spectral_landing(spark, sf_dir)
    cells = grib1_cells(
        grib1_records_stream(
            spark, landing, max_files_per_trigger=1,
            synthesize_spectral=(6, 8),
        )
    )
    agg = cells.groupBy("month", "record_number").agg(
        F.min("grid_template").alias("grid_template"),
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum("value"), 5).alias("val_sum"),
        F.round(
            F.sum(F.col("value") * F.col("lat_udeg") / F.lit(1e6)), 3
        ).alias("latw"),
    )
    out = run_available_now_to_memory(agg, output_mode="complete")
    return out.orderBy("month", "record_number")
