"""Watermarked streaming transforms: windows and dedup (T3/T6, and the
generalized contract of SURVEY.md §2.9).

Each helper takes an unbounded DataFrame and returns an unbounded
DataFrame; the same column contract as the batch analogues in
plans/timeseries.py, so results are comparable query-for-query.

Scale posture: every windowed aggregate carries a watermark so state is
bounded (late data beyond the delay is dropped, matching the reference's
"no data available → retry later" semantics rather than unbounded buffering);
sums are decimal-routed for partition-order independence, exactly as in the
batch engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.deterministic import exact_sum


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    duration: str = "1 hour",
    keys: tuple[str, ...] = ("event_type",),
    watermark: str = "2 hours",
    value_col: str = "value",
) -> DataFrame:
    """Tumbling window counts + exact sums (T6: the reference's calendar
    tumbling window, generalized to any duration)."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, duration).alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"), exact_sum(value_col, 6).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), *keys, "n_events", "total_value")
    )


def sliding_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    duration: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
    value_col: str = "value",
) -> DataFrame:
    """Sliding (hopping) window mean — each event lands in
    duration/slide windows; state is bounded by the watermark."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, duration, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (exact_sum(value_col, 6) / F.count(value_col)).alias("mean_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "mean_value")
    )


def session_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    keys: tuple[str, ...] = ("user_id",),
    watermark: str = "2 hours",
    value_col: str = "value",
) -> DataFrame:
    """Session windows with an inactivity gap (T6/T3) — the streaming
    native form of plans/timeseries.ts_sessionize's gaps-and-islands."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"), exact_sum(value_col, 6).alias("session_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            *keys,
            "n_events",
            "session_value",
        )
    )


def dedup_within_watermark(
    df: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once dedup with bounded state: duplicates arriving within
    the watermark delay are dropped; state for keys older than the
    watermark is evicted (the streaming form of the engine's exact-dedup
    contract — unbounded-state dropDuplicates is never the scale path)."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(list(keys))


def purchase_click_interval_join(
    events: DataFrame, watermark: str = "2 hours", interval: str = "30 minutes"
) -> DataFrame:
    """Stream-STREAM interval join: clicks within ``interval`` after a
    purchase by the same user, both sides unbounded.

    This is the join state-store contract: each side is watermarked, and
    the time-range condition bounds how long a purchase waits for matching
    clicks — per-key join state is EVICTED once the watermark passes
    ``p_ts + interval`` (asserted against stateOperators metrics in
    tests/test_streaming.py), so state stays bounded on unbounded input.

    Scale: state partitions on user_id (the equi half of the condition);
    the interval bound keeps each user's buffered rows to one window's
    worth regardless of stream length.
    """
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    return purchases.join(
        clicks,
        F.expr(
            f"p_user = c_user AND c_ts >= p_ts AND c_ts < p_ts + interval {interval}"
        ),
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        (F.unix_timestamp("c_ts") - F.unix_timestamp("p_ts")).alias("lag_seconds"),
    )


def ohlc_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    duration: str = "1 hour",
    keys: tuple[str, ...] = ("event_type",),
    watermark: str = "2 hours",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Streaming OHLC bars: open/close ride lexicographic struct min/max —
    both are ordinary mergeable aggregates, so the state per (window, key)
    is four scalars and two structs regardless of event rate.

    Eviction depends on the sink's output mode: in **append** mode the
    watermark finalizes and EVICTS closed bars (bounded state on an
    unbounded stream — the production posture, witnessed by
    tests/test_streaming.py::test_ohlc_append_mode_evicts_closed_bars);
    in **complete** mode Spark retains every bar ever opened, so state
    grows with the number of windows — acceptable only for bounded
    drains such as the stream_ohlc_hourly oracle harness, which uses
    complete mode precisely so the trailing (not-yet-watermark-closed)
    bars are still emitted for the batch-equality check."""
    first_s = F.min(F.struct(ts_col, id_col, value_col))
    last_s = F.max(F.struct(ts_col, id_col, value_col))
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, duration).alias("w"), *keys)
        .agg(
            first_s.getField(value_col).alias("open"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            last_s.getField(value_col).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(F.col("w.start").alias("window_start"), *keys, "open", "high", "low", "close", "n_events")
    )
