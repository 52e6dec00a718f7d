"""Time-series / event-stream queries (SURVEY.md §2.5 W1-W2, §2.9 T1-T9).

The `events` table is the batch analogue of the engine's streaming input;
every query here also has a Structured Streaming form (see
``streaming/``) — the batch form is what the DuckDB oracle can check.

The flagship `era5_monthly_anomaly` generalizes the reference's entire
anomaly dataflow (normal = 30-same-months mean, anomaly = current − normal;
/root/reference/src/sources/era5monthly.js:79-92,126-155) onto tabular data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.deterministic import exact_sum, exact_sum_sql
from ..sources.readers import table
from .catalog import query


@query(
    "ts_tumbling_hourly",
    headline=True,
    tags=("window", "streaming-analog"),
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
def ts_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation (T6: the reference's calendar-
    month tumbling window, generalized). Streaming form: groupBy(window)
    + withWatermark; batch form: date_trunc.

    r16 (guide §1.2): the exact decimal(30,6) sum updates a BigDecimal
    per row (the buffer exceeds Spark's compact-long decimal); the
    two-limb long sum (functions/deterministic.py) is bit-identical —
    and keeps every aggregate update in primitive longs.

    HARD DOMAIN CONTRACT (ADVICE r16): |value| < 10^12 per row. The limb
    split is exact across that whole domain since r17 (integer-division
    high limb); a row outside it does NOT silently vanish — the session
    runs with Spark 4's default ANSI mode, so the decimal(18,6) cast
    fails the query loudly."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", 6, 12).alias("total_value"),
        )
        .orderBy("window_start", "event_type")
    )


@query(
    "ts_lag_lead",
    tags=("window",),
    oracle="""
SELECT event_id, user_id, value,
       lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
       lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value,
       value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
FROM events WHERE user_id <= 20
ORDER BY user_id, event_id
""",
)
def ts_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead + consecutive differencing (W1/A5: the reference's
    accumulated-field subtraction, /root/reference/src/file-conversions.js:53-55)."""
    e = table(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    ).orderBy("user_id", "event_id")


@query(
    "ts_moving_avg",
    tags=("window",),
    oracle=f"""
SELECT event_id, user_id,
       CAST(SUM(CAST(value AS DECIMAL(30,6)))
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE)
         / COUNT(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS moving_avg
FROM events WHERE user_id <= 20
ORDER BY user_id, event_id
""",
)
def ts_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-row trailing moving average (ROWS frame over event time)."""
    e = table(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-4, 0)
    return e.select(
        "event_id",
        "user_id",
        (exact_sum("value", 6, over=w) / F.count("value").over(w)).alias("moving_avg"),
    ).orderBy("user_id", "event_id")


@query(
    "ts_sessionize",
    headline=True,
    tags=("window", "session", "streaming-analog"),
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
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(MIN(ts) AS TIMESTAMP) AS session_start,
       CAST(MAX(ts) AS TIMESTAMP) AS session_end,
       COUNT(*) AS n_events,
       {exact_sum_sql('value', 6)} AS session_value
FROM numbered
GROUP BY user_id, session_id
ORDER BY user_id, session_id
""",
)
def ts_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap (gaps-and-islands).

    Batch analogue of `session_window` (T6/T3); the streaming form lives in
    ``streaming/``. One shuffle on user_id serves the lag, the running sum,
    and the final session aggregation (same partitioning reused)."""
    e = table(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_s = 30 * 60
    flagged = e.withColumn(
        "new_session",
        F.when(
            F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(order) <= gap_s,
            F.lit(0),
        ).otherwise(F.lit(1)),
    )
    numbered = flagged.withColumn("session_id", F.sum("new_session").over(cum))
    # r16 (guide §1.2): session_value sums through two long limbs instead
    # of decimal(30,6) — bit-identical (functions/deterministic.py), all
    # aggregate updates stay primitive longs.  Hard domain contract:
    # |value| < 10^12 per row (exact across the whole domain since the
    # r17 integer-division limb fix; ANSI mode fails loudly outside it).
    return (
        numbered.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", 6, 12).alias("session_value"),
        )
        .orderBy("user_id", "session_id")
    )


@query(
    "ts_asof_join",
    headline=True,
    tags=("join", "asof"),
    oracle="""
SELECT p.event_id AS purchase_id, p.user_id AS user_id, p.ts AS purchase_ts,
       v.event_id AS last_view_id, v.value AS last_view_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND p.ts >= v.ts
ORDER BY purchase_id
""",
)
def ts_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the latest view at-or-before it
    (the reference's "latest normal as of month" state lookup, SURVEY §2.3).

    Spark-first implementation: merge the two streams, one window pass with
    `last(..., ignorenulls)` — O(n log n) in the partition, no range
    cross-product, scales to any table size (vs a naive theta-join).

    r16 (guide §2.3): the merge is a single scan with a conditional
    projection instead of a UNION of two filtered scans of the same table
    — one pass over the fact instead of two, identical rows (a view row
    carries (v_event_id, v_value, kind=0), a purchase row (p_event_id,
    kind=1); the isin filter pushes to the scan)."""
    e = table(spark, sf_dir, "events")
    is_view = F.col("event_type") == "view"
    # Views sort before purchases on timestamp ties (kind 0 < 1) so the
    # `>=` as-of semantics include a same-instant view.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = e.filter(F.col("event_type").isin("view", "purchase")).select(
        "user_id",
        "ts",
        F.when(is_view, F.col("event_id")).cast("long").alias("v_event_id"),
        F.when(is_view, F.col("value")).cast("double").alias("v_value"),
        F.when(is_view, F.lit(0)).otherwise(F.lit(1)).alias("kind"),
        F.when(~is_view, F.col("event_id")).cast("long").alias("p_event_id"),
    ).select(
        "user_id",
        "ts",
        "kind",
        "p_event_id",
        F.last("v_event_id", ignorenulls=True).over(w).alias("last_view_id"),
        F.last("v_value", ignorenulls=True).over(w).alias("last_view_value"),
    )
    return (
        merged.filter(F.col("kind") == 1)
        .select(
            F.col("p_event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "last_view_id",
            "last_view_value",
        )
        .orderBy("purchase_id")
    )


@query(
    "era5_monthly_anomaly",
    headline=True,
    tags=("agg", "join", "anomaly"),
    oracle=f"""
WITH monthly AS (
  SELECT o_orderpriority AS series,
         CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
         month(o_orderdate) AS month_of_year,
         {exact_sum_sql('o_totalprice', 2)} / COUNT(o_totalprice) AS monthly_avg
  FROM orders
  GROUP BY 1, 2, 3
), normals AS (
  SELECT series, month_of_year,
         {exact_sum_sql('monthly_avg', 8)} / COUNT(monthly_avg) AS normal_value
  FROM monthly GROUP BY 1, 2
)
SELECT m.series AS series, m.month_start AS month_start,
       m.monthly_avg AS monthly_avg, n.normal_value AS normal_value,
       m.monthly_avg - n.normal_value AS anomaly
FROM monthly m JOIN normals n
  ON m.series = n.series AND m.month_of_year = n.month_of_year
ORDER BY series, month_start
""",
)
def era5_monthly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole anomaly dataflow, generalized to tabular data.

    Mirror of /root/reference/src/sources/era5monthly.js:79-92,126-155:
    monthly aggregate per series (the "grid") → climatological normal =
    mean over all same-calendar-months (cdo timmean, A1) → anomaly =
    current − normal via broadcast join (J2 + F2, cdo sub).

    Scale: normals is tiny (|series| × 12 rows) → broadcast; the fact scan
    aggregates map-side first. At 100 TB the normals table would be
    materialized once and reused across runs (T7) — see ingest/normals.

    r16: the monthly mean sums through decimal(8,2) (o_totalprice < 10^6
    — a TPC-H domain bound, total order value caps near 5.5×10^5), which
    DecimalAggregates rewrites to long sums (same exact values as the
    decimal(30,2) route); the bounded |series|×|months| result sorts in a
    single partition instead of a range exchange.
    """
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.col("o_orderpriority").alias("series"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.month("o_orderdate").alias("month_of_year"),
    ).agg((exact_sum("o_totalprice", 2, 6) / F.count("o_totalprice")).alias("monthly_avg"))
    # Scale 8 keeps int_digits+scale within double's ~15 significant
    # digits, so the decimal quantization is engine-portable.
    normals = monthly.groupBy("series", "month_of_year").agg(
        (exact_sum("monthly_avg", 8) / F.count("monthly_avg")).alias("normal_value")
    )
    return (
        monthly.join(F.broadcast(normals), ["series", "month_of_year"])
        .select(
            "series",
            "month_start",
            "monthly_avg",
            "normal_value",
            (F.col("monthly_avg") - F.col("normal_value")).alias("anomaly"),
        )
        .coalesce(1)
        .sortWithinPartitions("series", "month_start")
    )


@query(
    "ts_json_extract",
    tags=("scalar", "json"),
    oracle=f"""
SELECT event_type,
       COUNT(*) AS n,
       {exact_sum_sql("CAST(json_extract_string(props, '$.k') AS BIGINT)", 0)} AS sum_k
FROM events
GROUP BY event_type ORDER BY event_type
""",
)
def ts_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON decode surface (F17): get_json_object over a JSON string
    column, aggregated. (`from_json` with explicit schema is the typed
    variant — exercised in unit tests.)"""
    e = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        e.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), exact_sum(k, 0).alias("sum_k"))
        .orderBy("event_type")
    )


@query(
    "ts_dedup_union",
    tags=("dedup", "setop"),
    oracle="""
SELECT event_id, user_id, event_type FROM (
  SELECT event_id, user_id, event_type FROM events WHERE user_id <= 30
  UNION ALL
  SELECT event_id, user_id, event_type FROM events WHERE user_id <= 30
)
GROUP BY 1, 2, 3
ORDER BY event_id
""",
)
def ts_dedup_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-delivery dedup (T2 idempotence): the same batch delivered twice
    unions to exactly one copy (dropDuplicates on the full row)."""
    e = table(spark, sf_dir, "events").filter(F.col("user_id") <= 30).select(
        "event_id", "user_id", "event_type"
    )
    return e.unionByName(e).dropDuplicates().orderBy("event_id")


@query(
    "ts_freshness_check",
    tags=("filter", "datetime"),
    oracle="""
WITH latest AS (
  SELECT user_id, MAX(ts) AS last_seen FROM events GROUP BY user_id
)
SELECT user_id, CAST(last_seen AS TIMESTAMP) AS last_seen
FROM latest
WHERE last_seen < TIMESTAMP '2024-01-30 12:00:00'
ORDER BY user_id
""",
)
def ts_freshness_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staleness predicate (P6: the reference's status monitor,
    /root/reference/src/scripts/status.js:7-18): entities whose latest
    heartbeat is older than a threshold."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(F.max("ts").alias("last_seen"))
        .filter(F.col("last_seen") < F.lit("2024-01-30 12:00:00").cast("timestamp"))
        .orderBy("user_id")
    )


@query(
    "ts_gap_fill_ffill",
    tags=("window", "timeseries"),
    oracle=f"""
WITH bounds AS (
  SELECT CAST(date_trunc('hour', MIN(ts)) AS TIMESTAMP) AS lo,
         CAST(date_trunc('hour', MAX(ts)) AS TIMESTAMP) AS hi
  FROM events
), spine AS (
  SELECT t.h AS hour, et.event_type
  FROM bounds, UNNEST(generate_series(bounds.lo, bounds.hi, INTERVAL 1 HOUR)) AS t(h)
  CROSS JOIN (SELECT DISTINCT event_type FROM events) et
), hourly AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
         COUNT(*) AS n, {exact_sum_sql('value', 6)} AS total
  FROM events GROUP BY 1, 2
)
SELECT s.hour AS hour, s.event_type AS event_type,
       COALESCE(h.n, 0) AS n_events,
       h.total AS total_value,
       last_value(h.total IGNORE NULLS) OVER (
         PARTITION BY s.event_type ORDER BY s.hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS total_ffill
FROM spine s LEFT JOIN hourly h ON s.hour = h.hour AND s.event_type = h.event_type
ORDER BY event_type, hour
""",
)
def ts_gap_fill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill + forward-fill: a dense hourly spine per event_type is
    left-joined to the hourly aggregates; empty hours get count 0 and the
    last observed total carried forward (last(ignoreNulls) over an ordered
    running frame) — the resample/ffill primitive of monitoring
    time-series (the reference's "no data this month → carry state" T3,
    made columnar).

    Scale: the spine is |hours|×|types| rows — generated, not scanned;
    the fill is one window over the spine keyed on type. At 100 TB the
    spine stays tiny relative to the fact table; the hourly aggregate is
    the only fact-sized shuffle.
    """
    e = table(spark, sf_dir, "events")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine_hours = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    types = e.select("event_type").distinct()
    spine = spine_hours.crossJoin(F.broadcast(types))
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"), exact_sum("value", 6).alias("total"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["hour", "event_type"], "left")
        .select(
            "hour",
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.col("total").alias("total_value"),
            F.last("total", ignorenulls=True).over(w).alias("total_ffill"),
        )
        .orderBy("event_type", "hour")
    )


@query(
    "ts_funnel",
    tags=("timeseries", "agg", "funnel"),
    oracle="""
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT COUNT(*) AS n_users,
       COUNT(t_view) AS step_view,
       COUNT(CASE WHEN t_click > t_view THEN 1 END) AS step_click,
       COUNT(CASE WHEN t_purchase > t_click AND t_click > t_view THEN 1 END) AS step_purchase
FROM per_user
""",
)
def ts_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase): a user counts
    toward a step only if their first occurrence of each stage happens in
    order — product-analytics' core sequence query, as one conditional-min
    aggregate plus ordering predicates (no self-joins, no UDF).

    Scale: one shuffle on user_id; the per-user frame is 3 timestamps
    regardless of event count (conditional MIN does the sequence scan
    map-side).
    """
    e = table(spark, sf_dir, "events")
    first_of = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))
    per_user = e.groupBy("user_id").agg(
        first_of("view").alias("t_view"),
        first_of("click").alias("t_click"),
        first_of("purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("step_view"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).alias("step_click"),
        F.count(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                1,
            )
        ).alias("step_purchase"),
    )


@query(
    "scd2_validity_intervals",
    tags=("timeseries", "window", "scd"),
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(o_orderdate AS TIMESTAMP) AS valid_from,
       CAST(lead(o_orderdate) OVER w AS TIMESTAMP) AS valid_to,
       (lead(o_orderdate) OVER w IS NULL) AS is_current
FROM orders
WHERE o_custkey <= 50
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, valid_from, o_orderkey
""",
)
def scd2_validity_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 interval construction: each change record's validity
    runs until the next change (half-open [valid_from, valid_to)); the
    latest record per key is flagged current with an open end — the
    dimension-history pattern the as-of join (ts_asof_join) then queries.

    Scale: one shuffle on the key; lead() closes intervals without a
    self-join.
    """
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 50)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
        F.lead("o_orderdate").over(w).isNull().alias("is_current"),
    ).orderBy("o_custkey", "valid_from", "o_orderkey")


@query(
    "ts_retention_cohorts",
    tags=("timeseries", "agg", "cohort"),
    oracle="""
WITH firsts AS (
  SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP) AS cohort_day
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT e.user_id,
         CAST(date_diff('day', f.cohort_day, date_trunc('day', e.ts)) AS BIGINT) AS day_offset
  FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT f.cohort_day AS cohort_day, a.day_offset AS day_offset,
       COUNT(DISTINCT a.user_id) AS n_active
FROM activity a JOIN firsts f ON a.user_id = f.user_id
GROUP BY f.cohort_day, a.day_offset
ORDER BY cohort_day, day_offset
""",
)
def ts_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day, counted
    as active per day-offset from their cohort — the engagement query
    behind every retention curve.

    Scale: the cohort assignment is one aggregate on user_id; the offset
    expansion joins events back to that (broadcastable: |users| rows);
    distinct-per-(user, offset) collapses before the final count so heavy
    users don't inflate the matrix.
    """
    e = table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    activity = (
        e.join(F.broadcast(firsts), "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.date_trunc("day", "ts"), F.col("cohort_day"))
            .cast("bigint")
            .alias("day_offset"),
        )
        .distinct()
    )
    return (
        activity.groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
        .orderBy("cohort_day", "day_offset")
    )


@query(
    "ts_anomaly_zscore",
    tags=("timeseries", "agg", "anomaly"),
    oracle=f"""
WITH stats AS (
  SELECT event_type,
         {exact_sum_sql('value', 6)} / COUNT(value) AS mu,
         SQRT(({exact_sum_sql('value * value', 6)} -
               {exact_sum_sql('value', 6)} * {exact_sum_sql('value', 6)} / COUNT(value))
              / (COUNT(value) - 1)) AS sigma
  FROM events GROUP BY event_type
)
SELECT e.event_id AS event_id, e.event_type AS event_type, e.value AS value,
       ROUND((e.value - s.mu) / s.sigma, 6) AS zscore
FROM events e JOIN stats s ON e.event_type = s.event_type
WHERE ABS((e.value - s.mu) / s.sigma) > 2.5
ORDER BY event_id
""",
)
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical anomaly detection: events more than 2.5σ from their
    type's mean — the monitoring-domain counterpart of the reference's
    climatological anomaly (deviation from a long-run normal, §3.3), with
    the normal computed in-query instead of cached.

    Scale: per-type stats are |types| rows → broadcast back over the fact
    scan; the detection predicate is map-side. Decimal-exact moments keep
    the ±2.5σ cut deterministic across partitionings.
    """
    e = table(spark, sf_dir, "events")
    n = F.count("value")
    s1 = exact_sum("value", 6)
    s2 = exact_sum(F.col("value") * F.col("value"), 6)
    stats = e.groupBy("event_type").agg(
        (s1 / n).alias("mu"),
        F.sqrt((s2 - s1 * s1 / n) / (n - F.lit(1))).alias("sigma"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        e.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 2.5)
        .select("event_id", "event_type", "value", F.round(z, 6).alias("zscore"))
        .orderBy("event_id")
    )


@query(
    "scalar_calendar_clamp",
    tags=("scalar", "temporal"),
    oracle="""
SELECT event_id,
       CAST(ts AS TIMESTAMP) AS ts,
       CAST(ts + INTERVAL 1 MONTH AS TIMESTAMP) AS plus_1m,
       CAST((ts + INTERVAL 1 YEAR) + INTERVAL 1 DAY AS TIMESTAMP) AS plus_1y1d,
       make_timestamp(
         CAST(date_part('year', ts) AS BIGINT),
         CAST(date_part('month', ts) AS BIGINT),
         LEAST(31, CAST(date_part('day', last_day(CAST(ts AS DATE))) AS BIGINT)),
         CAST(date_part('hour', ts) AS BIGINT),
         CAST(date_part('minute', ts) AS BIGINT),
         CAST(date_part('second', ts) AS DOUBLE)
       ) AS with_day31,
       CAST(to_timestamp(floor(epoch(ts) / 3600 + 0.5) * 3600) AS TIMESTAMP) AS round_hour_half,
       CAST(to_timestamp(floor(epoch(ts) / 86400) * 86400) AS TIMESTAMP) AS round_day_floor,
       CAST(to_timestamp(ceil(epoch(ts) / 900) * 900) AS TIMESTAMP) AS round_15m_ceil
FROM events
ORDER BY event_id
""",
)
def scalar_calendar_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's calendar arithmetic (F6-F8) as an oracle-witnessed
    scalar pass over event timestamps: month/year adds with end-of-month
    clamping (src/temporal.js:77-82), component replacement with
    day-clamping (src/temporal.js:34-54), and the three rounding modes
    (halfExpand/floor/ceil, src/temporal.js:89-150) at hour/day/15-minute
    granularity.

    Hash-equality against DuckDB's independent date arithmetic proves the
    clamp semantics cross-engine (both clamp Jan 31 + 1 month to Feb
    28/29). Pure codegen map stage — zero shuffles beyond the output
    order, so at 100 TB this runs at scan speed like every scalar query.
    """
    from ..functions.temporal import add_calendar, datetime_round, datetime_with

    e = table(spark, sf_dir, "events")
    t = F.col("ts")
    return e.select(
        "event_id",
        t.alias("ts"),
        add_calendar(t, months=1).alias("plus_1m"),
        add_calendar(t, years=1, days=1).alias("plus_1y1d"),
        datetime_with(t, day=31).alias("with_day31"),
        datetime_round(t, "hour").alias("round_hour_half"),
        datetime_round(t, "day", mode="floor").alias("round_day_floor"),
        datetime_round(t, "minute", 15, "ceil").alias("round_15m_ceil"),
    ).orderBy("event_id")


@query(
    "scalar_geo_uniform",
    tags=("scalar", "geo"),
    oracle="""
WITH u AS (
  SELECT event_id,
         CAST((event_id * 2654435761) % 1000000 AS DOUBLE) / 1000000.0 AS u
  FROM events
)
SELECT event_id,
       u,
       u * 360.0 - 180.0 AS lon,
       degrees(asin(u * 2.0 - 1.0)) AS lat
FROM u ORDER BY event_id
""",
)
def scalar_geo_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Area-uniform coordinate sampling (F5, src/math.js:12-19) in its
    deterministic form: a Knuth-hash uniform is derived from the event id
    and pushed through the engine's randlon/randlat transforms (uniform
    longitude; latitude via degrees(asin(2u−1)), which weights bands by
    cos(lat) so samples are uniform per unit AREA, not per degree).

    The oracle hash-checks the inverse-CDF math itself; the F.rand()
    forms share this exact code path with the uniform injected. Pure
    codegen map stage.
    """
    from ..functions.math import randlat, randlon

    e = table(spark, sf_dir, "events")
    u = ((F.col("event_id") * F.lit(2654435761)) % F.lit(1000000)).cast(
        "double"
    ) / F.lit(1000000.0)
    return (
        e.select("event_id", u.alias("u"))
        .select(
            "event_id",
            "u",
            randlon(u=F.col("u")).alias("lon"),
            randlat(u=F.col("u")).alias("lat"),
        )
        .orderBy("event_id")
    )


@query(
    "scalar_oscar_calendar",
    tags=("scalar", "temporal", "calendar"),
    oracle="""
WITH yrs AS (
  SELECT DISTINCT CAST(date_part('year', ts) AS BIGINT) + k.k AS y
  FROM events, (SELECT unnest(generate_series(0, 7)) AS k) k
), grid AS (
  SELECT y, CAST(i.i AS INTEGER) AS idx,
         CASE WHEN y % 4 = 0 AND (y % 100 <> 0 OR y % 400 = 0)
              THEN 366 ELSE 365 END AS diy
  FROM yrs, (SELECT unnest(generate_series(0, 71)) AS i) i
)
SELECT y, idx,
       CAST(make_date(CAST(y AS INTEGER), 1, 1)
            + CAST(floor(diy * idx / 72.0) AS INTEGER) AS TIMESTAMP) AS oscar_date
FROM grid ORDER BY y, idx
""",
)
def scalar_oscar_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OSCAR 72-date observation calendar (F13,
    /root/reference/src/oscar.js:27-34) unrolled over an 8-year span
    around the fixture's event years — exercising the explicit Gregorian
    leap rule (366 iff y%4=0 and (y%100≠0 or y%400=0)) and the
    floor(days_in_year·i/72) day-offset spacing.

    The oracle restates the same closed form over DuckDB's independent
    date arithmetic, so the hash check covers both the leap predicate and
    the offset rounding. The engine side goes through the real
    ``oscar_dates`` array builder (one codegen'd transform per year row —
    at scale this is a tiny dimension-table generator, not a data pass).
    """
    from ..functions.temporal import oscar_dates

    e = table(spark, sf_dir, "events")
    years = (
        e.select(
            F.explode(
                F.sequence(F.year("ts").cast("bigint"), F.year("ts").cast("bigint") + 7)
            ).alias("y")
        )
        .distinct()
    )
    return (
        years.select("y", F.posexplode(oscar_dates(F.col("y"))).alias("idx", "d"))
        .select("y", F.col("idx").cast("int").alias("idx"), F.col("d").cast("timestamp").alias("oscar_date"))
        .orderBy("y", "idx")
    )


# ---------------------------------------------------------------------------
# Monitoring-native resampling family: OHLC bars, bounded-frame EWMA, and
# counter-rate with reset detection — the three shapes a metrics engine
# derives from every raw series (the reference's status/ingest loop keeps
# only latest-value state; these are the standard rollups downstream
# dashboards ask of the same event stream).
# ---------------------------------------------------------------------------

@query(
    "ts_ohlc_resample",
    tags=("window", "agg", "timeseries"),
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
def ts_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC resampling: per (hour, event_type) bar with open = value of the
    first sample, close = value of the last (total order: ts, event_id),
    high/low = extremes.

    Spark-first: open/close ride a lexicographic struct min/max —
    ``min(struct(ts, event_id, value))`` picks the earliest sample and
    carries its value through the SAME partial+final hash aggregate as
    high/low/count, so the whole bar is ONE shuffle carrying one row per
    bar and never a window sort (the oracle states the equivalent
    row_number() form). At 100 TB: map-side partial aggregation reduces
    each partition to |bars| rows before the exchange; no per-row state
    crosses the wire.
    """
    e = table(spark, sf_dir, "events")
    b = e.select(
        F.date_trunc("hour", "ts").alias("window_start"),
        "event_type",
        "ts",
        "event_id",
        "value",
    )
    first_s = F.min(F.struct("ts", "event_id", "value"))
    last_s = F.max(F.struct("ts", "event_id", "value"))
    return (
        b.groupBy("window_start", "event_type")
        .agg(
            first_s.getField("value").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            last_s.getField("value").alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("window_start", "event_type")
    )


# Exact rational EWMA weights for alpha = 1/4: weight(distance d) is
# proportional to (3/4)^d; scaling by 4^9 makes every weight an integer
# (3^d * 4^(9-d)), so numerator and denominator are decimal/integer-exact
# and the ONLY float operation is one final double division — bit-identical
# regardless of partitioning, and identical to the oracle's.
_EWMA_SPAN = 10
_EWMA_W = [3**d * 4 ** (_EWMA_SPAN - 1 - d) for d in range(_EWMA_SPAN)]


@query(
    "ts_ewma",
    tags=("window", "timeseries"),
    oracle=f"""
WITH e AS (
  SELECT user_id, ts, event_id, value FROM events WHERE user_id <= 20
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM e
), w(d, wt) AS (
  SELECT * FROM (VALUES {", ".join(f"({d}, {w})" for d, w in enumerate(_EWMA_W))}) v
)
SELECT a.user_id, a.event_id, a.value,
       CAST(SUM(CAST(b.value AS DECIMAL(18,6)) * w.wt) AS DOUBLE)
         / CAST(SUM(w.wt) AS DOUBLE) AS ewma
FROM r a
JOIN r b ON a.user_id = b.user_id AND a.rn - b.rn BETWEEN 0 AND {_EWMA_SPAN - 1}
JOIN w ON w.d = a.rn - b.rn
GROUP BY a.user_id, a.event_id, a.value
ORDER BY a.user_id, a.event_id
""",
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (alpha = 1/4, 10-sample
    bounded frame, adjust=True normalization) per user series.

    Spark-first: the frame sum unrolls into 10 ``lag`` terms over ONE
    window spec — a single shuffle on user_id, a single sort, all-arithmetic
    whole-stage codegen after it (no collect_list, no higher-order lambda,
    no self-join — the oracle states the equivalent rn-distance self-join).
    Exactness: integer weights 3^d*4^(9-d) keep both sums decimal-exact;
    the one double divide is bit-identical in any engine. At 100 TB the
    cost is the series shuffle the semantics require, nothing more.
    """
    e = table(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    rn = F.row_number().over(order_w)
    d0 = e.withColumn("rn", rn)
    num = None
    den = None
    for d, wt in enumerate(_EWMA_W):
        in_frame = F.col("rn") > d
        x = F.lag("value", d).over(order_w) if d else F.col("value")
        term = F.when(in_frame, x.cast("decimal(18,6)") * F.lit(wt)).otherwise(
            F.lit(0).cast("decimal(18,6)")
        )
        wterm = F.when(in_frame, F.lit(wt)).otherwise(F.lit(0)).cast("bigint")
        num = term if num is None else num + term
        den = wterm if den is None else den + wterm
    return (
        d0.select(
            "user_id",
            "event_id",
            "value",
            (num.cast("double") / den.cast("double")).alias("ewma"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "ts_counter_rate",
    tags=("window", "agg", "timeseries"),
    oracle="""
WITH e AS (
  SELECT user_id, ts, event_id, value FROM events WHERE user_id <= 20
), c AS (
  SELECT user_id, ts, event_id,
         SUM(CAST(value AS DECIMAL(18,6)))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           % 10000 AS counter
  FROM e
), d AS (
  SELECT user_id, ts, event_id, counter,
         counter - lag(counter) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS delta
  FROM c
), inc AS (
  SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
         CASE WHEN delta IS NULL THEN CAST(0 AS DECIMAL(18,6))
              WHEN delta >= 0 THEN delta
              ELSE counter END AS increase
  FROM d
)
SELECT user_id, window_start,
       COUNT(*) AS n_samples,
       CAST(SUM(increase) AS DOUBLE) AS total_increase,
       CAST(SUM(increase) AS DOUBLE) / 3600.0 AS rate_per_sec
FROM inc GROUP BY user_id, window_start
ORDER BY user_id, window_start
""",
)
def ts_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus-style counter rate with reset detection: each user's
    monotone counter (running exact-decimal sum, wrapped at 10 000 to
    synthesize resets) is differenced; a negative delta is a reset and
    contributes the post-reset counter value, the first sample contributes
    nothing; increases aggregate per hour bucket into a per-second rate.

    Spark-first: ONE shuffle on user_id serves the running sum and the lag
    (same window spec), then the bucket rollup is a partial+final hash
    aggregate keyed (user, hour). Decimal arithmetic end-to-end: the
    running sum, the wrap (decimal %), and the increase sum are exact, so
    the hash matches the single-threaded oracle at any parallelism.
    """
    e = table(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counter = (F.sum(F.col("value").cast("decimal(18,6)")).over(run) % F.lit(10000)).alias(
        "counter"
    )
    c = e.select("user_id", "ts", "event_id", counter)
    delta = F.col("counter") - F.lag("counter").over(order_w)
    d = c.withColumn("delta", delta)
    increase = (
        F.when(F.col("delta").isNull(), F.lit(0).cast("decimal(18,6)"))
        .when(F.col("delta") >= 0, F.col("delta"))
        .otherwise(F.col("counter"))
    )
    inc = d.select(
        "user_id",
        F.date_trunc("hour", "ts").alias("window_start"),
        increase.alias("increase"),
    )
    return (
        inc.groupBy("user_id", "window_start")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum("increase").cast("double").alias("total_increase"),
            (F.sum("increase").cast("double") / F.lit(3600.0)).alias("rate_per_sec"),
        )
        .orderBy("user_id", "window_start")
    )


@query(
    "ts_interval_coalesce",
    tags=("window", "timeseries", "intervals"),
    oracle="""
WITH iv AS (
  SELECT user_id, event_id, ts AS s,
         ts + to_minutes(CAST(floor(value) AS BIGINT) % 45 + 5) AS e
  FROM events WHERE user_id <= 30
), m AS (
  SELECT *, MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS prev_max
  FROM iv
), f AS (
  SELECT *, CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END AS brk
  FROM m
), isl AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY s, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS island
  FROM f
)
SELECT user_id, CAST(island AS BIGINT) AS island,
       CAST(MIN(s) AS TIMESTAMP) AS merged_start,
       CAST(MAX(e) AS TIMESTAMP) AS merged_end,
       COUNT(*) AS n_intervals
FROM isl GROUP BY user_id, island
ORDER BY user_id, island
""",
)
def ts_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval coalescing (union of overlapping time ranges): each event
    opens an interval [ts, ts + 5..49 min) derived from its value; per
    user, transitively overlapping intervals merge into one — the classic
    gaps-and-islands shape that a gap-based sessionizer (ts_sessionize)
    cannot express, because an interval can bridge a gap its START alone
    would break.

    Spark-first: the running max-of-end over an UNBOUNDED..1-PRECEDING
    frame detects bridges, a running sum numbers the islands, and the
    merge is a hash aggregate on (user, island) — all three reuse the ONE
    shuffle on user_id (the island agg re-shuffles (user, island), which
    AQE coalesces; the window pair shares a single sort). Timestamps merge
    by min/max — exact, no float arithmetic anywhere.
    """
    from ..operators.intervals import coalesce_intervals

    e = table(spark, sf_dir, "events").filter(F.col("user_id") <= 30)
    iv = e.select(
        "user_id",
        "event_id",
        F.col("ts").alias("s"),
        F.timestamp_add("MINUTE", (F.floor("value") % 45 + 5).cast("int"), F.col("ts")).alias("e"),
    )
    return coalesce_intervals(
        iv, keys=["user_id"], start_col="s", end_col="e", tiebreak_col="event_id"
    ).orderBy("user_id", "island")


@query(
    "ts_anomaly_mad",
    tags=("timeseries", "agg", "anomaly"),
    oracle="""
WITH med AS (
  SELECT event_type, median(value) AS med FROM events GROUP BY event_type
), mad AS (
  SELECT e.event_type, median(abs(e.value - m.med)) AS mad
  FROM events e JOIN med m ON e.event_type = m.event_type
  GROUP BY e.event_type
)
SELECT e.event_id AS event_id, e.event_type AS event_type, e.value AS value,
       ROUND(0.6745 * (e.value - m.med) / d.mad, 6) AS robust_z
FROM events e
JOIN med m ON e.event_type = m.event_type
JOIN mad d ON e.event_type = d.event_type
WHERE d.mad > 0 AND ABS(0.6745 * (e.value - m.med) / d.mad) > 3.5
ORDER BY event_id
""",
)
def ts_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection: modified z-score from the median absolute
    deviation (|0.6745·(x−med)/MAD| > 3.5, the Iglewicz-Hoaglin rule) —
    immune to the outliers that inflate ts_anomaly_zscore's σ and mask
    their neighbors.

    Exact MAD is inherently two-pass (the inner median must exist before
    deviations can be ranked): pass 1 aggregates |types| medians, pass 2
    re-reads the fact joined to that broadcast and aggregates deviation
    medians — both exchanges carry |types| rows; detection is a map-side
    predicate under two broadcast joins. Medians are sort-based order
    statistics (no float accumulation), so no decimal plumbing is needed.
    At 100 TB the one-pass alternative is approx_percentile sketches
    (agg_approx_quantile shows the shape); exact MAD is the declared
    semantics here.
    """
    e = table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(F.median("value").alias("med"))
    mad = (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.median(F.abs(F.col("value") - F.col("med"))).alias("mad"))
    )
    z = F.lit(0.6745) * (F.col("value") - F.col("med")) / F.col("mad")
    return (
        e.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .filter((F.col("mad") > 0) & (F.abs(z) > 3.5))
        .select("event_id", "event_type", "value", F.round(z, 6).alias("robust_z"))
        .orderBy("event_id")
    )


@query(
    "ts_level_shift",
    tags=("timeseries", "window", "anomaly"),
    oracle=f"""
WITH e AS (
  SELECT user_id, ts, event_id, value FROM events WHERE user_id <= 20
), w AS (
  SELECT user_id, event_id, ts,
         CAST(SUM(CAST(value AS DECIMAL(18,6)))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING) AS DOUBLE)
           / 10 AS pre_mean,
         COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING) AS n_pre,
         CAST(SUM(CAST(value AS DECIMAL(18,6)))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 1 FOLLOWING AND 10 FOLLOWING) AS DOUBLE)
           / 10 AS post_mean,
         COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 1 FOLLOWING AND 10 FOLLOWING) AS n_post
  FROM e
)
SELECT user_id, event_id, ts,
       ROUND(pre_mean, 6) AS pre_mean,
       ROUND(post_mean, 6) AS post_mean,
       ROUND(post_mean - pre_mean, 6) AS shift
FROM w
WHERE n_pre = 10 AND n_post = 10 AND ABS(post_mean - pre_mean) > 40
ORDER BY user_id, event_id
""",
)
def ts_level_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-shift (changepoint) detection: at each sample, compare the
    mean of the 10 samples strictly before against the 10 strictly after;
    a |post − pre| jump above 40 marks a step change in the series'
    level — the two-sided-window changepoint heuristic (exact CUSUM is
    recursive and not window-expressible; this is the declarative form
    monitoring engines ship).

    Spark-first: both frames (10 PRECEDING..1 PRECEDING and 1 FOLLOWING..
    10 FOLLOWING) hang off ONE window spec — a single shuffle on user_id,
    a single sort, four frame aggregates in one Window operator. Decimal
    sums keep both means exact; full-window gating (n = 10 on both sides)
    makes the boundary behavior explicit rather than edge-biased.
    """
    e = table(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pre_f = order_w.rowsBetween(-10, -1)
    post_f = order_w.rowsBetween(1, 10)
    w = e.select(
        "user_id",
        "event_id",
        "ts",
        (exact_sum("value", 6, 12, over=pre_f) / 10).alias("pre_mean"),
        F.count(F.lit(1)).over(pre_f).alias("n_pre"),
        (exact_sum("value", 6, 12, over=post_f) / 10).alias("post_mean"),
        F.count(F.lit(1)).over(post_f).alias("n_post"),
    )
    return (
        w.filter(
            (F.col("n_pre") == 10)
            & (F.col("n_post") == 10)
            & (F.abs(F.col("post_mean") - F.col("pre_mean")) > 40)
        )
        .select(
            "user_id",
            "event_id",
            "ts",
            F.round("pre_mean", 6).alias("pre_mean"),
            F.round("post_mean", 6).alias("post_mean"),
            F.round(F.col("post_mean") - F.col("pre_mean"), 6).alias("shift"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "ts_asof_join_tolerance",
    tags=("join", "asof"),
    oracle="""
SELECT p.event_id AS purchase_id, p.user_id AS user_id, p.ts AS purchase_ts,
       CASE WHEN epoch_us(p.ts) - epoch_us(v.ts) <= 900000000
            THEN v.event_id END AS last_view_id,
       CASE WHEN epoch_us(p.ts) - epoch_us(v.ts) <= 900000000
            THEN v.value END AS last_view_value,
       CASE WHEN epoch_us(p.ts) - epoch_us(v.ts) <= 900000000
            THEN epoch_us(p.ts) - epoch_us(v.ts) END AS staleness_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND p.ts >= v.ts
ORDER BY purchase_id
""",
)
def ts_asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness tolerance: each purchase takes the
    latest view at-or-before it ONLY if that view is at most 15 minutes
    old — the max-staleness contract of every state-lookup cache (the
    pandas merge_asof ``tolerance`` parameter; the reference's "reuse the
    cached normal unless it expired" rule, SURVEY §2.9 T7).

    Same union-one-window-pass skeleton as ts_asof_join (no range
    cross-product at any scale); the tolerance is a pure map predicate on
    the carried match timestamp, applied AFTER the window so a stale view
    nulls the match rather than letting an older one through — exactly
    ASOF-then-filter semantics, in integer microseconds (no float time
    arithmetic).
    """
    e = table(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.col("event_id").alias("v_event_id"),
        F.col("value").alias("v_value"),
        F.lit(0).alias("kind"),
        F.lit(None).cast("long").alias("p_event_id"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("v_event_id"),
        F.lit(None).cast("double").alias("v_value"),
        F.lit(1).alias("kind"),
        F.col("event_id").alias("p_event_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = views.unionByName(purchases).select(
        "user_id",
        "ts",
        "kind",
        "p_event_id",
        F.last("v_event_id", ignorenulls=True).over(w).alias("m_view_id"),
        F.last("v_value", ignorenulls=True).over(w).alias("m_view_value"),
        F.last(F.when(F.col("kind") == 0, F.unix_micros("ts")), ignorenulls=True)
        .over(w)
        .alias("m_view_us"),
    )
    staleness = F.unix_micros("ts") - F.col("m_view_us")
    fresh = staleness <= 900 * 1_000_000
    return (
        merged.filter(F.col("kind") == 1)
        .select(
            F.col("p_event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.when(fresh, F.col("m_view_id")).alias("last_view_id"),
            F.when(fresh, F.col("m_view_value")).alias("last_view_value"),
            F.when(fresh, staleness).alias("staleness_us"),
        )
        .orderBy("purchase_id")
    )


@query(
    "ts_gap_detection",
    tags=("timeseries", "window", "monitoring"),
    oracle="""
WITH d AS (
  SELECT user_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_start,
         ts AS gap_end,
         epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)) AS gap_us
  FROM events
)
SELECT user_id, gap_start, gap_end, gap_us
FROM d WHERE gap_us > 86400000000
ORDER BY user_id, gap_end
""",
)
def ts_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heartbeat-gap detection: report every silence longer than 24 hours
    in each user's event stream with its exact bounds — the liveness
    check behind the reference's freshness/staleness monitoring
    (scripts/status.js) turned from a latest-timestamp predicate
    (ts_freshness_check) into a full gap audit over history.

    One window pass on user_id (lag supplies both the gap start and the
    integer-microsecond width — no float time arithmetic), then a
    map-side threshold. At 100 TB this is the one shuffle the per-series
    semantics require.
    """
    e = table(spark, sf_dir, "events")
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(order_w)
    d = e.select(
        "user_id",
        prev_ts.alias("gap_start"),
        F.col("ts").alias("gap_end"),
        (F.unix_micros("ts") - F.unix_micros(prev_ts)).alias("gap_us"),
    )
    return (
        d.filter(F.col("gap_us") > 86_400_000_000)
        .orderBy("user_id", "gap_end")
    )


@query(
    "ts_trailing_window_range",
    tags=("timeseries", "window"),
    oracle="""
SELECT user_id, event_id, ts,
       COUNT(*) OVER w AS n_last_hour,
       CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE) AS sum_last_hour
FROM events WHERE user_id <= 20
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
ORDER BY user_id, event_id
""",
)
def ts_trailing_window_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True time-based trailing window: at every event, the count and
    exact sum of that user's events in the PRECEDING HOUR — a RANGE frame
    over event time (PromQL's `metric[1h]` per sample), not a row-count
    frame: sparse and dense series get the same wall-clock semantics.

    Spark windows RANGE only over numerics, so the frame orders by
    integer epoch-microseconds — exactly what the oracle's
    RANGE BETWEEN 3600000000 PRECEDING states. One shuffle on user_id;
    the frame is computed by the sliding two-pointer pass inside the
    Window operator (no self-join, no bucketing approximation).
    """
    e = table(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        e.select(
            "user_id",
            "event_id",
            "ts",
            F.count(F.lit(1)).over(w).alias("n_last_hour"),
            exact_sum("value", 6, over=w).alias("sum_last_hour"),
        )
        .orderBy("user_id", "event_id")
    )


# LTTB buckets per series. The classic algorithm anchors each triangle on
# the PREVIOUSLY SELECTED point (a sequential dependency no relational
# engine can parallelize); the declared semantics here are the standard
# parallel variant that anchors on the neighbor BUCKET AVERAGES instead —
# rank-identical on smooth series and embarrassingly parallel.
LTTB_BUCKETS = 20


@query(
    "ts_downsample_lttb",
    tags=("timeseries", "window", "downsample"),
    oracle=f"""
WITH e AS (
  SELECT user_id, event_id, ts, value,
         CAST(epoch_us(ts) AS DOUBLE) AS x
  FROM events WHERE user_id <= 10
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
            COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM e
), b AS (
  SELECT *, CAST(((rn - 1) * {LTTB_BUCKETS}) // n AS BIGINT) AS bucket FROM r
), avgs AS (
  SELECT user_id, bucket,
         CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) / COUNT(*) AS ax,
         CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS ay
  FROM b GROUP BY user_id, bucket
), mid AS (
  SELECT p.user_id, p.bucket, p.event_id, p.ts, p.value,
         ROW_NUMBER() OVER (
           PARTITION BY p.user_id, p.bucket
           ORDER BY ABS((pa.ax - na.ax) * (p.value - pa.ay)
                      - (pa.ax - p.x) * (na.ay - pa.ay)) DESC, p.event_id
         ) AS pick
  FROM b p
  JOIN avgs pa ON pa.user_id = p.user_id AND pa.bucket = p.bucket - 1
  JOIN avgs na ON na.user_id = p.user_id AND na.bucket = p.bucket + 1
  WHERE p.bucket BETWEEN 1 AND {LTTB_BUCKETS - 2}
)
SELECT user_id, CAST(bucket AS BIGINT) AS bucket, event_id, ts, value
FROM mid WHERE pick = 1
UNION ALL
SELECT user_id, CAST(bucket AS BIGINT) AS bucket, event_id, ts, value
FROM b WHERE rn = 1 OR rn = n
ORDER BY user_id, bucket, event_id
""",
)
def ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (the dashboard
    decimator): each series shrinks to ~20 points — per bucket, the point
    forming the largest triangle with its neighbor buckets' average
    points, plus the exact first and last samples.

    Spark-first: bucket assignment rides the same user_id window as the
    row numbering; bucket averages are one |users|×|buckets| aggregate
    that broadcasts back for the area score; the per-bucket argmax is a
    rank-1 window. Determinism: averages are exact-decimal; the area is
    pointwise double arithmetic with an event_id tiebreak.
    """
    e = table(spark, sf_dir, "events").filter(F.col("user_id") <= 10)
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    part_w = Window.partitionBy("user_id")
    b = e.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.unix_micros("ts").cast("double").alias("x"),
        F.row_number().over(order_w).alias("rn"),
        F.count(F.lit(1)).over(part_w).alias("n"),
    ).withColumn(
        "bucket",
        F.floor((F.col("rn") - 1) * LTTB_BUCKETS / F.col("n")).cast("bigint"),
    )
    avgs = b.groupBy("user_id", "bucket").agg(
        (exact_sum("x", 0, 38) / F.count(F.lit(1))).alias("ax"),
        (exact_sum("value", 6) / F.count(F.lit(1))).alias("ay"),
    )
    pa = F.broadcast(
        avgs.select(
            F.col("user_id").alias("pu"),
            F.col("bucket").alias("pb"),
            F.col("ax").alias("pax"),
            F.col("ay").alias("pay"),
        )
    )
    na = F.broadcast(
        avgs.select(
            F.col("user_id").alias("nu"),
            F.col("bucket").alias("nb"),
            F.col("ax").alias("nax"),
            F.col("ay").alias("nay"),
        )
    )
    mid = (
        b.filter(F.col("bucket").between(1, LTTB_BUCKETS - 2))
        .join(pa, (F.col("user_id") == F.col("pu")) & (F.col("pb") == F.col("bucket") - 1))
        .join(na, (F.col("user_id") == F.col("nu")) & (F.col("nb") == F.col("bucket") + 1))
    )
    area = F.abs(
        (F.col("pax") - F.col("nax")) * (F.col("value") - F.col("pay"))
        - (F.col("pax") - F.col("x")) * (F.col("nay") - F.col("pay"))
    )
    pick_w = Window.partitionBy("user_id", "bucket").orderBy(
        area.desc(), F.col("event_id")
    )
    picked = (
        mid.withColumn("pick", F.row_number().over(pick_w))
        .filter(F.col("pick") == 1)
        .select("user_id", "bucket", "event_id", "ts", "value")
    )
    edges = b.filter((F.col("rn") == 1) | (F.col("rn") == F.col("n"))).select(
        "user_id", "bucket", "event_id", "ts", "value"
    )
    return picked.unionByName(edges).orderBy("user_id", "bucket", "event_id")


# Interval-overlap bucket width: intervals are at most 49 minutes, so a
# 3600-second epoch bucket means every interval covers at most two
# buckets — the fan-out of the bucketized self-join is bounded by 2.
_OVL_BUCKET_S = 3600


@query(
    "ts_interval_overlap_join",
    tags=("join", "range", "intervals"),
    oracle="""
WITH iv AS (
  SELECT user_id, event_id, ts AS s,
         ts + to_minutes(CAST(floor(value) AS BIGINT) % 45 + 5) AS e
  FROM events WHERE user_id <= 30
)
SELECT a.user_id AS user_id, a.event_id AS event_a, b.event_id AS event_b,
       epoch_us(least(a.e, b.e)) - epoch_us(greatest(a.s, b.s)) AS overlap_us
FROM iv a JOIN iv b
  ON a.user_id = b.user_id AND a.event_id < b.event_id
 AND a.s < b.e AND b.s < a.e
ORDER BY user_id, event_a, event_b
""",
)
def ts_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join: every pair of a user's intervals that
    overlap in time, with the exact overlap width — the
    reservation-conflict / concurrent-session primitive (and the
    genomics interval-intersection classic), where BOTH join sides carry
    a duration (ts_range_join's anchor side is a point).

    Scale: like ts_range_join, the inequality pair (a.s < b.e AND
    b.s < a.e) never reaches the planner as a raw theta-join — each
    interval explodes into the (≤2) hour buckets it touches, the join is
    an equi-join on (user_id, bucket), DISTINCT collapses double-bucket
    collisions, and the exact overlap predicate refines. Fan-out is
    bounded by per-bucket interval density; no nested loop at any scale.
    """
    e = table(spark, sf_dir, "events").filter(F.col("user_id") <= 30)
    iv = e.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s_us"),
        (
            F.unix_micros("ts")
            + (F.floor("value") % 45 + 5) * F.lit(60_000_000)
        ).alias("e_us"),
    )
    spread = iv.select(
        "user_id",
        "event_id",
        "s_us",
        "e_us",
        F.explode(
            F.sequence(
                (F.col("s_us") / (_OVL_BUCKET_S * 1_000_000)).cast("bigint"),
                ((F.col("e_us") - 1) / (_OVL_BUCKET_S * 1_000_000)).cast("bigint"),
            )
        ).alias("bucket"),
    )
    a = spread.select(
        F.col("user_id").alias("ua"),
        F.col("event_id").alias("event_a"),
        F.col("s_us").alias("sa"),
        F.col("e_us").alias("ea"),
        "bucket",
    )
    b = spread.select(
        F.col("user_id").alias("ub"),
        F.col("event_id").alias("event_b"),
        F.col("s_us").alias("sb"),
        F.col("e_us").alias("eb"),
        "bucket",
    )
    pairs = (
        a.join(b, (F.col("ua") == F.col("ub")) & (a["bucket"] == b["bucket"]))
        .filter(
            (F.col("event_a") < F.col("event_b"))
            & (F.col("sa") < F.col("eb"))
            & (F.col("sb") < F.col("ea"))
        )
        .select(
            F.col("ua").alias("user_id"),
            "event_a",
            "event_b",
            (
                F.least("ea", "eb") - F.greatest("sa", "sb")
            ).alias("overlap_us"),
        )
        .distinct()
    )
    return pairs.orderBy("user_id", "event_a", "event_b")


@query(
    "ts_event_sequence_pattern",
    tags=("timeseries", "pattern", "agg"),
    oracle="""
WITH seqs AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
  FROM events WHERE user_id <= 50
  GROUP BY user_id
)
SELECT user_id,
       CAST(len(seq) AS BIGINT) AS n_events,
       CAST(len(regexp_extract_all(seq, 'v[ce]*p')) AS BIGINT) AS n_conversions
FROM seqs ORDER BY user_id
""",
)
def ts_event_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching (MATCH_RECOGNIZE-lite): each user's
    event history compresses to an ordered initial string ('vvcep…') and
    a regex counts non-overlapping conversion journeys — view, any
    clicks/errors, purchase ('v[ce]*p'). Funnels (ts_funnel) ask "did
    steps happen in order"; this asks HOW MANY complete journeys, with
    arbitrary regex structure between steps.

    Scale: the per-key sequence is built by a sort inside the aggregate
    (array_sort of (ts, event_id, initial) structs → one shuffle on
    user_id, deterministic order with no window), and the regex count is
    a map-side scalar. The string per key is |events-per-key| bytes —
    fine for user-sized keys; for whale keys the same pattern runs over
    a windowed slice (doc_chunk_sliding shows the chunking shape).
    """
    e = table(spark, sf_dir, "events").filter(F.col("user_id") <= 50)
    parts = e.select(
        "user_id",
        F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("i")).alias("s"),
    )
    seqs = parts.groupBy("user_id").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list("s")), lambda s: s["i"]), ""
        ).alias("seq")
    )
    return (
        seqs.select(
            "user_id",
            F.length("seq").cast("bigint").alias("n_events"),
            F.regexp_count("seq", F.lit("v[ce]*p")).cast("bigint").alias("n_conversions"),
        )
        .orderBy("user_id")
    )


@query(
    "ts_seasonal_decompose",
    tags=("timeseries", "window", "anomaly"),
    oracle=f"""
WITH hourly AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts,
         {exact_sum_sql('value', 6)} / COUNT(value) AS v
  FROM events GROUP BY 1
), tr AS (
  SELECT hour_ts, v,
         COUNT(*) OVER w AS wn,
         CAST(SUM(CAST(v AS DECIMAL(30,12))) OVER w AS DOUBLE) / 25.0 AS trend
  FROM hourly
  WINDOW w AS (ORDER BY hour_ts ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
), detrended AS (
  SELECT hour_ts, v, trend, v - trend AS resid,
         CAST(hour(hour_ts) AS INTEGER) AS hod
  FROM tr WHERE wn = 25
), seasonal AS (
  SELECT hod,
         CAST(SUM(CAST(resid AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*) AS s
  FROM detrended GROUP BY hod
)
SELECT d.hour_ts AS hour_ts,
       ROUND(d.v, 6) AS v,
       ROUND(d.trend, 6) AS trend,
       ROUND(s.s, 6) AS seasonal,
       ROUND(d.resid - s.s, 6) AS anomaly
FROM detrended d JOIN seasonal s ON d.hod = s.hod
ORDER BY hour_ts
""",
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the hourly event
    series: trend = centered 25-hour moving average (full windows only),
    seasonal = per-hour-of-day mean of the detrended series, anomaly =
    residual after removing both — the STL-lite decomposition behind
    seasonality-aware monitoring (a +3σ spike at 9am is noise; the same
    level at 3am is an incident). Composes the primitives the catalog
    checks separately (ts_moving_avg's frames, era5_monthly_anomaly's
    climatology join) into the standard three-component model.

    Scale: the hourly rollup is one map-side-combined aggregate; the
    trend window runs over the AGGREGATED series (one row per hour —
    tiny at any corpus scale, same stance as dq_volume_anomaly); the
    seasonal table is 24 rows → broadcast join back. All sums that
    cross engines are decimal-quantized, so segment-tree vs running
    window summation order cannot flip a bit.
    """
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("hour_ts")).agg(
        (exact_sum("value", 6) / F.count("value")).alias("v")
    )
    w = Window.orderBy("hour_ts").rowsBetween(-12, 12)
    tr = hourly.select(
        "hour_ts",
        "v",
        F.count(F.lit(1)).over(w).alias("wn"),
        (exact_sum("v", 12, over=w) / 25.0).alias("trend"),
    )
    detrended = tr.filter(F.col("wn") == 25).select(
        "hour_ts",
        "v",
        "trend",
        (F.col("v") - F.col("trend")).alias("resid"),
        F.hour("hour_ts").cast("int").alias("hod"),
    )
    seasonal = detrended.groupBy("hod").agg(
        (exact_sum("resid", 12) / F.count(F.lit(1))).alias("s")
    )
    return (
        detrended.join(F.broadcast(seasonal), "hod")
        .select(
            "hour_ts",
            F.round("v", 6).alias("v"),
            F.round("trend", 6).alias("trend"),
            F.round("s", 6).alias("seasonal"),
            F.round(F.col("resid") - F.col("s"), 6).alias("anomaly"),
        )
        .orderBy("hour_ts")
    )


CUSUM_K = 6.0  # slack per step ≈ 0.5σ of the hourly series — absorbs ordinary noise
CUSUM_H = 60.0  # alarm threshold ≈ 5σ of the accumulated drift


@query(
    "ts_cusum_changepoint",
    tags=("timeseries", "window", "anomaly"),
    oracle=f"""
WITH hourly AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts,
         ROUND({exact_sum_sql('value', 6)} / COUNT(value), 6) AS v
  FROM events GROUP BY 1
), mu AS (
  SELECT CAST(SUM(CAST(v AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*) AS mu FROM hourly
), pre AS (
  SELECT h.hour_ts, h.v,
         SUM(CAST(ROUND(h.v - m.mu - {CUSUM_K}, 6) AS DECIMAL(30,12)))
           OVER (ORDER BY h.hour_ts) AS p_up,
         SUM(CAST(ROUND(h.v - m.mu + {CUSUM_K}, 6) AS DECIMAL(30,12)))
           OVER (ORDER BY h.hour_ts) AS p_dn
  FROM hourly h CROSS JOIN mu m
), cus AS (
  SELECT hour_ts, v,
         CAST(p_up - MIN(p_up) OVER (ORDER BY hour_ts) AS DOUBLE) AS cusum_pos,
         CAST(MAX(p_dn) OVER (ORDER BY hour_ts) - p_dn AS DOUBLE) AS cusum_neg
  FROM pre
)
SELECT hour_ts, v,
       ROUND(cusum_pos, 6) AS cusum_pos,
       ROUND(cusum_neg, 6) AS cusum_neg,
       (cusum_pos > {CUSUM_H} OR cusum_neg > {CUSUM_H}) AS alarm
FROM cus ORDER BY hour_ts
""",
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM drift detection over the hourly series (Page
    1954): accumulate deviations beyond a per-step slack k and alarm
    when the accumulation crosses h — the standard sequential
    changepoint detector for slow drifts that per-point z-scores
    (ts_anomaly_mad) never see.

    Spark-first: the textbook recursion S_t = max(0, S_{t-1} + x_t) is
    not a window aggregate, but its closed form IS — S_t equals the
    prefix sum minus its running minimum — so both CUSUM sides compile
    to ordinary cumulative-window expressions (prefix sum, running
    min/max), no recursion, no UDF, no iteration. All cumulative sums
    are decimal over 6-dp-rounded terms: segment-tree vs running-sum
    evaluation order cannot flip a bit between engines.

    Scale: the windows run over the HOURLY rollup (one row per hour —
    years fit in one task; same deliberate stance as dq_volume_anomaly);
    the raw scan collapses map-side. At per-key monitoring scale the
    same expressions partition by series key.
    """
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("hour_ts")).agg(
        F.round(exact_sum("value", 6) / F.count("value"), 6).alias("v")
    )
    mu = hourly.agg((exact_sum("v", 12) / F.count(F.lit(1))).alias("mu"))
    w_cum = Window.orderBy("hour_ts").rowsBetween(Window.unboundedPreceding, 0)
    p_up = F.sum(
        F.round(F.col("v") - F.col("mu") - CUSUM_K, 6).cast("decimal(30,12)")
    ).over(w_cum)
    p_dn = F.sum(
        F.round(F.col("v") - F.col("mu") + CUSUM_K, 6).cast("decimal(30,12)")
    ).over(w_cum)
    pre = hourly.crossJoin(F.broadcast(mu)).select(
        "hour_ts", "v", p_up.alias("p_up"), p_dn.alias("p_dn")
    )
    cusum_pos = (F.col("p_up") - F.min("p_up").over(w_cum)).cast("double")
    cusum_neg = (F.max("p_dn").over(w_cum) - F.col("p_dn")).cast("double")
    return (
        pre.select(
            "hour_ts",
            "v",
            F.round(cusum_pos, 6).alias("cusum_pos"),
            F.round(cusum_neg, 6).alias("cusum_neg"),
            ((cusum_pos > CUSUM_H) | (cusum_neg > CUSUM_H)).alias("alarm"),
        )
        .orderBy("hour_ts")
    )


ACF_MAX_LAG = 6


@query(
    "ts_autocorrelation",
    tags=("timeseries", "window", "stats"),
    oracle=f"""
WITH hourly AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts,
         ROUND({exact_sum_sql('value', 6)} / COUNT(value), 6) AS v
  FROM events GROUP BY 1
), mu AS (
  SELECT CAST(SUM(CAST(v AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*) AS mu FROM hourly
), dev AS (
  SELECT h.hour_ts, ROUND(h.v - m.mu, 6) AS d
  FROM hourly h CROSS JOIN mu m
), denom AS (
  SELECT CAST(SUM(CAST(ROUND(d * d, 6) AS DECIMAL(30,6))) AS DOUBLE) AS den,
         COUNT(*) AS n
  FROM dev
), lagged AS (
  SELECT k.k AS lag, a.d AS d, b.d AS dl
  FROM dev a
  CROSS JOIN (SELECT unnest(generate_series(1, {ACF_MAX_LAG})) AS k) k
  JOIN dev b ON b.hour_ts = a.hour_ts - to_hours(k.k)
)
SELECT CAST(l.lag AS INTEGER) AS lag,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(CAST(SUM(CAST(ROUND(l.d * l.dl, 6) AS DECIMAL(30,6))) AS DOUBLE)
             / MIN(dn.den), 6) AS acf
FROM lagged l CROSS JOIN denom dn
GROUP BY l.lag ORDER BY lag
""",
)
def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the hourly series at lags 1..6 —
    r_k = Σ(v_t−μ)(v_{t+k}−μ) / Σ(v_t−μ)², the first diagnostic of any
    series analysis (seasonality shows as a 24-lag comb, white noise as
    ~0 everywhere; the forecasting-readiness check before fitting
    anything). Products are rounded to 6 dp and summed as decimal, so
    both engines quantize identically.

    Spark-first: the lag set is a tiny broadcast dimension and the
    k-step shift is an equi-join of the hourly series with itself on the
    shifted timestamp (lag() takes only literal offsets; the join form
    handles every k in one plan and is robust to gaps in the grid). All
    joins run over the hourly rollup — one row per hour, trivial at any
    corpus size — with μ and the denominator 1-row broadcasts. The raw
    scan collapses map-side into the hourly aggregate exactly once.
    """
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("hour_ts")).agg(
        F.round(exact_sum("value", 6) / F.count("value"), 6).alias("v")
    )
    mu = hourly.agg((exact_sum("v", 12) / F.count(F.lit(1))).alias("mu"))
    dev = hourly.crossJoin(F.broadcast(mu)).select(
        "hour_ts", F.round(F.col("v") - F.col("mu"), 6).alias("d")
    )
    denom = dev.agg(
        exact_sum(F.round(F.col("d") * F.col("d"), 6), 6).alias("den")
    )
    lags = dev.sparkSession.range(1, ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    prev = dev.select(F.col("hour_ts").alias("prev_ts"), F.col("d").alias("dl"))
    lagged = (
        dev.crossJoin(F.broadcast(lags))
        .withColumn(
            "prev_ts", F.col("hour_ts") - F.make_interval(hours=F.col("lag"))
        )
        .join(prev, ["prev_ts"])
    )
    return (
        lagged
        .crossJoin(F.broadcast(denom))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(
                exact_sum(F.round(F.col("d") * F.col("dl"), 6), 6) / F.min("den"),
                6,
            ).alias("acf"),
        )
        .orderBy("lag")
    )


ATTRIB_WINDOW_US = 24 * 3600 * 1_000_000  # last-touch lookback: 24 h


@query(
    "ts_attribution_last_touch",
    tags=("timeseries", "window", "attribution"),
    oracle=f"""
WITH ordered AS (
  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id,
         LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS) OVER w AS prev_type,
         LAST_VALUE(CASE WHEN event_type <> 'purchase'
                         THEN epoch_us(CAST(ts AS TIMESTAMP)) END
                    IGNORE NULLS) OVER w AS prev_ts_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), conv AS (
  SELECT CASE WHEN prev_ts_us IS NOT NULL
                   AND ts_us - prev_ts_us <= {ATTRIB_WINDOW_US}
              THEN prev_type ELSE 'direct' END AS channel,
         user_id,
         CASE WHEN prev_ts_us IS NOT NULL
                   AND ts_us - prev_ts_us <= {ATTRIB_WINDOW_US}
              THEN ts_us - prev_ts_us END AS gap_us
  FROM ordered WHERE event_type = 'purchase'
)
SELECT channel,
       COUNT(*) AS n_conversions,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       ROUND(CAST(SUM(gap_us) AS DOUBLE) / COUNT(gap_us) / 60000000.0, 6)
         AS avg_gap_minutes
FROM conv GROUP BY channel ORDER BY channel
""",
)
def ts_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution — the marketing-analytics
    primitive: each ``purchase`` is credited to the user's most recent
    preceding non-purchase event within a 24 h lookback, else to
    ``direct``. Emits per-channel conversion counts, reached users, and
    the mean touch-to-conversion latency.

    One window pass per user (ROWS UNBOUNDED PRECEDING .. 1 PRECEDING,
    ``last`` with ignorenulls carrying the latest touch), then a hash
    aggregate — no self-join of the event stream against itself, which
    is what keeps attribution linear when the stream is 100 TB. The two
    carried columns (touch type, touch time) share one null condition,
    so they always come from the same row. Gap sums are exact integer
    microseconds (< 2^53) divided once at the end.
    """
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.col("event_type") != "purchase"
    ordered = e.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.last(F.when(touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("prev_type"),
        F.last(F.when(touch, F.unix_micros("ts")), ignorenulls=True)
        .over(w)
        .alias("prev_ts_us"),
    )
    in_window = F.col("prev_ts_us").isNotNull() & (
        F.col("ts_us") - F.col("prev_ts_us") <= ATTRIB_WINDOW_US
    )
    conv = ordered.filter(F.col("event_type") == "purchase").select(
        F.when(in_window, F.col("prev_type")).otherwise("direct").alias("channel"),
        "user_id",
        F.when(in_window, F.col("ts_us") - F.col("prev_ts_us")).alias("gap_us"),
    )
    return (
        conv.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
            F.round(
                F.sum("gap_us").cast("double") / F.count("gap_us") / 60000000.0, 6
            ).alias("avg_gap_minutes"),
        )
        .orderBy("channel")
    )
