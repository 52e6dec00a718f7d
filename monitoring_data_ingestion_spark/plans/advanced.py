"""Advanced relational surface: range joins, gap interpolation, regression
aggregates, boolean/bitwise aggregation, and relational pivot/unpivot
reshaping.

These extend the generalized contracts of SURVEY.md §2.3 (range/as-of join
family), §2.4 (aggregate families), and §2.8 (conditional/scalar surface)
with the operator shapes a 100 TB analytics deployment uses daily. Every
query is stock DataFrame API and ships a DuckDB oracle.

Scale stance: the range join is bucketized (interval → coarse time buckets →
equi-join → exact refine) so the shuffle key is (user, bucket) and the plan
never degenerates into a broadcast-nested-loop inequality join; the
regression/correlation aggregates are computed from exact decimal power sums
(one shuffle, order-independent) rather than float co-moment merges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.deterministic import exact_sum, exact_sum_sql
from ..sources.readers import table
from .catalog import query

# Range-join window: points within [anchor.ts, anchor.ts + RANGE_MIN).
RANGE_MIN = 60
_BUCKET_S = RANGE_MIN * 60  # bucket width == interval width → ≤ 2 buckets


@query(
    "ts_range_join",
    headline=True,
    tags=("join", "range", "timeseries"),
    oracle=f"""
SELECT a.event_id AS anchor_id, p.event_id AS event_id,
       p.event_type AS event_type,
       CAST(date_diff('second', a.ts, p.ts) AS BIGINT) AS lag_seconds
FROM events a
JOIN events p
  ON p.user_id = a.user_id
 AND p.ts >= a.ts
 AND p.ts < a.ts + INTERVAL {RANGE_MIN} MINUTE
 AND p.event_id <> a.event_id
WHERE a.event_type = 'purchase'
ORDER BY anchor_id, event_id
""",
)
def ts_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: every event within 60 minutes after a
    purchase by the same user — the general form of the reference's
    "records near a timestamp" lookups (SURVEY §2.3 range/as-of contract).

    Scale: the interval [ts, ts+60min) is bucketized to 60-minute epochs —
    each anchor explodes into exactly 2 buckets — so the join is a plain
    equi-join on (user_id, bucket) followed by the exact range refine.
    Catalyst would otherwise plan an inequality join as broadcast-nested-
    loop; bucketization keeps it a shuffled hash join whose fan-out is
    bounded by per-bucket density, which survives a 1000-executor scale-up.
    """
    e = table(spark, sf_dir, "events")
    anchors = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("anchor_id"),
        F.col("user_id").alias("a_user"),
        F.col("ts").alias("a_ts"),
    )
    # Each anchor covers exactly two epoch buckets of width == interval.
    a_long = anchors.select(
        "anchor_id",
        "a_user",
        "a_ts",
        F.explode(
            F.array(
                (F.unix_timestamp("a_ts") / _BUCKET_S).cast("bigint"),
                (F.unix_timestamp("a_ts") / _BUCKET_S).cast("bigint") + 1,
            )
        ).alias("bucket"),
    )
    points = e.select(
        F.col("event_id"),
        F.col("event_type"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        (F.unix_timestamp("ts") / _BUCKET_S).cast("bigint").alias("bucket"),
    )
    return (
        a_long.join(points, (a_long.a_user == points.p_user) & (a_long.bucket == points.bucket))
        .filter(
            (F.col("p_ts") >= F.col("a_ts"))
            & (F.col("p_ts") < F.col("a_ts") + F.expr(f"INTERVAL {RANGE_MIN} MINUTES"))
            & (F.col("event_id") != F.col("anchor_id"))
        )
        .select(
            "anchor_id",
            "event_id",
            "event_type",
            (F.unix_timestamp("p_ts") - F.unix_timestamp("a_ts")).alias("lag_seconds"),
        )
        .orderBy("anchor_id", "event_id")
    )


@query(
    "ts_interpolate_linear",
    tags=("window", "timeseries", "gapfill"),
    oracle=f"""
WITH hourly AS (
  SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
         {exact_sum_sql('value', 6)} / COUNT(*) AS v
  FROM events WHERE user_id <= 20 GROUP BY 1, 2
),
spine AS (
  SELECT u.user_id, s.hr
  FROM (SELECT DISTINCT user_id FROM hourly) u,
  LATERAL (
    SELECT unnest(generate_series(
      (SELECT MIN(hr) FROM hourly), (SELECT MAX(hr) FROM hourly),
      INTERVAL 1 HOUR)) AS hr
  ) s
),
joined AS (
  SELECT s.user_id, s.hr, h.v FROM spine s
  LEFT JOIN hourly h ON h.user_id = s.user_id AND h.hr = s.hr
),
bounded AS (
  SELECT user_id, hr, v,
    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hr
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
    last_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY hr
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_hr,
    first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hr
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
    first_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY hr
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_hr
  FROM joined
)
SELECT user_id, hr,
  CASE
    WHEN v IS NOT NULL THEN v
    WHEN prev_v IS NULL OR next_v IS NULL THEN NULL
    ELSE prev_v + (next_v - prev_v)
         * (CAST(date_diff('second', prev_hr, hr) AS DOUBLE)
            / CAST(date_diff('second', prev_hr, next_hr) AS DOUBLE))
  END AS v_interp
FROM bounded
ORDER BY user_id, hr
""",
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over a dense hourly spine: downsample each
    user's events to hourly means, build the complete hour spine, and fill
    gaps by interpolating between the surrounding observations (the
    standard gridded-timeseries regularization the reference's monthly
    cursor implies, generalized to arbitrary gaps).

    Scale: the spine is sequence()+explode per user (no driver loop); the
    surrounding-observation lookup is two IGNORE NULLS window passes that
    share one (user, hour) sort; interpolation itself is a codegen'd
    arithmetic expression. At 100 TB the window partitions by entity key so
    state never exceeds one entity's spine.
    """
    e = table(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hr")
    ).agg((exact_sum("value", 6) / F.count(F.lit(1))).alias("v"))
    bounds = hourly.agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
    spine = (
        hourly.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hr"),
        )
    )
    joined = spine.join(hourly, ["user_id", "hr"], "left")
    wb = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_hr = F.when(F.col("v").isNotNull(), F.col("hr"))
    prev_v = F.last("v", ignorenulls=True).over(wb)
    prev_hr = F.last(obs_hr, ignorenulls=True).over(wb)
    next_v = F.first("v", ignorenulls=True).over(wf)
    next_hr = F.first(obs_hr, ignorenulls=True).over(wf)
    frac = (
        (F.unix_timestamp("hr") - F.unix_timestamp(prev_hr)).cast("double")
        / (F.unix_timestamp(next_hr) - F.unix_timestamp(prev_hr)).cast("double")
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(prev_v.isNull() | next_v.isNull(), F.lit(None).cast("double"))
        .otherwise(prev_v + (next_v - prev_v) * frac)
    )
    return joined.select("user_id", "hr", interp.alias("v_interp")).orderBy("user_id", "hr")


@query(
    "agg_regression_stats",
    tags=("agg", "stats"),
    oracle=f"""
WITH sums AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         {exact_sum_sql('l_quantity', 2)} AS sx,
         {exact_sum_sql('l_extendedprice', 2)} AS sy,
         {exact_sum_sql('l_quantity * l_quantity', 4)} AS sxx,
         {exact_sum_sql('l_extendedprice * l_extendedprice', 4)} AS syy,
         {exact_sum_sql('l_quantity * l_extendedprice', 4)} AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       n,
       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
       (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS intercept,
       (n * sxy - sx * sy)
         / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS corr,
       (sxy - sx * sy / n) / n AS covar_pop
FROM sums
ORDER BY l_returnflag
""",
)
def agg_regression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS regression (slope/intercept), Pearson correlation and
    population covariance of quantity vs price — the closed-form power-sum
    formulation of Spark's regr_slope/regr_intercept/corr/covar_pop.

    Built from exact decimal power sums (Σx, Σy, Σx², Σy², Σxy) in ONE
    grouped pass, then combined with a fixed double op sequence — unlike
    float co-moment merging, the result is bit-identical under any
    partitioning (and matches the oracle running the same formula). Scale:
    single shuffle of |groups| rows carrying 6 numbers each.
    """
    l = table(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    sums = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum(q, 2).alias("sx"),
        exact_sum(p, 2).alias("sy"),
        exact_sum(q * q, 4).alias("sxx"),
        exact_sum(p * p, 4).alias("syy"),
        exact_sum(q * p, 4).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return sums.select(
        "l_returnflag",
        "n",
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
        ((n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))).alias("corr"),
        ((sxy - sx * sy / n) / n).alias("covar_pop"),
    ).orderBy("l_returnflag")


@query(
    "agg_boolean_bitwise",
    tags=("agg", "boolean", "bitwise"),
    oracle="""
SELECT o_orderpriority,
       bool_and(o_totalprice > 1000) AS all_over_1k,
       bool_or(o_orderstatus = 'F') AS any_finished,
       CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_large,
       CAST(bit_and(o_orderkey) AS BIGINT) AS key_bit_and,
       CAST(bit_or(o_orderkey) AS BIGINT) AS key_bit_or,
       CAST(bit_xor(o_orderkey) AS BIGINT) AS key_bit_xor
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def agg_boolean_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean (bool_and/bool_or/count_if) and bitwise (bit_and/or/xor)
    aggregate families — §2.4's contract extended to the predicate- and
    bitmask-aggregation shapes. All are associative+commutative integer
    ops, so they're exactly reproducible under any partitioning; Catalyst
    plans them as ordinary two-phase hash aggregates.
    """
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
            F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
            F.count_if(F.col("o_totalprice") > 100000).alias("n_large"),
            F.bit_and("o_orderkey").alias("key_bit_and"),
            F.bit_or("o_orderkey").alias("key_bit_or"),
            F.bit_xor("o_orderkey").alias("key_bit_xor"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "unpivot_nation_balances",
    tags=("reshape", "unpivot"),
    oracle=f"""
WITH cust AS (
  SELECT c_nationkey AS nk, {exact_sum_sql('c_acctbal', 2)} AS customer_bal
  FROM customer GROUP BY 1
),
supp AS (
  SELECT s_nationkey AS nk, {exact_sum_sql('s_acctbal', 2)} AS supplier_bal
  FROM supplier GROUP BY 1
),
wide AS (
  SELECT n.n_name, cust.customer_bal, supp.supplier_bal
  FROM nation n
  LEFT JOIN cust ON cust.nk = n.n_nationkey
  LEFT JOIN supp ON supp.nk = n.n_nationkey
)
SELECT n_name, 'customer_bal' AS side, customer_bal AS acctbal FROM wide
UNION ALL
SELECT n_name, 'supplier_bal' AS side, supplier_bal AS acctbal FROM wide
ORDER BY n_name, side
""",
)
def unpivot_nation_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape via DataFrame.unpivot (melt): per-nation customer
    and supplier balance columns become (nation, side, value) rows — the
    inverse of agg_pivot, completing the reshape pair. Spark's unpivot is a
    zero-shuffle Expand node (each input row emits one row per value
    column), so the reshape is free at any scale.
    """
    n = table(spark, sf_dir, "nation")
    cust = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(exact_sum("c_acctbal", 2).alias("customer_bal"))
    )
    supp = (
        table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(exact_sum("s_acctbal", 2).alias("supplier_bal"))
    )
    wide = (
        n.join(F.broadcast(cust), n.n_nationkey == cust.nk, "left")
        .join(F.broadcast(supp), n.n_nationkey == supp.nk, "left")
        .select("n_name", "customer_bal", "supplier_bal")
    )
    return wide.unpivot(
        ids=["n_name"],
        values=["customer_bal", "supplier_bal"],
        variableColumnName="side",
        valueColumnName="acctbal",
    ).orderBy("n_name", "side")


@query(
    "ts_yoy_growth",
    tags=("window", "timeseries", "analytics"),
    oracle=f"""
WITH yearly AS (
  SELECT o_orderpriority,
         CAST(year(o_orderdate) AS INTEGER) AS yr,
         {exact_sum_sql('o_totalprice', 2)} AS revenue
  FROM orders
  GROUP BY 1, 2
)
SELECT o_orderpriority, yr, revenue,
       (revenue - lag(revenue) OVER (PARTITION BY o_orderpriority ORDER BY yr))
         / lag(revenue) OVER (PARTITION BY o_orderpriority ORDER BY yr) AS yoy_growth
FROM yearly
ORDER BY o_orderpriority, yr
""",
)
def ts_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth: yearly revenue per priority with lag-based
    relative delta — the standard periodic-comparison analytic (the
    reference's month-over-month anomaly cadence, generalized to
    arbitrary period arithmetic).

    Scale: the aggregate collapses the fact table to |priorities|×|years|
    rows BEFORE the window, so the lag pass is over a tiny frame — the
    correct operator order at any scale (never window-then-aggregate).
    """
    o = table(spark, sf_dir, "orders")
    yearly = o.groupBy(
        "o_orderpriority", F.year("o_orderdate").alias("yr")
    ).agg(exact_sum("o_totalprice", 2).alias("revenue"))
    w = Window.partitionBy("o_orderpriority").orderBy("yr")
    growth = (F.col("revenue") - F.lag("revenue").over(w)) / F.lag("revenue").over(w)
    return yearly.select(
        "o_orderpriority", "yr", "revenue", growth.alias("yoy_growth")
    ).orderBy("o_orderpriority", "yr")
