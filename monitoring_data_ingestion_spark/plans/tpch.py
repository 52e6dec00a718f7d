"""Relational core of the declared operator inventory (SURVEY.md §2.1-§2.8).

Every query here is stock DataFrame API — Catalyst handles pushdown,
pruning, join strategy (broadcast vs sort-merge via AQE), and two-phase
aggregation. The oracle SQL mirrors each query exactly (same aliases, same
decimal-routed float aggregation) so the driver's value-hash matches.

Scale notes are per-query docstrings: the fixture tables stand in for the
100 TB layout (fact tables partitioned by date, dims broadcastable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.deterministic import exact_sum, exact_sum_sql
from ..sources.readers import table
from .catalog import query

# ---------------------------------------------------------------------------
# Headline aggregation queries (A1-A5 generalized)
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    headline=True,
    tags=("agg", "filter"),
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {exact_sum_sql('l_quantity', 2)} AS sum_qty,
       {exact_sum_sql('l_extendedprice', 2)} AS sum_base_price,
       {exact_sum_sql('l_extendedprice * (1 - l_discount)', 8, cents=True)} AS sum_disc_price,
       {exact_sum_sql('(l_extendedprice * (1 - l_discount)) * (1 + l_tax)', 8, cents=True)} AS sum_charge,
       {exact_sum_sql('l_quantity', 2)} / COUNT(l_quantity) AS avg_qty,
       {exact_sum_sql('l_extendedprice', 2)} / COUNT(l_extendedprice) AS avg_price,
       {exact_sum_sql('l_discount', 6)} / COUNT(l_discount) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: filter → hash agg → sort.

    The generalized form of the reference's temporal mean (A1,
    /root/reference/src/file-conversions.js:206-217): null-ignoring
    aggregates over a filtered fact scan. Scale: the shipdate filter is
    pushed to the parquet scan; aggregation is partial (map-side) then
    final — one shuffle of ~|groups| rows, independent of fact size.

    r16 optimization (guide §1.2 "per-task work"): the decimal(30,·) sums
    were ~80% of the query (0.97 s vs 0.17 s with double sums at sf0.1,
    and the sums are the determinism contract, so they can't become plain
    doubles). Instead: qty/price/discount sums go through the narrowest
    decimal their DOMAIN bounds allow (qty ≤ 50, price < 10^6, discount
    < 1 — TPC-H generator invariants at every SF), which Catalyst's
    DecimalAggregates rewrites to pure long sums; the two scale-8 money
    products use exact two-limb long sums reassembled per group
    (functions/deterministic.py). Bit-identical results, verified
    exact-equal against the decimal(30,·) forms at sf0.001/0.01/0.1.
    The final ORDER BY sorts ≤ |returnflag|×|linestatus| rows — a bounded
    handful at any scale — so it runs as a single-partition sort instead
    of a range-exchange (saves the sampling job + exchange).
    """
    l = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    sum_qty = exact_sum("l_quantity", 2, 6)
    sum_price = exact_sum("l_extendedprice", 2, 6)
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum_qty.alias("sum_qty"),
            sum_price.alias("sum_base_price"),
            exact_sum(disc_price, 8, 6, cents=True).alias("sum_disc_price"),
            exact_sum(charge, 8, 6, cents=True).alias("sum_charge"),
            (sum_qty / F.count("l_quantity")).alias("avg_qty"),
            (sum_price / F.count("l_extendedprice")).alias("avg_price"),
            (exact_sum("l_discount", 6, 2) / F.count("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .coalesce(1)
        .sortWithinPartitions("l_returnflag", "l_linestatus")
    )


@query(
    "q3_shipping_priority",
    headline=True,
    tags=("join", "agg", "topk"),
    oracle=f"""
SELECT l.l_orderkey AS l_orderkey,
       {exact_sum_sql('l.l_extendedprice * (1 - l.l_discount)', 8)} AS revenue,
       o.o_orderdate AS o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15'
  AND l.l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: selective dim filter → 3-way join → agg → top-k.

    Scale: customer filter is pushed down; the filtered customer side is
    small → AQE converts to broadcast-hash join; top-k compiles to
    TakeOrderedAndProject (no global sort).

    r16: revenue uses the exact limb sum (see q1) — long arithmetic per
    row instead of BigDecimal, bit-identical to exact_sum(·, 8)
    with no declared domain.
    """
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    l = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 8, 6).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "q5_region_revenue",
    headline=True,
    tags=("join", "agg"),
    oracle=f"""
SELECT n.n_name AS n_name,
       {exact_sum_sql('l.l_extendedprice * (1 - l.l_discount)', 8, cents=True)} AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name
ORDER BY revenue DESC, n_name
""",
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped: star join through two dim hops + agg.

    Scale: nation/region/supplier are dims → explicit broadcast; only the
    orders⋈lineitem join shuffles, keyed on orderkey (high cardinality, no
    skew).

    r16: revenue uses the exact limb sum (see q1) — bit-identical to
    exact_sum(·, 8, cents=True) with no declared domain, long arithmetic
    per row; the ≤|nations|-row result sorts in one partition instead of
    a range exchange.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 8, 6, cents=True)
            .alias("revenue")
        )
        .coalesce(1)
        .sortWithinPartitions(F.desc("revenue"), "n_name")
    )


# ---------------------------------------------------------------------------
# Join family (J1-J4 generalized contract, SURVEY §2.3)
# ---------------------------------------------------------------------------


@query(
    "join_inner",
    tags=("join",),
    oracle="""
SELECT o.o_orderkey AS o_orderkey, c.c_name AS c_name, o.o_totalprice AS o_totalprice
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_totalprice > 400000
ORDER BY o_orderkey
""",
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join (J1 generalized): shuffle-hash/broadcast on key."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    c = table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .select("o_orderkey", "c_name", "o_totalprice")
        .orderBy("o_orderkey")
    )


@query(
    "join_left_outer",
    tags=("join", "agg"),
    oracle="""
SELECT c.c_custkey AS c_custkey, COUNT(o.o_orderkey) AS n_orders
FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey ORDER BY c_custkey
""",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join: customers with zero orders kept (count = 0)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .orderBy("c_custkey")
    )


@query(
    "join_full_outer",
    tags=("join",),
    oracle="""
WITH big_cust AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000),
     big_ord  AS (SELECT o_custkey, COUNT(*) AS n FROM orders WHERE o_totalprice > 350000 GROUP BY o_custkey)
SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
       c.c_acctbal AS c_acctbal, o.n AS n_big_orders
FROM big_cust c FULL OUTER JOIN big_ord o ON c.c_custkey = o.o_custkey
ORDER BY custkey
""",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with nulls on both unmatched sides."""
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select("c_custkey", "c_acctbal")
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 350000)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_big_orders"))
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "full_outer")
        .select(
            F.coalesce("c_custkey", "o_custkey").alias("custkey"),
            "c_acctbal",
            F.col("n_big_orders"),
        )
        .orderBy("custkey")
    )


@query(
    "join_left_semi",
    tags=("join",),
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
ORDER BY c_custkey
""",
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (J4: datasets↔files membership, generalized)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "join_left_anti",
    tags=("join",),
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
ORDER BY c_custkey
""",
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no orders at all."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "join_cross",
    tags=("join",),
    oracle="""
SELECT r.r_name AS r_name, s.seg AS seg
FROM region r CROSS JOIN (SELECT DISTINCT c_mktsegment AS seg FROM customer) s
ORDER BY r_name, seg
""",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join of two tiny sets (cartesian strategy)."""
    r = table(spark, sf_dir, "region").select("r_name")
    seg = table(spark, sf_dir, "customer").select(F.col("c_mktsegment").alias("seg")).distinct()
    return r.crossJoin(seg).orderBy("r_name", "seg")


@query(
    "join_broadcast_dims",
    tags=("join",),
    oracle="""
SELECT r.r_name AS r_name, COUNT(*) AS n_customers
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name ORDER BY r_name
""",
)
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dimension join (J2: the normals-cache join generalized).

    nation/region are explicitly broadcast: no shuffle of the fact side at
    all — the aggregation is the only exchange.
    """
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("r_name")
    )


@query(
    "join_positional_lookup",
    tags=("join", "array"),
    oracle="""
WITH vars AS (
  SELECT seg, rn - 1 AS pos FROM (
    SELECT seg, ROW_NUMBER() OVER (ORDER BY seg) AS rn
    FROM (SELECT DISTINCT c_mktsegment AS seg FROM customer)
  )
)
SELECT c.c_custkey AS c_custkey, v.pos + 1 AS record_number
FROM customer c JOIN vars v ON c.c_mktsegment = v.seg
WHERE c.c_custkey <= 100
ORDER BY c_custkey
""",
)
def join_positional_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional lookup join (J3): value → 1-based position in an ordered
    distinct list, via posexplode — order-sensitive by contract
    (/root/reference/src/sources/era5monthly.js:46,75-76)."""
    c = table(spark, sf_dir, "customer")
    vars_df = (
        c.select(F.col("c_mktsegment").alias("seg"))
        .distinct()
        .orderBy("seg")
        .agg(F.collect_list("seg").alias("vars"))
        .select(F.posexplode("vars").alias("pos", "seg"))
    )
    return (
        c.filter(F.col("c_custkey") <= 100)
        .join(F.broadcast(vars_df), F.col("c_mktsegment") == F.col("seg"))
        .select("c_custkey", (F.col("pos") + 1).cast("bigint").alias("record_number"))
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Aggregation family (A1-A5 generalized contract, SURVEY §2.4)
# ---------------------------------------------------------------------------


@query(
    "agg_stats",
    tags=("agg",),
    oracle=f"""
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT l_suppkey) AS n_supp,
       {exact_sum_sql('l_quantity', 2)} AS total_qty,
       CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
       CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price,
       {exact_sum_sql('l_extendedprice', 2)} / COUNT(l_extendedprice) AS mean_price
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count / count-distinct / sum / min / max / mean in one hash agg.

    count_distinct adds an expand+two-phase plan; at 100 TB prefer
    approx_count_distinct when exactness isn't contractual.
    """
    l = table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("l_suppkey").alias("n_supp"),
            exact_sum("l_quantity", 2).alias("total_qty"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            (exact_sum("l_extendedprice", 2) / F.count("l_extendedprice")).alias("mean_price"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_stddev",
    tags=("agg",),
    oracle=f"""
SELECT l_linestatus,
       SQRT(({exact_sum_sql('l_quantity * l_quantity', 4)} -
             {exact_sum_sql('l_quantity', 2)} * {exact_sum_sql('l_quantity', 2)} / COUNT(l_quantity))
            / (COUNT(l_quantity) - 1)) AS sd_qty
FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
""",
)
def agg_stddev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample stddev via exact decimal sums (deterministic across runs)."""
    l = table(spark, sf_dir, "lineitem")
    n = F.count("l_quantity")
    s = exact_sum("l_quantity", 2)
    s2 = exact_sum(F.col("l_quantity") * F.col("l_quantity"), 4)
    return (
        l.groupBy("l_linestatus")
        .agg(F.sqrt((s2 - s * s / n) / (n - F.lit(1))).alias("sd_qty"))
        .orderBy("l_linestatus")
    )


@query(
    "agg_rollup",
    tags=("agg", "rollup"),
    oracle="""
SELECT r.r_name AS r_name, n.n_name AS n_name, COUNT(*) AS n
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r.r_name, n.n_name)
ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
""",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region → nation → grand total)."""
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first())
    )


@query(
    "agg_cube",
    tags=("agg", "cube"),
    oracle=f"""
SELECT o_orderstatus AS o_orderstatus, o_orderpriority AS o_orderpriority,
       COUNT(*) AS n, {exact_sum_sql('o_totalprice', 2)} AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two low-cardinality keys with exact sums."""
    o = table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), exact_sum("o_totalprice", 2).alias("total"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@query(
    "agg_collect_sorted",
    tags=("agg", "array"),
    oracle="""
SELECT n_regionkey, array_to_string(list_sort(list(DISTINCT n_name)), ',') AS nations
FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
""",
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set → sorted → string (A4: inventory collect, made
    deterministic by sorting — collect order is never relied on)."""
    n = table(spark, sf_dir, "nation")
    return (
        n.groupBy("n_regionkey")
        .agg(F.array_join(F.array_sort(F.collect_set("n_name")), ",").alias("nations"))
        .orderBy("n_regionkey")
    )


@query(
    "agg_minmax_running",
    tags=("agg",),
    oracle="""
SELECT o_custkey, CAST(MIN(o_orderdate) AS TIMESTAMP) AS start_date,
       CAST(MAX(o_orderdate) AS TIMESTAMP) AS end_date, COUNT(*) AS n
FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 20 ORDER BY o_custkey
""",
)
def agg_minmax_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata start/end accumulation (A3: typical_metadata min/max,
    /root/reference/src/utility.js:135-142) + HAVING filter."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.min("o_orderdate").alias("start_date"),
            F.max("o_orderdate").alias("end_date"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("n") >= 20)
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# Window functions (W1-W2 generalized contract, SURVEY §2.5)
# ---------------------------------------------------------------------------


@query(
    "window_rank",
    tags=("window",),
    oracle="""
SELECT * FROM (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
         RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS rnk,
         DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS drnk,
         NTILE(4) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS quartile
  FROM orders
) WHERE rn <= 3 AND o_custkey <= 200
ORDER BY o_custkey, rn
""",
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank / ntile (W2: latest-state-wins,
    generalized). One shuffle on the partition key serves all four."""
    o = table(spark, sf_dir, "orders")
    by_price = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    by_prio = Window.partitionBy("o_custkey").orderBy("o_orderpriority")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(by_price).cast("bigint").alias("rn"),
            F.rank().over(by_prio).cast("bigint").alias("rnk"),
            F.dense_rank().over(by_prio).cast("bigint").alias("drnk"),
            F.ntile(4).over(by_price).cast("bigint").alias("quartile"),
        )
        .filter((F.col("rn") <= 3) & (F.col("o_custkey") <= 200))
        .orderBy("o_custkey", "rn")
    )


@query(
    "window_running_sum",
    tags=("window",),
    oracle=f"""
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
FROM orders WHERE o_custkey <= 100
ORDER BY o_custkey, o_orderkey
""",
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum with an explicit ROWS frame (exact via decimal)."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 100)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        exact_sum("o_totalprice", 2, over=w).alias("running_total"),
    ).orderBy("o_custkey", "o_orderkey")


@query(
    "window_range_frame",
    tags=("window",),
    oracle="""
SELECT o_orderkey, o_totalprice,
       COUNT(*) OVER (ORDER BY o_totalprice RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING) AS n_within_1k
FROM orders WHERE o_custkey <= 50
ORDER BY o_orderkey
""",
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: peers counted by value distance, not row position."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 50)
    w = Window.orderBy("o_totalprice").rangeBetween(-1000, 1000)
    return o.select(
        "o_orderkey", "o_totalprice", F.count(F.lit(1)).over(w).alias("n_within_1k")
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# Sort / limit / top-k (O1-O3, SURVEY §2.6)
# ---------------------------------------------------------------------------


@query(
    "topk_orders",
    tags=("sort", "topk"),
    oracle="""
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
""",
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k → TakeOrderedAndProject: per-partition heaps, no
    global sort (O(n) scan at any scale)."""
    o = table(spark, sf_dir, "orders")
    return o.select("o_orderkey", "o_totalprice").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    ).limit(25)


@query(
    "sort_multi_key",
    tags=("sort",),
    oracle="""
SELECT c_custkey, c_nationkey, c_acctbal FROM customer
WHERE c_acctbal < 0
ORDER BY c_nationkey ASC, c_acctbal DESC, c_custkey
""",
)
def sort_multi_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key global sort (range-partitioned exchange)."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 0)
    return c.select("c_custkey", "c_nationkey", "c_acctbal").orderBy(
        "c_nationkey", F.desc("c_acctbal"), "c_custkey"
    )


@query(
    "first_after_filter",
    tags=("sort", "topk"),
    oracle="""
SELECT CAST(o_orderdate AS TIMESTAMP) AS next_date FROM orders
WHERE o_orderdate > TIMESTAMP '1999-06-15'
ORDER BY o_orderdate, o_orderkey LIMIT 1
""",
)
def first_after_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-over-filter = top-1 (O1: the OSCAR next-date lookup,
    /root/reference/src/oscar.js:4-11)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderdate") > F.lit("1999-06-15").cast("timestamp"))
        .select(F.col("o_orderdate").alias("next_date"))
        .orderBy("next_date", "o_orderkey")
        .limit(1)
    )


# ---------------------------------------------------------------------------
# Set operations (U1-U3, SURVEY §2.7)
# ---------------------------------------------------------------------------


@query(
    "set_union_all",
    tags=("setop",),
    oracle="""
SELECT k, src FROM (
  SELECT c_nationkey AS k, 'cust' AS src FROM customer WHERE c_acctbal > 9990
  UNION ALL
  SELECT s_nationkey AS k, 'supp' AS src FROM supplier WHERE s_acctbal > 9000
) ORDER BY k, src
""",
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName (U1: destructive_cat / multi-file stacking)."""
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9990)
        .select(F.col("c_nationkey").alias("k"), F.lit("cust").alias("src"))
    )
    s = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .select(F.col("s_nationkey").alias("k"), F.lit("supp").alias("src"))
    )
    return c.unionByName(s).orderBy("k", "src")


@query(
    "set_intersect",
    tags=("setop",),
    oracle="""
SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 9900
INTERSECT
SELECT s_nationkey AS k FROM supplier WHERE s_acctbal > 9000
ORDER BY k
""",
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct set semantics, matching ANSI)."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9900).select(
        F.col("c_nationkey").alias("k")
    )
    s = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 9000).select(
        F.col("s_nationkey").alias("k")
    )
    return c.intersect(s).orderBy("k")


@query(
    "set_except",
    tags=("setop",),
    oracle="""
SELECT c_nationkey AS k FROM customer
EXCEPT
SELECT s_nationkey AS k FROM supplier
ORDER BY k
""",
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct set difference) — `subtract` is EXCEPT DISTINCT."""
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.subtract(s).orderBy("k")


@query(
    "set_union_distinct",
    tags=("setop",),
    oracle="""
SELECT n_regionkey AS k FROM nation
UNION
SELECT r_regionkey AS k FROM region
ORDER BY k
""",
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION DISTINCT (U2: scheduler set semantics)."""
    n = table(spark, sf_dir, "nation").select(F.col("n_regionkey").alias("k"))
    r = table(spark, sf_dir, "region").select(F.col("r_regionkey").alias("k"))
    return n.union(r).distinct().orderBy("k")


# ---------------------------------------------------------------------------
# Projection / filter / predicates (P1-P7, SURVEY §2.2)
# ---------------------------------------------------------------------------


@query(
    "filter_rlike_limit",
    tags=("filter", "string"),
    oracle="""
SELECT p_partkey, p_name FROM part
WHERE regexp_matches(p_name, '^(red|green).*metal')
ORDER BY p_partkey LIMIT 20
""",
)
def filter_rlike_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex record filter + limit (P2: wgrib2 -match/-limit,
    /root/reference/src/file-conversions.js:79-87), made deterministic
    with a sort before the limit."""
    p = table(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_name").rlike("^(red|green).*metal"))
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
        .limit(20)
    )


@query(
    "filter_bbox_pushdown",
    tags=("filter",),
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
WHERE l_quantity BETWEEN 10 AND 12 AND l_extendedprice BETWEEN 20000 AND 21000
ORDER BY l_orderkey, l_linenumber
""",
)
def filter_bbox_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-predicate "bbox" filter (P3): both bounds reach the parquet
    scan as PushedFilters — verified in tests via the physical plan."""
    l = table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            F.col("l_quantity").between(10, 12) & F.col("l_extendedprice").between(20000, 21000)
        )
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "project_null_sentinel",
    tags=("filter", "null"),
    oracle=f"""
SELECT l_returnflag,
       {exact_sum_sql('CASE WHEN l_quantity <= 45 THEN l_quantity END', 2)} /
         COUNT(CASE WHEN l_quantity <= 45 THEN l_quantity END) AS avg_valid,
       COUNT(*) - COUNT(CASE WHEN l_quantity <= 45 THEN l_quantity END) AS n_missing
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def project_null_sentinel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentinel→NULL mapping + null-ignoring aggregate (P5: nodata −9999
    semantics, /root/reference/src/file-conversions.js:183-184).
    Values > 45 play the sentinel role; aggregates must skip them."""
    l = table(spark, sf_dir, "lineitem")
    valid = F.when(F.col("l_quantity") <= 45, F.col("l_quantity"))
    return (
        l.groupBy("l_returnflag")
        .agg(
            (exact_sum(valid, 2) / F.count(valid)).alias("avg_valid"),
            (F.count(F.lit(1)) - F.count(valid)).alias("n_missing"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Scalar function surface (F1-F20, SURVEY §2.8)
# ---------------------------------------------------------------------------


@query(
    "scalar_math",
    tags=("scalar",),
    oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(l_quantity * 0.001 AS DOUBLE) AS scaled,
       LEAST(GREATEST(l_quantity, 10.0), 40.0) AS clamped,
       CAST(((CAST(FLOOR(l_quantity) AS BIGINT) - 3) % 7 + 7) % 7 + 3 AS BIGINT) AS offset_mod,
       ROUND(l_extendedprice / 1000, 1) AS price_k,
       CAST(FLOOR(l_discount * 100) AS BIGINT) AS disc_pct,
       ABS(l_quantity - 25) AS dist_from_25
FROM lineitem WHERE l_orderkey <= 100
ORDER BY l_orderkey, l_linenumber
""",
)
def scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math surface: mulc scale (F1), clamp (F3), offset modulo (F4),
    round/floor/abs."""
    from ..functions.math import clamp, modulo

    l = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 100)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_quantity") * 0.001).alias("scaled"),
        clamp("l_quantity", 10.0, 40.0).alias("clamped"),
        # floor-then-mod: DuckDB CAST(double AS INT) rounds, Spark
        # truncates — FLOOR is the one portable double→int path.
        modulo(F.floor("l_quantity").cast("bigint"), 7, 3).cast("bigint").alias("offset_mod"),
        F.round(F.col("l_extendedprice") / 1000, 1).alias("price_k"),
        F.floor(F.col("l_discount") * 100).alias("disc_pct"),
        F.abs(F.col("l_quantity") - 25).alias("dist_from_25"),
    ).orderBy("l_orderkey", "l_linenumber")


@query(
    "scalar_strings",
    tags=("scalar", "string"),
    oracle="""
SELECT c_custkey,
       UPPER(c_mktsegment) AS seg_upper,
       c_name || '/' || c_mktsegment AS joined,
       REPLACE(c_mktsegment, 'E', '_') AS mangled,
       SUBSTR(c_name, 1, 8) AS prefix8,
       LPAD(CAST(c_nationkey AS VARCHAR), 4, '0') AS nation_padded,
       LENGTH(c_name) AS name_len,
       string_split(c_name, '#')[1] AS name_head,
       regexp_extract(c_name, '([0-9]+)', 1) AS digits
FROM customer WHERE c_custkey <= 200
ORDER BY c_custkey
""",
)
def scalar_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String surface (F14-F16): case, concat, replace-mangle, substring,
    lpad, length, split, regexp_extract."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200)
    return c.select(
        "c_custkey",
        F.upper("c_mktsegment").alias("seg_upper"),
        F.concat(F.col("c_name"), F.lit("/"), F.col("c_mktsegment")).alias("joined"),
        F.regexp_replace("c_mktsegment", "E", "_").alias("mangled"),
        F.substring("c_name", 1, 8).alias("prefix8"),
        F.lpad(F.col("c_nationkey").cast("string"), 4, "0").alias("nation_padded"),
        F.length("c_name").cast("bigint").alias("name_len"),
        F.split("c_name", "#").getItem(0).alias("name_head"),
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("digits"),
    ).orderBy("c_custkey")


@query(
    "scalar_datetime",
    tags=("scalar", "datetime"),
    oracle="""
SELECT o_orderkey,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_floor,
       CAST(CAST(o_orderdate + INTERVAL 1 MONTH AS DATE) AS TIMESTAMP) AS next_month,
       CAST(CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS TIMESTAMP) AS month_end,
       CAST(year(o_orderdate) AS BIGINT) AS yr,
       CAST(month(o_orderdate) AS BIGINT) AS mo,
       CAST(dayofmonth(o_orderdate) AS BIGINT) AS dom,
       strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%g') || 'Z' AS iso,
       CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS DOUBLE) AS days_since_epoch,
       lpad(CAST(month(o_orderdate) AS VARCHAR), 2, '0') AS p_month
FROM orders WHERE o_orderkey <= 300
ORDER BY o_orderkey
""",
)
def scalar_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime surface (F6-F12): month floor/advance (the reference's
    cursor step, /root/reference/src/sources/era5monthly.js:38-41),
    month-end clamp, components, ISO format, float day diff, zero-pad."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 300)
    return o.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("month_floor"),
        F.add_months("o_orderdate", 1).cast("timestamp").alias("next_month"),
        F.last_day("o_orderdate").cast("timestamp").alias("month_end"),
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("dom"),
        F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").alias("iso"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("double")
        .alias("days_since_epoch"),
        F.lpad(F.month("o_orderdate").cast("string"), 2, "0").alias("p_month"),
    ).orderBy("o_orderkey")


@query(
    "scalar_conditional_hash",
    tags=("scalar", "hash"),
    oracle="""
SELECT s_suppkey,
       CASE WHEN s_acctbal < 0 THEN 'debt' WHEN s_acctbal < 5000 THEN 'low' ELSE 'high' END AS bal_band,
       COALESCE(NULLIF(s_name, ''), 'unknown') AS name_or_default,
       md5(s_name) AS name_md5,
       sha256(s_name) AS name_sha256
FROM supplier ORDER BY s_suppkey
""",
)
def scalar_conditional_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditionals (F20) + hashing (F18): when/otherwise, coalesce,
    md5, sha2-256 — all JVM built-ins."""
    s = table(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        F.when(F.col("s_acctbal") < 0, "debt")
        .when(F.col("s_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("bal_band"),
        F.coalesce(F.nullif("s_name", F.lit("")), F.lit("unknown")).alias("name_or_default"),
        F.md5("s_name").alias("name_md5"),
        F.sha2("s_name", 256).alias("name_sha256"),
    ).orderBy("s_suppkey")


@query(
    "dedup_exact_keep_first",
    tags=("dedup",),
    oracle="""
SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber FROM (
  SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber,
         ROW_NUMBER() OVER (PARTITION BY l_partkey, l_suppkey ORDER BY l_orderkey, l_linenumber) AS rn
  FROM lineitem
) WHERE rn = 1 ORDER BY l_partkey, l_suppkey
""",
)
def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with deterministic survivor (row_number = 1 under a
    total order) — dropDuplicates semantics made reproducible. A2/U2
    generalized; at scale this is one shuffle on the dedup key."""
    l = table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey", "l_suppkey").orderBy("l_orderkey", "l_linenumber")
    return (
        l.select("l_partkey", "l_suppkey", "l_orderkey", "l_linenumber")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("l_partkey", "l_suppkey")
    )
