"""Extended relational coverage: the classic TPC-H query shapes the base
module (tpch.py) doesn't exercise, adapted to the fixture schema (no
partsupp table, no commit/receipt dates — predicates re-cast onto the
columns that exist).

Why these shapes matter for the engine contract (SURVEY.md §2.3/§2.4/§2.6):
correlated EXISTS (Q4), scan-only aggregation (Q6), bilateral dim routing
(Q7), multi-way join with derived measures (Q9), group-filter join-back
(Q18), disjunctive pushdown (Q19), scalar-subquery + anti-join (Q22),
per-group-min join-back (Q2). Each runs the operator through a plan Catalyst
must optimize well at 100 TB — the docstrings state the expected physical
strategy, tests assert the key properties (pushdown, broadcast).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.deterministic import exact_sum, exact_sum_sql
from ..sources.readers import table
from .catalog import query


@query(
    "q2_min_price_supplier",
    tags=("join", "agg", "subquery"),
    oracle="""
WITH offers AS (
  SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS best_price
  FROM lineitem GROUP BY l_partkey, l_suppkey
), part_best AS (
  SELECT l_partkey, MIN(best_price) AS min_price FROM offers GROUP BY l_partkey
)
SELECT p.p_partkey AS p_partkey, s.s_name AS s_name, o.best_price AS best_price
FROM offers o
JOIN part_best b ON o.l_partkey = b.l_partkey AND o.best_price = b.min_price
JOIN part p ON p.p_partkey = o.l_partkey
JOIN supplier s ON s.s_suppkey = o.l_suppkey
WHERE p.p_size = 15
ORDER BY p_partkey, s_name
""",
)
def q2_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped per-group-min join-back: cheapest supplier offer per
    part (correlated-min subquery, the classic MIN-then-rejoin plan).

    Scale: both aggregations share the (l_partkey, l_suppkey) shuffle; the
    min-per-part side is |parts| rows → AQE broadcasts it back. MIN is
    order-independent so no decimal routing is needed; the equality
    join-back on the min compares a value MIN itself produced (bit-exact in
    both engines).
    """
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    s = table(spark, sf_dir, "supplier")
    offers = l.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("best_price")
    )
    part_best = offers.groupBy("l_partkey").agg(F.min("best_price").alias("min_price"))
    return (
        offers.join(
            part_best,
            (offers.l_partkey == part_best.l_partkey)
            & (offers.best_price == part_best.min_price),
        )
        .drop(part_best.l_partkey)
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("p_partkey", "s_name", "best_price")
        .orderBy("p_partkey", "s_name")
    )


@query(
    "q4_order_priority",
    tags=("join", "agg", "subquery"),
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
  AND o.o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped correlated EXISTS: orders in a quarter having at
    least one line shipped >60 days after order date (stand-in for the
    commit<receipt lateness predicate), counted by priority.

    Scale: the EXISTS compiles to a left-semi hash join on o_orderkey; the
    quarter filter is pushed to the orders scan, so the semi-join probe side
    is one quarter of the fact, not the whole table.
    """
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    l = table(spark, sf_dir, "lineitem")
    late = o.join(
        l,
        (l.l_orderkey == o.o_orderkey)
        & (l.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q6_forecast_revenue",
    headline=True,
    tags=("agg", "filter"),
    oracle=f"""
SELECT {exact_sum_sql('l_extendedprice * l_discount', 8, cents=True)} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-side aggregation — the pushdown/pruning
    benchmark. No join, no group key: partial aggregation reduces every
    partition to one row, the final exchange moves |partitions| rows.

    Scale: all three predicates reach the parquet scan as PushedFilters;
    only (l_extendedprice, l_discount, l_quantity, l_shipdate) are read
    (column pruning). At 100 TB with date-partitioned layout the shipdate
    range also prunes whole partitions.

    r16: revenue sums through the exact two-limb long sum (see q1 —
    l_extendedprice·l_discount is non-negative and < 10^6 by TPC-H domain
    bounds), bit-identical to exact_sum(·, 8, cents=True) with no declared
    domain, with primitive-long updates.
    """
    l = table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            exact_sum(F.col("l_extendedprice") * F.col("l_discount"), 8, 6, cents=True)
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q7_volume_shipping",
    tags=("join", "agg"),
    oracle=f"""
SELECT supp_nation, cust_nation, l_year,
       {exact_sum_sql('volume', 8)} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
      OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
    AND l.l_shipdate >= TIMESTAMP '1996-01-01'
    AND l.l_shipdate < TIMESTAMP '1998-01-01'
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped bilateral volume: revenue flowing between two
    nations in each direction, by ship year.

    Scale: the nation pair predicate is applied after two broadcast dim
    joins; the only shuffles are orders⋈lineitem (orderkey) and the final
    tiny aggregation. The disjunctive pair filter can't be pushed below the
    joins, but both dim joins are broadcast so no extra exchange appears.
    """
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_8")
    ) | ((F.col("supp_nation") == "NATION_8") & (F.col("cust_nation") == "NATION_3"))
    return (
        l.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate").cast("bigint"))
        .withColumn("volume", F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(exact_sum("volume", 8).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q9_profit_by_nation",
    headline=True,
    tags=("join", "agg"),
    oracle=f"""
SELECT nation, o_year, {exact_sum_sql('amount', 8, cents=True)} AS sum_profit
FROM (
  SELECT n.n_name AS nation,
         CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) - p.p_retailprice * l.l_quantity * 0.1 AS amount
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE p.p_name LIKE '%green%'
)
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
""",
)
def q9_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped product-line profit by nation and order year. The
    fixture has no partsupp, so supply cost is modeled as 10% of
    p_retailprice × quantity — same join/agg shape, same measure plumbing.

    Scale: part (filtered on name) and supplier/nation broadcast; the two
    fact shuffles (partkey, then orderkey) dominate — AQE handles the
    rest. The derived measure stays in whole-stage codegen.
    """
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%green%"))
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")
    n = table(spark, sf_dir, "nation")
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            (
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
                - F.col("p_retailprice") * F.col("l_quantity") * 0.1
            ).alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(exact_sum("amount", 8, cents=True).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@query(
    "q10_returned_items",
    tags=("join", "agg", "topk"),
    oracle=f"""
SELECT c.c_custkey AS c_custkey, c.c_name AS c_name,
       {exact_sum_sql('l.l_extendedprice * (1 - l.l_discount)', 8)} AS revenue,
       c.c_acctbal AS c_acctbal, n.n_name AS n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-10-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by revenue lost to returned items in a
    quarter.

    Scale: quarter + returnflag filters push to the scans; nation
    broadcasts; the group key includes the customer attributes so no second
    join-back is needed; top-k is TakeOrderedAndProject.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 8).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "q14_promo_revenue",
    tags=("join", "agg"),
    oracle=f"""
SELECT 100.00 * {exact_sum_sql("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END", 8)}
       / {exact_sum_sql('l.l_extendedprice * (1 - l.l_discount)', 8)} AS promo_revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-03-01'
  AND l.l_shipdate < TIMESTAMP '1997-04-01'
""",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo share of one month's revenue — conditional
    aggregation over a broadcast-joined dim attribute.

    Scale: part is the broadcast side; the month filter prunes the fact
    scan; one partial+final agg, no group key.
    """
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg((F.lit(100.0) * exact_sum(promo, 8) / exact_sum(rev, 8)).alias("promo_revenue"))
    )


@query(
    "q18_large_volume_customer",
    tags=("join", "agg", "subquery", "topk"),
    oracle=f"""
SELECT c.c_name AS c_name, c.c_custkey AS c_custkey, o.o_orderkey AS o_orderkey,
       CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate, o.o_totalprice AS o_totalprice,
       {exact_sum_sql('l.l_quantity', 2)} AS total_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(30,2))) > 210
)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""",
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds a threshold, with
    their customers — the group-filter → semi-join-back shape.

    Scale: the HAVING side reuses the lineitem(orderkey) shuffle that the
    outer join also needs; the qualifying-orderkey set is tiny → left-semi
    broadcast. Decimal sum keeps the >210 cut deterministic.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(exact_sum("l_quantity", 2).alias("q"))
        .filter(F.col("q") > 210)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        o.join(F.broadcast(big), F.col("o_orderkey") == F.col("big_orderkey"), "left_semi")
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(exact_sum("l_quantity", 2).alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@query(
    "q19_disjunctive_revenue",
    tags=("join", "filter", "agg"),
    oracle=f"""
SELECT {exact_sum_sql('l.l_extendedprice * (1 - l.l_discount)', 8)} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5  AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10 AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 20 AND 30)
""",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: OR-of-ANDs mixing join-side and fact-side predicates.

    Scale: Catalyst extracts the common parts (p_size >= 1, brand IN (...))
    below the join and keeps the residual disjunction as the join filter;
    part broadcasts. Tests assert an In/brand filter lands on the part scan.
    """
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 8).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q21_late_suppliers",
    tags=("join", "agg", "topk"),
    oracle="""
SELECT s.s_name AS s_name, COUNT(*) AS numwait
FROM supplier s
JOIN lineitem l ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
GROUP BY s.s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""",
)
def q21_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped lateness ranking: suppliers ordered by how many of
    their lines on finalized orders shipped >90 days late.

    Scale: supplier broadcasts; the o⋈l shuffle on orderkey carries only
    pruned columns; the non-equi lateness predicate rides on the equi-join
    as a residual filter (no nested-loop).
    """
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l = table(spark, sf_dir, "lineitem")
    return (
        l.join(
            o,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        )
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@query(
    "q22_idle_customers",
    tags=("join", "agg", "subquery"),
    oracle=f"""
WITH avg_bal AS (
  SELECT {exact_sum_sql('c_acctbal', 2)} / COUNT(c_acctbal) AS a
  FROM customer WHERE c_acctbal > 0
)
SELECT c.c_nationkey AS c_nationkey, COUNT(*) AS numcust,
       {exact_sum_sql('c.c_acctbal', 2)} AS totacctbal
FROM customer c, avg_bal
WHERE c.c_acctbal > avg_bal.a
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c.c_nationkey
ORDER BY c_nationkey
""",
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped: customers richer than the positive-balance average
    who never ordered, grouped by nation — scalar subquery + anti-join.

    Scale: the scalar average is one tiny broadcast row (crossJoin of a
    1-row DataFrame); the anti-join shuffles on custkey; decimal sums make
    the > threshold cut and totals deterministic.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg((exact_sum("c_acctbal", 2) / F.count("c_acctbal")).alias("a"))
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            exact_sum("c_acctbal", 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


@query(
    "agg_grouping_sets",
    tags=("agg", "rollup"),
    oracle=f"""
SELECT o_orderstatus AS o_orderstatus, o_orderpriority AS o_orderpriority,
       COUNT(*) AS n, {exact_sum_sql('o_totalprice', 2)} AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS — the third member of the rollup/cube family (SURVEY
    §2.4 generalized contract), via SQL on a temp view (the DataFrame API
    has no direct grouping-sets builder)."""
    o = table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
        """
    )


@query(
    "agg_pivot",
    tags=("agg", "pivot"),
    oracle=f"""
SELECT o_orderstatus,
       {exact_sum_sql("CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END", 2)} AS urgent,
       {exact_sum_sql("CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END", 2)} AS high,
       {exact_sum_sql("CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END", 2)} AS low,
       COUNT(*) AS n
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide) with an explicit value list: per-status revenue
    split across priority columns. The explicit list matters at scale —
    unlisted-value pivot needs an extra distinct pass over the fact table
    to discover columns; listing them keeps this a single hash aggregate.
    """
    o = table(spark, sf_dir, "orders")
    pivoted = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", ["1-URGENT", "2-HIGH", "5-LOW"])
        .agg(exact_sum("o_totalprice", 2))
        .withColumnsRenamed({"1-URGENT": "urgent", "2-HIGH": "high", "5-LOW": "low"})
    )
    counts = o.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))
    return pivoted.join(counts, "o_orderstatus").orderBy("o_orderstatus")


@query(
    "window_first_last",
    tags=("window",),
    oracle="""
SELECT o_custkey, o_orderkey,
       FIRST_VALUE(o_orderkey) OVER w AS first_order,
       LAST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order,
       CAST(NTH_VALUE(o_orderkey, 2) OVER w AS BIGINT) AS second_order
FROM orders
WHERE o_custkey <= 100
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY o_custkey, o_orderkey
""",
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth analytic functions (W2's latest-state-wins family):
    last_value needs the full-partition frame — the default running frame
    silently returns the current row, a classic correctness trap."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 100)
    running = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    full = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(running).alias("first_order"),
        F.last("o_orderkey").over(full).alias("last_order"),
        F.nth_value("o_orderkey", 2).over(running).alias("second_order"),
    ).orderBy("o_custkey", "o_orderkey")


@query(
    "agg_percentiles",
    tags=("agg", "percentile"),
    oracle="""
SELECT o_orderstatus,
       quantile_cont(o_totalprice, 0.5) AS p50,
       quantile_cont(o_totalprice, 0.9) AS p90,
       quantile_cont(o_totalprice, 0.99) AS p99,
       CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
       CAST(MAX(o_totalprice) AS DOUBLE) AS hi
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median/p90/p99) per group — Spark's
    `percentile` matches quantile_cont's linear interpolation bit-for-bit
    (verified by the hash gate, no rounding applied).

    Scale: exact percentile materializes each group's values — fine for
    bounded groups; for high-cardinality groups at 100 TB switch to
    `approx_percentile` (t-digest sketch, one pass, mergeable), the same
    trade documented in operators/approx.py for count-distinct.
    """
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
            F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
            F.expr("percentile(o_totalprice, 0.99)").alias("p99"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "agg_histogram",
    tags=("agg", "histogram"),
    oracle="""
SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bucket,
       CAST(FLOOR(o_totalprice / 50000) AS BIGINT) * 50000.0 AS bucket_lo,
       COUNT(*) AS n
FROM orders GROUP BY 1, 2 ORDER BY bucket
""",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram binning (50k buckets over order totals) — the
    distribution census of data profiling, as a plain hash aggregate on a
    computed bucket key: one shuffle of |buckets| rows regardless of fact
    size."""
    o = table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000)
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bucket",
            (F.col("bucket") * 50000.0).alias("bucket_lo"),
            "n",
        )
        .orderBy("bucket")
    )


@query(
    "q8_market_share",
    tags=("join", "agg"),
    oracle=f"""
SELECT o_year,
       {exact_sum_sql("CASE WHEN nation = 'NATION_5' THEN volume ELSE 0 END", 8)} /
       {exact_sum_sql('volume', 8)} AS mkt_share
FROM (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume,
         n2.n_name AS nation
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
  JOIN region r ON n1.n_regionkey = r.r_regionkey
  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
  WHERE r.r_name = 'EUROPE' AND p.p_type = 'PROMO'
    AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
)
GROUP BY o_year ORDER BY o_year
""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one supplier nation's share of a region's promo-part
    revenue by year — conditional-sum ratio over a 7-way star join.

    Scale: part/supplier/nation/region all broadcast; the two fact
    shuffles (partkey, orderkey) carry only pruned columns; the share is
    computed from two exact decimal sums in one aggregate pass.
    """
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1996-01-01").cast("timestamp"), F.lit("1997-12-31").cast("timestamp")
        )
    )
    c = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("nation")
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    share_num = F.when(F.col("nation") == "NATION_5", vol).otherwise(F.lit(0.0))
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(r), F.col("c_rkey") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nkey"))
        .withColumn("o_year", F.year("o_orderdate").cast("bigint"))
        .groupBy("o_year")
        .agg((exact_sum(share_num, 8) / exact_sum(vol, 8)).alias("mkt_share"))
        .orderBy("o_year")
    )


@query(
    "q13_customer_distribution",
    tags=("join", "agg"),
    oracle="""
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    AND o.o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c.c_custkey
)
GROUP BY c_count ORDER BY custdist DESC, c_count DESC
""",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: order-count histogram over customers (including the
    zero-order bucket via left join) — the double-aggregation shape.

    Scale: first agg shuffles on custkey (join reuses it); the second agg
    input is |customers| rows collapsing to a handful of histogram rows —
    the classic big→small two-stage reduction.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "q15_top_supplier",
    tags=("join", "agg", "subquery"),
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         {exact_sum_sql('l_extendedprice * (1 - l_discount)', 8)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey AS s_suppkey, s.s_name AS s_name, r.total_revenue AS total_revenue
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the quarter's maximum revenue — the
    view + scalar-max join-back shape. The max compares a value the same
    decimal-exact aggregation produced, so the equality join is safe.

    Scale: revenue aggregates once on suppkey; the 1-row max broadcasts;
    supplier is a broadcast dim.
    """
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = table(spark, sf_dir, "supplier")
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 8).alias("total_revenue")
    )
    top = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "q17_small_quantity_revenue",
    tags=("join", "agg", "subquery"),
    oracle=f"""
WITH part_avg AS (
  SELECT l_partkey, 0.5 * ({exact_sum_sql('l_quantity', 2)} / COUNT(l_quantity)) AS half_avg
  FROM lineitem GROUP BY l_partkey
)
SELECT {exact_sum_sql('l.l_extendedprice', 2)} / 7.0 AS avg_yearly, COUNT(*) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN part_avg a ON a.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23' AND l.l_quantity < a.half_avg
""",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: lines below half their part's average quantity — the
    correlated-average subquery, decorrelated into a per-part aggregate
    joined back (exact decimal mean keeps the < cut deterministic).

    Scale: the per-part average reuses the lineitem(partkey) shuffle the
    outer join needs; brand-filtered part broadcasts.
    """
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    part_avg = l.groupBy(F.col("l_partkey").alias("pa_key")).agg(
        (F.lit(0.5) * (exact_sum("l_quantity", 2) / F.count("l_quantity"))).alias("half_avg")
    )
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(part_avg, F.col("pa_key") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(
            (exact_sum("l_extendedprice", 2) / 7.0).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "merge_upsert_customers",
    tags=("merge", "join"),
    oracle="""
WITH target AS (
  SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey <= 500
), updates AS (
  SELECT c_custkey,
         'UPDATED#' || CAST(c_custkey AS VARCHAR) AS c_name,
         c_acctbal + 1000.0 AS c_acctbal,
         (c_custkey % 10 = 0) AS is_delete
  FROM customer WHERE c_custkey BETWEEN 401 AND 600
)
SELECT COALESCE(t.c_custkey, u.c_custkey) AS c_custkey,
       CASE WHEN u.c_custkey IS NOT NULL THEN u.c_name ELSE t.c_name END AS c_name,
       CASE WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal ELSE t.c_acctbal END AS c_acctbal
FROM target t FULL OUTER JOIN updates u ON t.c_custkey = u.c_custkey
WHERE NOT COALESCE(u.is_delete, FALSE)
ORDER BY c_custkey
""",
)
def merge_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE (upsert + delete) over a keyed target: updates overwrite
    matched rows, unmatched updates insert, flagged keys delete — the CDC
    batch-apply primitive (operators/merge.py), exercising all three MERGE
    branches in one statement-equivalent plan.

    Scale: one full-outer shuffle on the key; with a versioned/partitioned
    target the rewrite prunes to touched partitions (copy-on-write trade
    documented in the operator).
    """
    from ..operators.merge import merge_upsert

    c = table(spark, sf_dir, "customer")
    target = c.filter(F.col("c_custkey") <= 500).select(
        "c_custkey", "c_name", "c_acctbal"
    )
    updates = c.filter(F.col("c_custkey").between(401, 600)).select(
        "c_custkey",
        F.concat(F.lit("UPDATED#"), F.col("c_custkey").cast("string")).alias("c_name"),
        (F.col("c_acctbal") + 1000.0).alias("c_acctbal"),
        (F.col("c_custkey") % 10 == 0).alias("is_delete"),
    )
    return merge_upsert(
        target, updates, keys=["c_custkey"], delete_col="is_delete"
    ).orderBy("c_custkey")


@query(
    "scalar_collections",
    tags=("scalar", "array", "map"),
    oracle="""
WITH base AS (
  SELECT n_nationkey, n_name,
         string_split(n_name, '_') AS parts
  FROM nation
)
SELECT n_nationkey,
       CAST(len(parts) AS INTEGER) AS n_parts,
       list_contains(parts, 'NATION') AS has_prefix,
       array_to_string(list_sort(list_distinct(parts)), '|') AS distinct_sorted,
       parts[1] AS head,
       parts[len(parts)] AS tail,
       array_to_string(list_transform(parts, x -> lower(x)), '-') AS lowered
FROM base ORDER BY n_nationkey
""",
)
def scalar_collections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface (SURVEY §2.8 generalized contract): size,
    membership, distinct+sort, head/tail element access, per-element
    transform — all native higher-order functions, no explode needed when
    the result stays row-shaped."""
    n = table(spark, sf_dir, "nation")
    parts = F.split("n_name", "_")
    return n.select(
        "n_nationkey",
        F.size(parts).alias("n_parts"),
        F.array_contains(parts, "NATION").alias("has_prefix"),
        F.array_join(F.array_sort(F.array_distinct(parts)), "|").alias("distinct_sorted"),
        F.element_at(parts, 1).alias("head"),
        F.element_at(parts, F.size(parts)).alias("tail"),
        F.array_join(F.transform(parts, lambda x: F.lower(x)), "-").alias("lowered"),
    ).orderBy("n_nationkey")


@query(
    "window_distribution_ranks",
    tags=("window",),
    oracle="""
SELECT o_custkey, o_orderkey,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       CAST(ntile(10) OVER w AS BIGINT) AS decile
FROM orders WHERE o_custkey <= 60
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
ORDER BY o_custkey, o_orderkey
""",
)
def window_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank family (percent_rank / cume_dist / ntile) — the
    remaining members of the §2.5 ranking contract; all three share the
    one window sort."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 60)
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(10).over(w).cast("bigint").alias("decile"),
    ).orderBy("o_custkey", "o_orderkey")


@query(
    "q11_important_stock",
    tags=("join", "agg", "subquery"),
    oracle="""
WITH vals AS (
  SELECT l.l_partkey AS l_partkey,
         CAST(SUM(CAST(l.l_extendedprice * l.l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS part_value
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name = 'NATION_3'
  GROUP BY l.l_partkey
)
SELECT l_partkey, part_value
FROM vals
WHERE part_value > (
  SELECT CAST(SUM(CAST(part_value AS DECIMAL(30,4))) AS DOUBLE) * 0.001 FROM vals
)
ORDER BY part_value DESC, l_partkey
""",
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped "important stock": per-part shipped value from one
    nation's suppliers, kept only where the part's value exceeds a fraction
    of the nation-wide total (scalar aggregate subquery as HAVING bound).

    No partsupp fixture table exists, so lineitem is the part-supplier
    bridge (value = extendedprice * quantity). Scale: the per-part and
    grand-total aggregations share one shuffle of |parts-in-nation| rows;
    the 1-row total is broadcast back (cross join), so the threshold filter
    adds no extra exchange. Decimal-routed sums keep both values exact and
    partitioning-independent; the threshold compare happens in double with
    the identical op sequence on both engines.
    """
    l = table(spark, sf_dir, "lineitem")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    s = table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    vals = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .groupBy("l_partkey")
        .agg(exact_sum(F.col("l_extendedprice") * F.col("l_quantity"), 4).alias("part_value"))
    )
    total = vals.agg(exact_sum("part_value", 4).alias("tot"))
    return (
        vals.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.col("tot") * 0.001)
        .select("l_partkey", "part_value")
        .orderBy(F.desc("part_value"), "l_partkey")
    )


@query(
    "q12_late_line_priority",
    tags=("join", "agg", "conditional"),
    oracle="""
SELECT l.l_returnflag AS l_returnflag,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
""",
)
def q12_late_line_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped lateness split: among lines shipped >90 days after
    the order date (stand-in for the commit/receipt predicate — those
    columns don't exist in the fixture), count high- vs low-priority orders
    per return flag (stand-in for shipmode). Exercises conditional
    aggregation (pivot-style CASE counting) over a fact⋈fact join.

    Scale: the shipdate year-range is pushed to the lineitem scan; the join
    shuffles on orderkey only for the filtered year; the conditional
    aggregation is two CASE sums sharing one grouping — a single shuffle of
    3 groups.
    """
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, (l.l_orderkey == o.o_orderkey) & (l.l_shipdate > o.o_orderdate + F.expr("INTERVAL 90 DAYS")))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q16_supplier_part_counts",
    tags=("join", "agg", "subquery", "anti"),
    oracle="""
SELECT p.p_brand AS p_brand, p.p_type AS p_type, p.p_size AS p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_type NOT IN ('PROMO', 'ECONOMY')
  AND p.p_size IN (1, 4, 7, 10, 14, 19, 25, 36, 45, 49)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped supplier diversity: distinct suppliers per
    (brand, type, size) bucket, excluding a complained-about supplier set
    (NOT IN subquery → anti join). lineitem is the part-supplier bridge.

    Scale: the part predicate set prunes at the broadcast-joined dim; the
    NOT-IN supplier list is tiny → broadcast anti join (keys are non-null
    so NOT IN ≡ anti join); COUNT(DISTINCT) compiles to a two-phase
    expand+agg sharing the group-key shuffle.
    """
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").isin("PROMO", "ECONOMY"))
        & (F.col("p_size").isin(1, 4, 7, 10, 14, 19, 25, 36, 45, 49))
    )
    bad = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        l.join(F.broadcast(bad), l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@query(
    "q20_promo_part_suppliers",
    tags=("join", "agg", "subquery", "semi"),
    oracle="""
WITH promo_parts AS (
  SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
),
shipped AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS promo_qty
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM promo_parts)
    AND l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_suppkey
)
SELECT s.s_name AS s_name, n.n_name AS n_name, sh.promo_qty AS promo_qty
FROM shipped sh
JOIN supplier s ON s.s_suppkey = sh.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE sh.promo_qty > (
  SELECT CAST(SUM(CAST(promo_qty AS DECIMAL(30,2))) AS DOUBLE) * 0.5 / COUNT(*)
  FROM shipped
)
ORDER BY s_name
""",
)
def q20_promo_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped heavy shippers of promo parts: suppliers whose 1997
    shipped quantity of 'small%'-named parts exceeds half the mean across
    shippers (IN-subquery semi join + scalar aggregate threshold).

    Scale: the part-name filter makes a small key set → broadcast left-semi
    join onto the year-pruned lineitem scan; per-supplier aggregation is one
    shuffle of |suppliers| rows; the 1-row mean broadcasts back. Decimal
    routing keeps the quantity sums exact; the `total*0.5/count` threshold
    is evaluated with the identical double op sequence on both engines.
    """
    promo = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    shipped = (
        l.join(F.broadcast(promo), l.l_partkey == promo.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(exact_sum("l_quantity", 2).alias("promo_qty"))
    )
    thresh = shipped.agg(
        (exact_sum("promo_qty", 2) * 0.5 / F.count(F.lit(1))).alias("qty_bound")
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    return (
        shipped.crossJoin(F.broadcast(thresh))
        .filter(F.col("promo_qty") > F.col("qty_bound"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "n_name", "promo_qty")
        .orderBy("s_name")
    )


@query(
    "cdc_snapshot_diff",
    tags=("merge", "join", "cdc"),
    oracle="""
WITH v1 AS (
  SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey <= 600
), v2 AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 5 = 0 THEN 'RENAMED#' || CAST(c_custkey AS VARCHAR)
              ELSE c_name END AS c_name,
         CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 250.0 ELSE c_acctbal END
           AS c_acctbal
  FROM customer
  WHERE c_custkey <= 700 AND NOT (c_custkey <= 600 AND c_custkey % 7 = 3)
)
SELECT COALESCE(a.c_custkey, b.c_custkey) AS c_custkey,
       CASE WHEN a.c_custkey IS NULL THEN 'insert'
            WHEN b.c_custkey IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       a.c_acctbal AS old_acctbal, b.c_acctbal AS new_acctbal,
       a.c_name AS old_name, b.c_name AS new_name
FROM v1 a FULL OUTER JOIN v2 b ON a.c_custkey = b.c_custkey
WHERE a.c_custkey IS NULL OR b.c_custkey IS NULL
   OR a.c_acctbal <> b.c_acctbal OR a.c_name <> b.c_name
ORDER BY c_custkey
""",
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture by snapshot diff: given two keyed table
    versions, emit the insert/update/delete feed between them with old and
    new values — the inverse of merge_upsert_customers (which APPLIES such
    a feed), and the recovery path when a source offers no native changelog
    (the reference's inventory rescans, SURVEY §2.1 S12, generalized).

    Scale: one full-outer shuffle on the key; unchanged rows — the vast
    majority between adjacent snapshots — are dropped by a map-side
    predicate right after the join, so only the change feed flows on. With
    both snapshots bucketed on the key (operators/bucketing.py) the join
    is zero-exchange.
    """
    c = table(spark, sf_dir, "customer")
    v1 = c.filter(F.col("c_custkey") <= 600).select("c_custkey", "c_name", "c_acctbal")
    v2 = (
        c.filter(
            (F.col("c_custkey") <= 700)
            & ~((F.col("c_custkey") <= 600) & (F.col("c_custkey") % 7 == 3))
        )
        .select(
            "c_custkey",
            F.when(
                F.col("c_custkey") % 5 == 0,
                F.concat(F.lit("RENAMED#"), F.col("c_custkey").cast("string")),
            )
            .otherwise(F.col("c_name"))
            .alias("c_name"),
            F.when(F.col("c_custkey") % 5 == 0, F.col("c_acctbal") + 250.0)
            .otherwise(F.col("c_acctbal"))
            .alias("c_acctbal"),
        )
    )
    a = v1.select(
        F.col("c_custkey").alias("k1"),
        F.col("c_name").alias("old_name"),
        F.col("c_acctbal").alias("old_acctbal"),
    )
    b = v2.select(
        F.col("c_custkey").alias("k2"),
        F.col("c_name").alias("new_name"),
        F.col("c_acctbal").alias("new_acctbal"),
    )
    changed = (
        F.col("k1").isNull()
        | F.col("k2").isNull()
        | (F.col("old_acctbal") != F.col("new_acctbal"))
        | (F.col("old_name") != F.col("new_name"))
    )
    change_type = (
        F.when(F.col("k1").isNull(), "insert")
        .when(F.col("k2").isNull(), "delete")
        .otherwise("update")
    )
    return (
        a.join(b, F.col("k1") == F.col("k2"), "full_outer")
        .filter(changed)
        .select(
            F.coalesce("k1", "k2").alias("c_custkey"),
            change_type.alias("change_type"),
            "old_acctbal",
            "new_acctbal",
            "old_name",
            "new_name",
        )
        .orderBy("c_custkey")
    )


# Salted-join parameters: 90% of fact rows share one hot key; the salt
# fans that key across SALT_N sub-partitions.
JOIN_SALT_N = 8


@query(
    "join_salted_skew",
    tags=("join", "skew", "scale"),
    oracle="""
WITH fact AS (
  SELECT CASE WHEN l_orderkey % 10 < 9 THEN 0 ELSE l_orderkey % 100 END AS skew_key,
         l_extendedprice
  FROM lineitem
), dim AS (
  SELECT d AS key, d * 7 % 13 AS dim_group
  FROM (SELECT unnest(generate_series(0, 99)) AS d)
)
SELECT d.dim_group AS dim_group,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(f.l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
FROM fact f JOIN dim d ON f.skew_key = d.key
GROUP BY d.dim_group ORDER BY dim_group
""",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted shuffle join under a 90%-hot key: the fact side carries a
    deterministic salt (l_linenumber % 8), the dim side explodes ×8, and
    the join key becomes (key, salt) — the hot key's rows spread over 8
    reducers instead of one. Results are salt-invariant (the oracle states
    the plain join), which is the point: salting is a physical rewrite,
    not a semantic one.

    The merge-join hint stands in for a dim side beyond broadcast reach —
    against a broadcastable dim, skew is moot (no shuffle of the fact on
    the key) and AQE's skew-split handles the SMJ case adaptively
    (witnessed in tests/test_plans.py::test_aqe_skew_join_split); the
    EXPLICIT salt is the engine-portable form that also covers skewed
    AGGREGATION upstream of the join and engines/paths without runtime
    re-planning. Companion to agg_salted_skew (same technique, aggregate
    side).
    """
    li = table(spark, sf_dir, "lineitem")
    fact = li.select(
        F.when(F.col("l_orderkey") % 10 < 9, F.lit(0))
        .otherwise(F.col("l_orderkey") % 100)
        .alias("skew_key"),
        (F.col("l_linenumber") % JOIN_SALT_N).alias("salt"),
        "l_extendedprice",
    )
    dim = (
        spark.range(0, 100)
        .select(
            F.col("id").alias("key"),
            (F.col("id") * 7 % 13).alias("dim_group"),
        )
        .select("*", F.explode(F.sequence(F.lit(0), F.lit(JOIN_SALT_N - 1))).alias("salt"))
    )
    joined = fact.hint("merge").join(
        dim.hint("merge"),
        (F.col("skew_key") == F.col("key")) & (fact["salt"] == dim["salt"]),
    )
    return (
        joined.groupBy("dim_group")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            exact_sum("l_extendedprice", 2).alias("revenue"),
        )
        .orderBy("dim_group")
    )


@query(
    "scd2_apply_changes",
    tags=("merge", "scd", "cdc"),
    oracle="""
WITH dim AS (
  SELECT c_custkey, c_name, c_acctbal,
         CAST('2024-01-01' AS TIMESTAMP) AS valid_from
  FROM customer WHERE c_custkey <= 400
), changes AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 3 = 0 THEN 'V2#' || CAST(c_custkey AS VARCHAR)
              ELSE c_name END AS c_name,
         CASE WHEN c_custkey % 3 <> 0 THEN c_acctbal + 500.0
              ELSE c_acctbal END AS c_acctbal
  FROM customer WHERE c_custkey BETWEEN 201 AND 500
)
SELECT d.c_custkey, d.c_name, d.c_acctbal, d.valid_from,
       CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
FROM dim d LEFT JOIN changes c ON d.c_custkey = c.c_custkey
WHERE c.c_custkey IS NULL
UNION ALL
SELECT d.c_custkey, d.c_name, d.c_acctbal, d.valid_from,
       CAST('2024-06-01' AS TIMESTAMP) AS valid_to, FALSE AS is_current
FROM dim d JOIN changes c ON d.c_custkey = c.c_custkey
UNION ALL
SELECT c.c_custkey, c.c_name, c.c_acctbal,
       CAST('2024-06-01' AS TIMESTAMP) AS valid_from,
       CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
FROM changes c
ORDER BY c_custkey, valid_from
""",
)
def scd2_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 change application — the warehouse write path that
    scd2_validity_intervals reads back: a change batch closes each
    matched key's current row (valid_to = batch timestamp) and opens a
    new current version; unmatched dim rows pass through; unmatched
    changes insert as first versions.

    Scale: one key-shuffled join serves the close branch; the pass-
    through is the anti side of the same join; new versions are a scan of
    the change batch — three branches, one co-partitioned exchange, then
    a union. With a versioned/partitioned dim the rewrite prunes to
    touched partitions (operators/merge.py documents the copy-on-write
    trade).
    """
    c = table(spark, sf_dir, "customer")
    t0 = F.lit("2024-01-01").cast("timestamp")
    t1 = F.lit("2024-06-01").cast("timestamp")
    dim = c.filter(F.col("c_custkey") <= 400).select(
        "c_custkey", "c_name", "c_acctbal", t0.alias("valid_from")
    )
    changes = c.filter(F.col("c_custkey").between(201, 500)).select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.concat(F.lit("V2#"), F.col("c_custkey").cast("string")),
        )
        .otherwise(F.col("c_name"))
        .alias("c_name"),
        F.when(F.col("c_custkey") % 3 != 0, F.col("c_acctbal") + 500.0)
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
    )
    keys = changes.select("c_custkey")
    untouched = dim.join(keys, "c_custkey", "left_anti").select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        "valid_from",
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    closed = dim.join(keys, "c_custkey", "left_semi").select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        "valid_from",
        t1.alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    opened = changes.select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        t1.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return (
        untouched.unionByName(closed)
        .unionByName(opened)
        .orderBy("c_custkey", "valid_from")
    )
