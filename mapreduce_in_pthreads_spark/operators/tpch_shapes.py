"""TPC-H-shaped composite queries over the synthetic star schema —
the canonical join+agg+topk plan shapes a relational engine must get
right at scale (SURVEY.md §2.3 'Joins'/'Aggregation'; the reference has
none of these, §4.2).

Also the home of the engine's SQL-API entry point: ``sql_query`` runs
text SQL against registered temp views (GROUPING SETS is DataFrame-
inexpressible, so it exercises the spark.sql surface for real).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import (disc_rev_u, dsum, msum,
                                 split_sum, sql_dsum)
from ..sources.tables import load_table

_DISC_SQL = ("CAST(l_extendedprice AS DECIMAL(12,2)) * "
             "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))")


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape: 3-way join, revenue per order, top-10. The orders side
    filters BEFORE the join (pushdown), the revenue aggregates with
    exact decimal arithmetic, the limit plans TakeOrderedAndProject."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01"))
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01"))
    # r10 optimization: the exact (16,4) decimal revenue product paid
    # a per-row BigDecimal op; cents*(100-bp)/1e4 is the same rational
    # on longs (numeric.disc_rev_u/msum) — bit-identical output.
    revenue_u = disc_rev_u()
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(msum(revenue_u, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select("l_orderkey",
                F.date_format("o_orderdate", "yyyy-MM-dd")
                .alias("orderdate"),
                "o_orderpriority", "revenue")
    )


Q3_SQL = f"""
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority,
       CAST(SUM({_DISC_SQL}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: conditional revenue share — a broadcast join feeding
    two conditional decimal sums whose RATIO is the answer (identical
    double division of identical decimals)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01")))
    p = load_table(spark, sf_dir, "part")
    revenue_u = disc_rev_u()  # r10: long fixed-point, bit-identical
    joined = li.join(p, li.l_partkey == p.p_partkey)
    return joined.agg(
        (split_sum(F.when(F.col("p_type") == "PROMO", revenue_u)
                   .otherwise(F.lit(0)), 10 ** 4).cast("double")
         * 100.0
         / split_sum(revenue_u, 10 ** 4).cast("double"))
        .alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_items"),
    )


Q14_SQL = f"""
SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_DISC_SQL}
                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
       * 100.0
       / CAST(SUM({_DISC_SQL}) AS DOUBLE) AS promo_revenue_pct,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1997-04-01'
"""


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: HAVING over a fact aggregation used as a semi-join
    filter back onto the dimension side."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (li.groupBy("l_orderkey")
           .agg(dsum("l_quantity", "total_qty"))
           .filter(F.col("total_qty") > 300))
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "l_orderkey",
                F.col("o_totalprice"), "total_qty")
    )


Q18_SQL = """
SELECT c_custkey, c_name, l_orderkey, o_totalprice, total_qty
FROM (
    SELECT l_orderkey,
           CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE)
               AS total_qty
    FROM lineitem GROUP BY l_orderkey
    HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) > 300
) big
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the engine's SQL surface (the
    DataFrame API only exposes rollup/cube; arbitrary set lists are a
    SQL-level feature — this also exercises spark.sql + temp views as
    a first-class entry point)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


SQL_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery through the SQL surface: customers
    richer than their nation's average balance."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    return spark.sql("""
        SELECT c_custkey, c_nationkey, c_acctbal
        FROM customer_v c
        WHERE c_acctbal > (
            SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(25,4))) AS DOUBLE)
                   / COUNT(c2.c_acctbal)
            FROM customer_v c2
            WHERE c2.c_nationkey = c.c_nationkey)
    """)


CORRELATED_SUBQUERY_SQL = """
SELECT c_custkey, c_nationkey, c_acctbal
FROM customer c
WHERE c_acctbal > (
    SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(25,4))) AS DOUBLE)
           / COUNT(c2.c_acctbal)
    FROM customer c2
    WHERE c2.c_nationkey = c.c_nationkey)
"""


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: bilateral trade volume between two nations by ship
    year — the 5-way join (fact + 2 dim paths) with a symmetric pair
    predicate. Both nation dims broadcast; the supplier/customer dims
    broadcast too (they are orders-of-magnitude smaller than lineitem
    at every scale factor), so the fact table never shuffles for the
    dims — only the orders join exchanges on orderkey."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    revenue_u = disc_rev_u()  # r10: long fixed-point, bit-identical
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n1, F.col("s_nationkey") == F.col("s_nk"))
        .join(n2, F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").cast("bigint").alias("l_year"))
        .agg(msum(revenue_u, "revenue"))
    )


Q7_SQL = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(SUM({_DISC_SQL}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: top-20 customers by lost revenue on returned items
    (l_returnflag = 'R') — selective fact filter, join to orders +
    customer + nation, global top-k (TakeOrderedAndProject)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    revenue_u = disc_rev_u()  # r10: long fixed-point, bit-identical
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal",
                 F.col("n_name").alias("nation"))
        .agg(msum(revenue_u, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


Q10_SQL = f"""
SELECT c_custkey, c_name, c_acctbal, n_name AS nation,
       CAST(SUM({_DISC_SQL}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c_custkey LIMIT 20
"""


def q16_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape (adapted: no partsupp table, lineitem is the
    part↔supplier bridge): distinct-supplier variety per part
    attribute bucket, with negated predicates (<> and NOT LIKE) that
    must still push into the dim scan."""
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").startswith("PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", F.col("p_size").cast("bigint").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q16_SQL = """
SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
GROUP BY 1, 2, 3
"""


def q19_disjunctive_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: OR-of-ANDs join predicate (brand × size × quantity
    branches). The planner must (a) push the disjunction's common
    part-side conjuncts into the broadcast dim scan and (b) evaluate
    the residual OR as a join filter — the classic test that
    disjunctive pushdown doesn't fall back to a cross product."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    revenue_u = disc_rev_u()  # r10: long fixed-point, bit-identical
    branch = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 10))
         & (F.col("l_quantity").between(1, 15)))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size").between(1, 20))
           & (F.col("l_quantity").between(10, 25)))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size").between(1, 30))
           & (F.col("l_quantity").between(20, 35))))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(branch)
        .agg(msum(revenue_u, "revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


Q19_SQL = f"""
SELECT CAST(SUM({_DISC_SQL}) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
       AND l_quantity BETWEEN 10 AND 25)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
       AND l_quantity BETWEEN 20 AND 35)
"""
