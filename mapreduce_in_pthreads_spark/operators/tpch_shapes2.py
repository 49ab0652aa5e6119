"""Remaining TPC-H plan shapes (Q2/Q4/Q5/Q8/Q9/Q11/Q12/Q13/Q15/Q17/
Q20/Q21/Q22), adapted to the driver's star schema — the synthetic data
has no partsupp/shipmode/commitdate columns, so each query keeps the
*plan shape* that makes it interesting (semi/anti joins, correlated
scalars, global-threshold HAVING, min-per-group back-joins) while
substituting available columns. The reference engine has no relational
operators at all (SURVEY.md §4.2); these pin the composite shapes a
real engine must optimize.

Scale notes (100 TB): every dim side is broadcast; global scalars
(avg/max/total) are computed as a 1-row aggregate and re-joined via
``crossJoin(broadcast(...))`` — never ``collect()``; per-key thresholds
(Q17) use a keyed window, i.e. one shuffle on the key, not a
correlated re-scan per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import (davg, disc_rev_u, dsum, money_scaled,
                                 msum, split_sum, sql_dsum)
from ..sources.tables import load_table

_DISC_SQL = ("CAST(l_extendedprice AS DECIMAL(12,2)) * "
             "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))")


def _revenue_u():
    # r10 optimization: the exact (16,4) decimal revenue product paid a
    # per-row BigDecimal op; disc_rev_u() is the same rational as an
    # unscaled long (1e-4 dollars) — summed via msum/split_sum,
    # bit-identical output, oracle twins unchanged.
    return disc_rev_u()


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: EXISTS → left-semi join. Orders in a quarter that had
    at least one line item shipped after the order date (the schema has
    no commit/receipt dates; 'shipped late' keeps the correlated-EXISTS
    shape). The semi join carries a non-equi conjunct, so the planner
    must evaluate it as a join condition, not a post-filter."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-04-01")))
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(li, (o.o_orderkey == li.l_orderkey)
               & (li.l_shipdate > o.o_orderdate), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o.o_orderkey
                AND l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
"""


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: the 6-way 'local supplier' join — revenue where the
    customer and the supplier sit in the SAME nation of one region.
    The same-nation constraint is the join between the two dim paths;
    all dims broadcast, so lineitem shuffles only for the orders join."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01")))
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey)
              & (c.c_nationkey == s.s_nationkey))
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(msum(_revenue_u(), "revenue"))
    )


Q5_SQL = f"""
SELECT n_name, CAST(SUM({_DISC_SQL}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: national market share — one nation's fraction of the
    regional revenue per order year. Two conditional decimal sums whose
    ratio is the answer; the conditional numerator re-uses the supplier
    nation produced by the join (no second pass over the fact)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey"))
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "AMERICA")
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"),
        F.col("n_name").alias("supp_nation"))
    rev_u = _revenue_u()
    zero = F.lit(0)
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n1, c.c_nationkey == F.col("c_nk"))
        .join(r, F.col("n_regionkey") == r.r_regionkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n2, s.s_nationkey == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            (split_sum(F.when(F.col("supp_nation") == "NATION_3", rev_u)
                       .otherwise(zero), 10 ** 4).cast("double")
             / split_sum(rev_u, 10 ** 4).cast("double")).alias("mkt_share"),
            msum(rev_u, "total_revenue"),
        )
    )


Q8_SQL = f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CASE WHEN n2.n_name = 'NATION_3' THEN {_DISC_SQL}
                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
       / CAST(SUM({_DISC_SQL}) AS DOUBLE) AS mkt_share,
       CAST(SUM({_DISC_SQL}) AS DOUBLE) AS total_revenue
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
GROUP BY 1
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: profit per supplier nation per year over a name-LIKE
    part subset. The schema has no ps_supplycost; p_retailprice stands
    in (cost = retailprice × quantity), keeping the
    revenue-minus-cost expression exact in decimal on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("widget"))
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    # retail(12,2) × qty(12,2) has unscaled-4 value retail_cents ·
    # (qty·100); amount stays scale-4 — same rational as the decimal
    # form, on longs.
    amount_u = (_revenue_u()
                - money_scaled("p_retailprice")
                * money_scaled("l_quantity"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(msum(amount_u, "sum_profit"))
    )


Q9_SQL = f"""
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS BIGINT) AS o_year,
       {sql_dsum(f"{_DISC_SQL} - CAST(p_retailprice AS DECIMAL(12,2))"
                 f" * CAST(l_quantity AS DECIMAL(12,2))", "sum_profit")}
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
"""


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: per-key value with a HAVING threshold that is a
    scalar over the WHOLE filtered input (value > fraction × total).
    The global total is a 1-row aggregate cross-joined back broadcast —
    the scalable pattern for 'compare each group to the grand total'
    (no collect, no second scan of the fact: Spark reuses the shuffle
    exchange for both aggregates)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    filtered = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey))
    per_part = filtered.groupBy("l_partkey").agg(
        msum(_revenue_u(), "part_value"))
    total = filtered.agg(
        msum(_revenue_u(), "total_value"))
    return (
        per_part.crossJoin(total)
        .filter(F.col("part_value") > F.col("total_value") * 0.001)
        .select("l_partkey", "part_value")
    )


Q11_SQL = f"""
WITH filtered AS (
    SELECT l_partkey, {_DISC_SQL} AS rev
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE')
SELECT l_partkey, CAST(SUM(rev) AS DOUBLE) AS part_value
FROM filtered
GROUP BY l_partkey
HAVING CAST(SUM(rev) AS DOUBLE) >
       (SELECT CAST(SUM(rev) AS DOUBLE) FROM filtered) * 0.001
"""


def q12_late_lines_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: conditional counts bucketed by a fact attribute (the
    schema has no shipmode; l_linestatus is the bucket, 'shipped after
    order date in 1997' the filter). Counts are exact integers — no
    decimal plumbing needed — and partial-aggregable map-side."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01")))
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, (li.l_orderkey == o.o_orderkey)
                & (li.l_shipdate > o.o_orderdate))
        .groupBy("l_linestatus")
        .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
             F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"))
    )


Q12_SQL = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders
  ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY l_linestatus
"""


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: histogram of orders-per-customer INCLUDING the zero
    bucket — a left outer join with a filter folded into the join
    condition (not WHERE, which would turn it inner), then two stacked
    aggregations."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, (c.c_custkey == o.o_custkey)
               & (o.o_orderpriority != "5-LOW"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist")))


Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
    SELECT c_custkey, count(o_orderkey) AS c_count
    FROM customer LEFT OUTER JOIN orders
      ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
    GROUP BY c_custkey)
GROUP BY c_count
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: the supplier(s) whose quarterly revenue equals the
    global maximum. The max is a 1-row broadcast cross join against the
    SAME aggregated child (Spark plans one shuffle, reused), and the
    double-equality is safe because both sides derive from the
    identical decimal sum."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01")))
    s = load_table(spark, sf_dir, "supplier")
    revenue = (li.groupBy("l_suppkey")
               .agg(msum(_revenue_u(), "total_revenue")))
    top = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.crossJoin(top)
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


Q15_SQL = f"""
WITH revenue AS (
    SELECT l_suppkey, CAST(SUM({_DISC_SQL}) AS DOUBLE) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1997-04-01'
    GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: rows below HALF their part's average quantity — the
    classic correlated scalar made scalable as a window over the
    correlation key (one shuffle on l_partkey; a correlated re-scan
    per row would be quadratic). Quantities are small integers, so the
    double average is exact and engine-identical."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey")
    joined = li.join(p, li.l_partkey == p.p_partkey)
    return (
        joined.withColumn("avg_qty", F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(dsum("l_extendedprice", "total_revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


Q17_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE)
           AS total_revenue,
       count(*) AS n_items
FROM lineitem l JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#3'
  AND l_quantity < (
      SELECT 0.5 * avg(l_quantity) FROM lineitem l2
      WHERE l2.l_partkey = l.l_partkey)
"""


def q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: nested semi-join chain — suppliers (in one nation)
    who moved more than a threshold quantity of name-matched parts in a
    year. parts→(supp,part) aggregate→HAVING→semi-join suppliers: each
    stage shrinks the key set before touching the next table."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_5")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").startswith("small"))
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01")))
    heavy = (
        li.join(p, li.l_partkey == p.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50))
    return (
        s.join(n, s.s_nationkey == n.n_nationkey, "left_semi")
        .join(heavy, F.col("s_suppkey") == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


Q20_SQL = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_nationkey IN (SELECT n_nationkey FROM nation
                      WHERE n_name = 'NATION_5')
  AND s_suppkey IN (
      SELECT l_suppkey FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part
                          WHERE p_name LIKE 'small%')
        AND l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY l_suppkey, l_partkey
      HAVING SUM(l_quantity) > 50)
"""


def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: the sole-blame pattern (EXISTS other supplier, NOT
    EXISTS other failing supplier) — expressed as one per-order
    aggregate (distinct suppliers vs distinct 'R'-returning suppliers)
    instead of two correlated anti/semi scans of the fact; the
    conditional countDistinct answers both quantifiers in one shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    failed = F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
    blame = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_semi")
        .groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("n_supp"),
             F.countDistinct(failed).alias("n_failed"),
             F.max(failed).alias("blamed_suppkey"))
        .filter((F.col("n_supp") > 1) & (F.col("n_failed") == 1)))
    return (
        blame.groupBy("blamed_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(s, F.col("blamed_suppkey") == s.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )


Q21_SQL = """
WITH blame AS (
    SELECT l_orderkey,
           count(DISTINCT l_suppkey) AS n_supp,
           count(DISTINCT CASE WHEN l_returnflag = 'R'
                               THEN l_suppkey END) AS n_failed,
           max(CASE WHEN l_returnflag = 'R'
                    THEN l_suppkey END) AS blamed_suppkey
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                         WHERE o_orderstatus = 'F')
    GROUP BY l_orderkey
    HAVING count(DISTINCT l_suppkey) > 1
       AND count(DISTINCT CASE WHEN l_returnflag = 'R'
                               THEN l_suppkey END) = 1)
SELECT s_name, count(*) AS numwait
FROM blame JOIN supplier ON blamed_suppkey = s_suppkey
GROUP BY s_name
ORDER BY numwait DESC, s_name LIMIT 20
"""


def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: anti join + global scalar threshold — customers with
    no orders but above-average positive balance, bucketed by a derived
    country code (nationkey % 5 stands in for the phone prefix). The
    average is decimal-stable and broadcast; the anti join is the
    NOT EXISTS."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    avg_bal = (c.filter(F.col("c_acctbal") > 0)
               .agg(davg("c_acctbal", "avg_bal")))
    return (
        c.crossJoin(avg_bal)
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy((F.col("c_nationkey") % 5).cast("bigint")
                 .alias("cntrycode"))
        .agg(F.count(F.lit(1)).alias("numcust"),
             dsum("c_acctbal", "totacctbal"))
    )


Q22_SQL = """
SELECT CAST(c_nationkey % 5 AS BIGINT) AS cntrycode,
       count(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(25,4))) AS DOUBLE) AS totacctbal
FROM customer c
WHERE c_acctbal > (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(25,4))) AS DOUBLE)
               / COUNT(c_acctbal)
        FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey)
GROUP BY 1
"""


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: min-per-group with a back-join (the correlated-min
    subquery). No partsupp table, so 'cost of part from supplier' is
    the min line price observed per (part, EUROPE-supplier) pair; the
    per-part minimum selects the winning supplier rows, ties kept like
    TPC-H. Window-min over the part key = one shuffle, no re-scan.

    Every dimension joins straight onto the fact side, so each build
    side is a base table (or a filter of one) whose size the planner
    knows; a pre-joined supplier⋈nation⋈region side would carry the
    product of its inputs' size estimates and never broadcast."""
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") < 10))
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    offers = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("p_partkey", "p_name", "s_suppkey", "s_name", "n_name")
        .agg(F.min("l_extendedprice").alias("supply_cost")))
    w = Window.partitionBy("p_partkey")
    return (
        offers.withColumn("best", F.min("supply_cost").over(w))
        .filter(F.col("supply_cost") == F.col("best"))
        .select("p_partkey", "p_name", "s_suppkey", "s_name",
                F.col("n_name").alias("supp_nation"), "supply_cost")
    )


Q2_SQL = """
WITH offers AS (
    SELECT p_partkey, p_name, s_suppkey, s_name,
           n_name AS supp_nation,
           min(l_extendedprice) AS supply_cost
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE p_type = 'LARGE' AND p_size < 10 AND r_name = 'EUROPE'
    GROUP BY 1, 2, 3, 4, 5)
SELECT p_partkey, p_name, s_suppkey, s_name, supp_nation, supply_cost
FROM offers o
WHERE supply_cost = (SELECT min(supply_cost) FROM offers o2
                     WHERE o2.p_partkey = o.p_partkey)
"""
