"""Window-function surface: ranking, analytic (lag/lead), running and
framed aggregates (SURVEY.md §2.3 'Window fns').

Determinism rule applied throughout: every ORDER BY inside a window
carries a unique tie-breaker key — window results over ties are
engine-dependent otherwise, the same nondeterminism the reference
exhibits in its output ordering (SURVEY.md §2.2).

Scale: a window shuffles once on partitionBy and sorts within
partitions; skewed partition keys (one giant customer) are the hazard
— partition keys here are high-cardinality (custkey, user_id).
Running double sums are routed through decimal so partition order
can't perturb low bits (functions/numeric.py rationale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import scaled_long, split_sum_over
from ..sources.tables import load_table


def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number/rank/dense_rank: top-3 orders per customer by price."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.select(
            "o_custkey", "o_orderkey", "o_totalprice",
            F.row_number().over(w).cast("bigint").alias("rn"),
            F.rank().over(w).cast("bigint").alias("rk"),
            F.dense_rank().over(w).cast("bigint").alias("drk"),
        )
        .filter(F.col("rn") <= 3)
    )


TOP_ORDERS_PER_CUSTOMER_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rn, rk, drk FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER w AS rn,
           rank()       OVER w AS rk,
           dense_rank() OVER w AS drk
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey)
) WHERE rn <= 3
"""


def running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) sum per customer in order-date order —
    decimal-summed so the result is identical regardless of physical
    partition order."""
    o = load_table(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # r10: exact frame sums on longs (numeric.py rationale); the two
    # split sums share the window spec -> still ONE Window operator.
    return o.select(
        "o_custkey", "o_orderkey",
        split_sum_over(scaled_long("o_totalprice"), w, 10 ** 4)
        .cast("double").alias("running_spend"),
        F.count(F.lit(1)).over(w).alias("order_seq"),
    )


RUNNING_CUSTOMER_SPEND_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) OVER w AS DOUBLE)
           AS running_spend,
       count(*) OVER w AS order_seq
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def event_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead + inter-event gap per user. Gap computed in integer
    microseconds (unix_micros ↔ epoch_us) — exact in both engines,
    no float time arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id", "event_id", "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)))
        .alias("gap_us"),
    )


EVENT_LAG_LEAD_SQL = """
SELECT user_id, event_id, event_type,
       lag(event_type)  OVER w AS prev_type,
       lead(event_type) OVER w AS next_type,
       epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def moving_avg_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit ROWS frame: 3-row moving average of order price per
    customer (current + 2 preceding)."""
    o = load_table(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(-2, 0))
    return o.select(
        "o_custkey", "o_orderkey",
        (split_sum_over(scaled_long("o_totalprice"), w, 10 ** 4)
         .cast("double")
         / F.count(F.lit(1)).over(w)).alias("moving_avg_price"),
        F.min("o_totalprice").over(w).alias("frame_min"),
        F.max("o_totalprice").over(w).alias("frame_max"),
    )


MOVING_AVG_SPEND_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) OVER w AS DOUBLE)
           / count(*) OVER w AS moving_avg_price,
       min(o_totalprice) OVER w AS frame_min,
       max(o_totalprice) OVER w AS frame_max
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


def nation_share_of_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window over aggregate: each nation's customer count as a share
    of its region total (partition-wide frame, no ORDER BY)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    per_nation = (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_regionkey", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    w = Window.partitionBy("n_regionkey")
    return per_nation.select(
        "n_regionkey", "n_name", "n_customers",
        (F.col("n_customers") / F.sum("n_customers").over(w))
        .alias("region_share"),
    )


NATION_SHARE_OF_REGION_SQL = """
WITH per_nation AS (
    SELECT n_regionkey, n_name, count(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_regionkey, n_name
)
SELECT n_regionkey, n_name, n_customers,
       n_customers / CAST(SUM(n_customers) OVER (PARTITION BY n_regionkey)
                          AS DOUBLE) AS region_share
FROM per_nation
"""


def window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation-function surface: first/last/nth value + ntile over
    each customer's order history (deterministic ordering; last_value
    with an explicit full-partition frame, the classic footgun)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey", "o_orderkey",
        F.first_value("o_orderkey").over(wfull).alias("first_order"),
        F.last_value("o_orderkey").over(wfull).alias("last_order"),
        F.nth_value("o_orderkey", 2).over(wfull).alias("second_order"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
    )


WINDOW_NAVIGATION_SQL = """
SELECT o_custkey, o_orderkey,
       first_value(o_orderkey) OVER wf AS first_order,
       last_value(o_orderkey)  OVER wf AS last_order,
       nth_value(o_orderkey, 2) OVER wf AS second_order,
       ntile(4) OVER w AS quartile
FROM orders
WINDOW w  AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def range_frame_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over an integer ordering key: for each event, the
    stable sum of same-user event values within the trailing hour —
    a time-range window WITHOUT a self-join (compare
    joins.purchases_with_prior_clicks, the join formulation)."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = (Window.partitionBy("user_id").orderBy(us.alias("ts_us"))
         .rangeBetween(-3_600_000_000, 0))
    return ev.select(
        "user_id", "event_id",
        split_sum_over(scaled_long("value"), w, 10 ** 4)
        .cast("double").alias("trailing_hour_value"),
        F.count(F.lit(1)).over(w).alias("trailing_hour_events"),
    )


RANGE_FRAME_SQL = """
SELECT user_id, event_id,
       CAST(SUM(CAST(value AS DECIMAL(25,4))) OVER w AS DOUBLE)
           AS trailing_hour_value,
       count(*) OVER w AS trailing_hour_events
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


def rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist: where each order sits in its
    customer's price distribution — the remaining ranking-family
    functions (row_number/rank/dense_rank/ntile live in
    top_orders_per_customer / window_navigation). Tie-broken by
    orderkey so both engines rank identically; exact-int fractions →
    identical doubles."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice"), F.col("o_orderkey"))
    return o.select(
        "o_custkey", "o_orderkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


RANK_DISTRIBUTION_SQL = """
SELECT o_custkey, o_orderkey,
       percent_rank() OVER w AS pct_rank,
       cume_dist()    OVER w AS cume
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
"""
