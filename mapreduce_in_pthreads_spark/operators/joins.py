"""Join surface: broadcast/shuffle equi, semi, anti, outer, range/theta
(SURVEY.md §2.3 'Joins'). The reference has no join operator at all —
this is pure north-star extension.

Scale strategy, made explicit per query:
- dimension joins (region/nation/customer-side lookups) join straight
  onto the fact side, so each build side is a base table the planner
  can size: fixed-size dims always broadcast, SF-scaled dims broadcast
  while they fit the session threshold;
- fact-fact joins (orders ⋈ lineitem) shuffle on the join key; AQE
  handles skew splitting (session.py);
- the event-sequence range join pre-partitions both sides by user so
  the theta condition only runs within a key group, never as a global
  cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import dsum, sql_dsum
from ..sources.tables import load_table


def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: lineitem ⋈ orders (shuffle) ⋈ customer ⋈
    nation ⋈ region (broadcast dims), ASIA only, revenue per nation.
    The planner broadcasts the two tiny dims, and customer while it
    fits the session threshold."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01")))
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(revenue, "revenue"), F.count(F.lit(1)).alias("n_items"))
    )


REVENUE_BY_NATION_SQL = f"""
SELECT n_name,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


def customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join: every customer with order count (0 preserved)
    and total spend (0.0 preserved) — the null-handling contract."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("o_totalprice").cast("decimal(25,4)")).alias("spend"))
    return (
        c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left")
        .select(
            "c_custkey", "c_mktsegment",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("n_orders"),
            F.coalesce(F.col("spend"), F.lit(0)).cast("double")
            .alias("total_spend"),
        )
    )


CUSTOMER_ORDER_STATS_SQL = """
SELECT c_custkey, c_mktsegment,
       coalesce(cnt, 0) AS n_orders,
       CAST(coalesce(spend, 0) AS DOUBLE) AS total_spend
FROM customer
LEFT JOIN (
    SELECT o_custkey, count(*) AS cnt,
           SUM(CAST(o_totalprice AS DECIMAL(25,4))) AS spend
    FROM orders GROUP BY o_custkey
) ON c_custkey = o_custkey
"""


def customers_with_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): customers having at least one order over
    the threshold. Semi joins ship only the keys — at scale this beats
    inner-join+distinct by the width of the probe side."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400000.0)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


CUSTOMERS_WITH_BIG_ORDERS_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
"""


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): customers with no orders at all."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_nationkey")
    )


CUSTOMERS_WITHOUT_ORDERS_SQL = """
SELECT c_custkey, c_name, c_nationkey
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def orders_with_heavy_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join fact→fact (TPC-H Q4 shape): orders having ≥1 heavy
    lineitem, counted per priority."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity") > 45)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


ORDERS_WITH_HEAVY_ITEMS_SQL = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
GROUP BY o_orderpriority
"""


def purchases_with_prior_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/theta join: for each purchase, count same-user clicks in
    the preceding hour. Equi key (user_id) first so the shuffle
    co-locates users; the time-range theta predicate then runs within
    each key group only — the scalable shape for event-sequence joins
    (a bare theta join would be a cross product)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") < F.col("p_ts")),
        "left",
    )
    return joined.groupBy("purchase_id").agg(
        F.count(F.col("c_user")).alias("n_prior_clicks"))


PURCHASES_WITH_PRIOR_CLICKS_SQL = """
SELECT p.event_id AS purchase_id, count(c.user_id) AS n_prior_clicks
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR
 AND c.ts <  p.ts
GROUP BY p.event_id
"""


def self_join_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self equi-join with inequality dedup: same-brand same-size part
    pairs (p1 < p2). Demonstrates alias discipline + pair semantics."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size")
    a = p.alias("a")
    b = p.alias("b")
    return (
        a.join(b, (F.col("a.p_brand") == F.col("b.p_brand"))
               & (F.col("a.p_size") == F.col("b.p_size"))
               & (F.col("a.p_partkey") < F.col("b.p_partkey")))
        .groupBy(F.col("a.p_brand").alias("brand"),
                 F.col("a.p_size").alias("size"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


SELF_JOIN_PART_PAIRS_SQL = """
SELECT a.p_brand AS brand, a.p_size AS size, count(*) AS n_pairs
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
 AND a.p_partkey < b.p_partkey
GROUP BY a.p_brand, a.p_size
"""


# --- point-in-time (SCD2-style) join --------------------------------------

TIER_LOW_MAX = 300.0   # click-value tier boundaries (exact doubles)
TIER_MID_MAX = 700.0


def point_in_time_tier_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each purchase is enriched with the
    slowly-changing attribute valid AT ITS TIMESTAMP — here the user's
    click-value tier (low/mid/high from the most recent prior click) —
    the FK→SCD2 lookup every warehouse runs, done the scale-correct
    way: NOT a range join, but a UNION of dimension-change and fact
    rows with one ``last_value IGNORE NULLS`` window per user. One
    shuffle on user_id; validity intervals never materialize.

    Tie rule (deterministic total order): at equal timestamps the
    dimension change sorts BEFORE the fact (kind 0 < 1), then
    event_id — a same-instant tier change is visible to the purchase.

    Exactness: tier is a CASE over exact double literals; everything
    else is ordering + NULL propagation.

    Scale: the union relation is |dim changes| + |facts| rows wide and
    shuffles once; compare with the naive user×validity range join
    which re-buffers every user's full history per fact row.
    """
    ev = load_table(spark, sf_dir, "events")
    tier = (F.when(F.col("value") <= TIER_LOW_MAX, "low")
            .when(F.col("value") <= TIER_MID_MAX, "mid")
            .otherwise("high"))
    dim = (ev.filter(F.col("event_type") == "click")
           .select("user_id", "ts", "event_id",
                   F.lit(0).alias("kind"), tier.alias("tier")))
    fact = (ev.filter(F.col("event_type") == "purchase")
            .select("user_id", "ts", "event_id",
                    F.lit(1).alias("kind"),
                    F.lit(None).cast("string").alias("tier")))
    w = (Window.partitionBy("user_id")
         .orderBy("ts", "kind", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    merged = (dim.unionByName(fact)
              .withColumn("tier_at_ts",
                          F.last("tier", ignorenulls=True).over(w)))
    return (merged.filter(F.col("kind") == 1)
            .select(F.col("event_id").alias("purchase_id"), "user_id",
                    F.unix_micros("ts").alias("ts_us"),
                    F.coalesce("tier_at_ts", F.lit("none"))
                    .alias("tier_at_purchase")))


POINT_IN_TIME_SQL = f"""
WITH dim AS (
    SELECT user_id, ts, event_id, 0 AS kind,
           CASE WHEN value <= {TIER_LOW_MAX!r} THEN 'low'
                WHEN value <= {TIER_MID_MAX!r} THEN 'mid'
                ELSE 'high' END AS tier
    FROM events WHERE event_type = 'click'
), fact AS (
    SELECT user_id, ts, event_id, 1 AS kind, CAST(NULL AS VARCHAR) AS tier
    FROM events WHERE event_type = 'purchase'
), merged AS (
    SELECT *, last_value(tier IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, kind, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS tier_at_ts
    FROM (SELECT * FROM dim UNION ALL SELECT * FROM fact)
)
SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS ts_us,
       COALESCE(tier_at_ts, 'none') AS tier_at_purchase
FROM merged WHERE kind = 1
"""


# --- bloom-prefiltered semi join ------------------------------------------

BLOOM_M = 4096          # bloom bitmap size (bits)
BLOOM_K = 2             # hash functions per key
BLOOM_ACCTBAL_MAX = 2500.0   # key-set predicate: suppliers in the low
                             # account-balance band (~25% of suppliers at
                             # every SF — a single nation is empty at
                             # sf0.001's 10-supplier table)


def _bloom_positions(key: F.Column) -> list[F.Column]:
    """BLOOM_K bit positions for a key — xxhash64 with distinct seeds,
    pmod'd into the bitmap domain. Spark-side only: the bloom filter
    never changes the RESULT (candidates are exactly verified), so the
    hash needs no cross-engine twin and can use the fastest one."""
    return [F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(BLOOM_M))
            for seed in range(1, BLOOM_K + 1)]


def bloom_prefilter_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier line count + revenue for one nation's suppliers,
    with the fact scan pre-filtered by a BLOOM FILTER built from the
    key set — the runtime-filter technique (Spark's own
    ``spark.sql.optimizer.runtime.bloomFilter`` / Bloom 1970) made
    explicit as a composable operator.

    Why it matters at 100 TB: a semi join against a dimension too big
    to broadcast as an exact hash set shuffles the ENTIRE fact table.
    Its Bloom bitmap is orders of magnitude smaller than the key set
    (here: ≤ 4096 bits regardless of key count), broadcasts for free,
    and discards most non-matching fact rows AT THE SCAN, so only
    survivors reach the exchange. False positives cost nothing but
    wasted transfer — the exact semi join behind the filter removes
    them, so the RESULT is identical to the plain semi join (which is
    exactly what the oracle runs).

    Plan shape: keys → explode(K positions) → collect_set = the
    bitmap as a sorted position array (one tiny agg); fact rows check
    all K positions via array_contains against the broadcast 1-row
    bitmap; survivors flow into the ordinary (broadcast) semi join +
    combinable aggregation."""
    sup = (load_table(spark, sf_dir, "supplier")
           .filter(F.col("s_acctbal") < BLOOM_ACCTBAL_MAX)
           .select("s_suppkey"))
    bloom = (sup.select(F.explode(F.array(
                 *_bloom_positions(F.col("s_suppkey")))).alias("bit"))
             .agg(F.sort_array(F.collect_set("bit")).alias("bits")))
    li = load_table(spark, sf_dir, "lineitem")
    pos = _bloom_positions(F.col("l_suppkey"))
    survivors = (li.join(bloom)
                 .filter(F.array_contains("bits", pos[0])
                         & F.array_contains("bits", pos[1]))
                 .drop("bits"))
    exact = survivors.join(sup,
                           F.col("l_suppkey") == F.col("s_suppkey"),
                           "left_semi")
    return (exact.groupBy("l_suppkey")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 dsum("l_extendedprice", "revenue"))
            .select(F.col("l_suppkey").alias("suppkey"),
                    "n_items", "revenue"))


BLOOM_SEMI_JOIN_SQL = f"""
SELECT l_suppkey AS suppkey, count(*) AS n_items,
       {sql_dsum('l_extendedprice', 'revenue')}
FROM lineitem
WHERE l_suppkey IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < {BLOOM_ACCTBAL_MAX!r})
GROUP BY l_suppkey
"""


def join_fanout_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join cardinality audit of the orders⋈lineitem key — the
    planning query a pipeline owner runs BEFORE shipping a fact⋈fact
    join at 100 TB (the join-side twin of ``gini_key_skew``'s
    aggregation-side audit): per-side key counts, the shared-key
    count, the hottest key's fan-out on each side, and the EXACT join
    output cardinality Σ lᵢ·rᵢ — the number AQE only discovers at
    runtime, computed here from two combinable per-key counts.

    Exactness: all counts and the Σ lᵢ·rᵢ products are integers
    (int64-safe to ~3×10⁹ rows per key pair; DECIMAL(38,0) beyond).

    Scale: each side reduces to one row per key (map-side combinable)
    before the key-profile join — the profile never joins the facts
    themselves; output is ONE row.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lprof = orders.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("l_n"))
    rprof = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("r_n"))
    joined = lprof.join(rprof, "k", "full_outer")
    return joined.agg(
        F.count(F.col("l_n")).alias("n_keys_left"),
        F.count(F.col("r_n")).alias("n_keys_right"),
        F.sum(F.when(F.col("l_n").isNotNull()
                     & F.col("r_n").isNotNull(), 1).otherwise(0))
        .cast("bigint").alias("n_keys_shared"),
        F.max("l_n").alias("max_fanout_left"),
        F.max("r_n").alias("max_fanout_right"),
        F.sum(F.when(F.col("l_n").isNotNull(),
                     F.col("l_n") * F.coalesce(F.col("r_n"), F.lit(0)))
              .otherwise(0)).cast("bigint").alias("join_rows_exact"))


JOIN_FANOUT_SQL = """
WITH lprof AS (
    SELECT o_orderkey AS k, count(*) AS l_n FROM orders GROUP BY 1
),
rprof AS (
    SELECT l_orderkey AS k, count(*) AS r_n FROM lineitem GROUP BY 1
)
SELECT count(l_n) AS n_keys_left,
       count(r_n) AS n_keys_right,
       CAST(sum(CASE WHEN l_n IS NOT NULL AND r_n IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_keys_shared,
       max(l_n) AS max_fanout_left,
       max(r_n) AS max_fanout_right,
       CAST(sum(CASE WHEN l_n IS NOT NULL
                     THEN l_n * COALESCE(r_n, 0) ELSE 0 END)
            AS BIGINT) AS join_rows_exact
FROM lprof FULL OUTER JOIN rprof USING (k)
"""


# --- bloom false-positive-rate audit --------------------------------------


def _bloom_md5_pos(key, j: int):
    """Cross-engine bloom position j for a key: 15 hex chars of
    md5("<key>#<j>") mod BLOOM_M — the md5-as-uniform-hash trick the
    sampling/sharding operators use, here so DuckDB can recompute the
    bitmap bit-for-bit (the SHIPPED prefilter uses xxhash64 for
    speed, see _bloom_positions; both are uniform families, so this
    audit's conclusion transfers)."""
    h = F.md5(F.concat(key.cast("string"), F.lit(f"#{j}")))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % BLOOM_M


def bloom_fp_rate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured vs predicted false-positive rate of the Bloom
    prefilter technique (`bloom_prefilter_semi_join`) — the
    engine measuring its own runtime-filter assumption, the way
    `minhash_estimate_quality` audits the LSH sketch and
    `ann_recall_report` audits the ANN indexes.

    Method: build the BLOOM_K=2-hash bitmap over the member key set
    (low-acctbal suppliers, the shipped operator's predicate), probe
    it with every DISTINCT non-member l_suppkey, and compare the
    measured pass rate against the load-factor prediction
    (s / m)^k where s = bits actually set — the exact conditional FP
    probability for a uniform hash family given the realized bitmap
    (tighter than Bloom 1970's expectation formula, and deterministic
    from the data).

    Exactness: positions are md5-derived integers (cross-engine
    bit-identical); counts are integers; the two rates are single
    divisions/multiplications of exact operands, round(·, 10)-pinned.

    Scale: bitmap agg is one tiny combinable collect_set; the probe
    side is one distinct over fact keys (the relation a runtime
    filter would stream anyway); membership split is a broadcast
    anti join. Nothing quadratic, nothing driver-side.
    """
    sup = (load_table(spark, sf_dir, "supplier")
           .filter(F.col("s_acctbal") < BLOOM_ACCTBAL_MAX)
           .select("s_suppkey"))
    bits = (sup.select(F.explode(F.array(
                *[_bloom_md5_pos(F.col("s_suppkey"), j)
                  for j in range(1, BLOOM_K + 1)])).alias("bit"))
            .agg(F.sort_array(F.collect_set("bit")).alias("bits")))
    n_keys = sup.agg(F.count(F.lit(1)).alias("n_keys"))
    probes = (load_table(spark, sf_dir, "lineitem")
              .select(F.col("l_suppkey").alias("key")).distinct())
    nonmember = probes.join(
        sup, probes.key == F.col("s_suppkey"), "left_anti")
    passed = (nonmember.join(bits)
              .select(F.when(
                  F.array_contains(
                      "bits", _bloom_md5_pos(F.col("key"), 1))
                  & F.array_contains(
                      "bits", _bloom_md5_pos(F.col("key"), 2)),
                  1).otherwise(0).alias("hit"))
              .agg(F.count(F.lit(1)).alias("n_nonmembers"),
                   F.sum("hit").alias("n_false_positives")))
    load = F.col("n_bits_set") / F.lit(float(BLOOM_M))
    return (passed
            .crossJoin(n_keys)
            .crossJoin(
                bits.select(F.size("bits").alias("n_bits_set")))
            .select(
                "n_keys",
                F.lit(BLOOM_M).alias("m_bits"),
                F.lit(BLOOM_K).alias("k_hashes"),
                "n_bits_set", "n_nonmembers", "n_false_positives",
                F.round(F.col("n_false_positives")
                        / F.col("n_nonmembers"), 10)
                .alias("fp_rate_measured"),
                F.round(load * load, 10).alias("fp_rate_predicted")))


def _bloom_pos_sql(key_expr: str, j_expr: str) -> str:
    """DuckDB twin of _bloom_md5_pos — j_expr may be a literal or a
    column; concat coerces it, matching Spark's '#<j>' literals."""
    return (f"('0x' || substring(md5(CAST({key_expr} AS VARCHAR) "
            f"|| '#' || {j_expr}), 1, 15))::BIGINT % {BLOOM_M}")


BLOOM_FP_AUDIT_SQL = f"""
WITH members AS (
    SELECT s_suppkey FROM supplier
    WHERE s_acctbal < {BLOOM_ACCTBAL_MAX!r}
), bits AS (
    SELECT DISTINCT {_bloom_pos_sql('s_suppkey', 'j')}
        AS bit FROM members, unnest([1, 2]) AS t(j)
), nonmember AS (
    SELECT DISTINCT l_suppkey AS key FROM lineitem
    WHERE l_suppkey NOT IN (SELECT s_suppkey FROM members)
), hits AS (
    SELECT count(*) AS n_nonmembers,
           CAST(sum(CASE WHEN
                 {_bloom_pos_sql('key', '1')}
                     IN (SELECT bit FROM bits)
                 AND {_bloom_pos_sql('key', '2')}
                     IN (SELECT bit FROM bits)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positives
    FROM nonmember
)
SELECT (SELECT count(*) FROM members) AS n_keys,
       {BLOOM_M} AS m_bits, {BLOOM_K} AS k_hashes,
       (SELECT count(*) FROM bits) AS n_bits_set,
       n_nonmembers, n_false_positives,
       round(CAST(n_false_positives AS DOUBLE) / n_nonmembers, 10)
           AS fp_rate_measured,
       round((CAST((SELECT count(*) FROM bits) AS DOUBLE)
              / {float(BLOOM_M)})
             * (CAST((SELECT count(*) FROM bits) AS DOUBLE)
                / {float(BLOOM_M)}), 10) AS fp_rate_predicted
FROM hits
"""
