"""Advanced operator surface rounding out SURVEY.md §2.3: as-of join
(an operator Spark lacks natively — composed from union+window, the
scalable formulation), pivot/unpivot, exact-decimal statistical
moments, min_by/max_by, full-outer & cross joins, array-function
surface, percentiles, and a Rabin-Karp-style rolling-hash document
fingerprint.

Scale notes inline per operator; the common theme is that every
"custom" operator is a composition of shuffle-reusing DataFrame
primitives, not a UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import (DEC, SQL_DEC, dsum, scaled_long,
                                 split_sum, split_sum_wide, sql_dsum)
from ..sources.tables import load_table

MOD = 1_000_000_007


def asof_join_prior_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN: for every purchase, the most recent SAME-USER event
    strictly before it (any non-purchase type), with the gap in µs.

    Spark has no native as-of join; the scalable composition is the
    union+window trick: one sort per user over the merged stream, then
    ``last(..., ignorenulls=True)`` over rows strictly before the
    current one. ONE shuffle (the window partitioning) regardless of
    how many right-side rows precede each left row — versus the
    pair-explosion of a range join. Purchases with no prior event
    surface with nulls (left-outer semantics)."""
    ev = load_table(spark, sf_dir, "events")
    is_p = F.col("event_type") == "purchase"
    w = (Window.partitionBy("user_id")
         .orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    other_id = F.when(~is_p, F.col("event_id"))
    other_ts = F.when(~is_p, F.col("ts"))
    other_type = F.when(~is_p, F.col("event_type"))
    return (
        ev.select(
            "user_id", "event_id", "ts", "event_type",
            F.last(other_id, ignorenulls=True).over(w).alias("prior_event_id"),
            F.last(other_type, ignorenulls=True).over(w).alias("prior_type"),
            F.last(other_ts, ignorenulls=True).over(w).alias("prior_ts"),
        )
        .filter(is_p)
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id", "prior_event_id", "prior_type",
            (F.unix_micros("ts") - F.unix_micros("prior_ts"))
            .alias("gap_us"),
        )
    )


ASOF_JOIN_SQL = """
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
o AS (SELECT * FROM events WHERE event_type <> 'purchase'),
cand AS (
    SELECT p.event_id AS purchase_id, p.user_id,
           o.event_id AS prior_event_id, o.event_type AS prior_type,
           epoch_us(p.ts) - epoch_us(o.ts) AS gap_us,
           row_number() OVER (PARTITION BY p.event_id
                              ORDER BY o.ts DESC, o.event_id DESC) AS rn
    FROM p JOIN o ON o.user_id = p.user_id
       AND (o.ts < p.ts OR (o.ts = p.ts AND o.event_id < p.event_id))
)
SELECT p.event_id AS purchase_id, p.user_id,
       c.prior_event_id, c.prior_type, c.gap_us
FROM p LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
  ON c.purchase_id = p.event_id
"""


ASOF_TOL_US = 6 * 3600 * 1_000_000  # 6h — splits the corpus ~55/45


def asof_join_nearest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN, ``direction='nearest'`` with tolerance (the pandas
    ``merge_asof`` variant ``asof_join_prior_event`` doesn't cover):
    for every purchase, the same-user non-purchase event with the
    SMALLEST absolute time distance, if that distance is within
    ``ASOF_TOL_US``; past wins exact-distance ties. Signed ``gap_us``
    (positive = event before the purchase) and a direction tag.

    Scalable composition: nearest-by-|Δt| NEVER needs the pair-explosion
    range join, because in the per-user (ts, event_id) total order the
    globally nearest candidate is always one of exactly TWO rows — the
    latest predecessor or the earliest successor. Both come from the
    same union+window trick as the backward as-of (``last`` over
    preceding / ``first`` over following), so the whole operator is
    still ONE shuffle, then a per-row 2-way comparison.

    Determinism: same-ts candidates order by event_id, so "latest
    predecessor" = highest event_id below the purchase and "earliest
    successor" = lowest above; the oracle mirrors this with its
    direction-aware event_id tie-break.
    """
    ev = load_table(spark, sf_dir, "events")
    is_p = F.col("event_type") == "purchase"
    order = [F.col("ts"), F.col("event_id")]
    w_prev = (Window.partitionBy("user_id").orderBy(*order)
              .rowsBetween(Window.unboundedPreceding, -1))
    w_next = (Window.partitionBy("user_id").orderBy(*order)
              .rowsBetween(1, Window.unboundedFollowing))
    o_id = F.when(~is_p, F.col("event_id"))
    o_ts = F.when(~is_p, F.col("ts"))
    o_ty = F.when(~is_p, F.col("event_type"))
    cand = ev.select(
        "user_id", "event_id", "ts", "event_type",
        F.last(o_id, ignorenulls=True).over(w_prev).alias("prev_id"),
        F.last(o_ty, ignorenulls=True).over(w_prev).alias("prev_type"),
        F.last(o_ts, ignorenulls=True).over(w_prev).alias("prev_ts"),
        F.first(o_id, ignorenulls=True).over(w_next).alias("next_id"),
        F.first(o_ty, ignorenulls=True).over(w_next).alias("next_type"),
        F.first(o_ts, ignorenulls=True).over(w_next).alias("next_ts"),
    ).filter(is_p)
    gap_prev = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("prev_ts"))
    gap_next = F.unix_micros(F.col("next_ts")) - F.unix_micros(F.col("ts"))
    prev_ok = F.col("prev_id").isNotNull() & (gap_prev <= ASOF_TOL_US)
    next_ok = F.col("next_id").isNotNull() & (gap_next <= ASOF_TOL_US)
    take_prev = prev_ok & (~next_ok | (gap_prev <= gap_next))
    take_next = next_ok & ~take_prev
    return cand.select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.when(take_prev, F.col("prev_id"))
        .when(take_next, F.col("next_id")).alias("matched_event_id"),
        F.when(take_prev, F.col("prev_type"))
        .when(take_next, F.col("next_type")).alias("matched_type"),
        F.when(take_prev, gap_prev)
        .when(take_next, -gap_next).alias("gap_us"),
        F.when(take_prev, F.lit("prior"))
        .when(take_next, F.lit("next")).alias("direction"),
    )


ASOF_NEAREST_SQL = f"""
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
o AS (SELECT * FROM events WHERE event_type <> 'purchase'),
cand AS (
    SELECT p.event_id AS purchase_id, p.user_id,
           o.event_id AS matched_event_id, o.event_type AS matched_type,
           epoch_us(p.ts) - epoch_us(o.ts) AS gap_us,
           CASE WHEN (o.ts < p.ts OR (o.ts = p.ts
                                      AND o.event_id < p.event_id))
                THEN 'prior' ELSE 'next' END AS direction,
           row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY abs(epoch_us(p.ts) - epoch_us(o.ts)),
                        CASE WHEN (o.ts < p.ts OR (o.ts = p.ts
                                   AND o.event_id < p.event_id))
                             THEN 0 ELSE 1 END,
                        CASE WHEN (o.ts < p.ts OR (o.ts = p.ts
                                   AND o.event_id < p.event_id))
                             THEN -o.event_id ELSE o.event_id END) AS rn
    FROM p JOIN o ON o.user_id = p.user_id
    WHERE abs(epoch_us(p.ts) - epoch_us(o.ts)) <= {ASOF_TOL_US}
)
SELECT p.event_id AS purchase_id, p.user_id,
       c.matched_event_id, c.matched_type, c.gap_us, c.direction
FROM p LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
  ON c.purchase_id = p.event_id
"""


def pivot_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-user event counts spread across one column per type.
    The pivot values are DECLARED (not discovered) — at 100 TB an
    undeclared pivot needs an extra pass to enumerate keys."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


PIVOT_SQL = """
SELECT user_id,
       count(CASE WHEN event_type = 'click'    THEN 1 END) AS click,
       count(CASE WHEN event_type = 'error'    THEN 1 END) AS error,
       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
       count(CASE WHEN event_type = 'signup'   THEN 1 END) AS signup,
       count(CASE WHEN event_type = 'view'     THEN 1 END) AS view
FROM events GROUP BY user_id
"""


def unpivot_order_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: per-status totals widened by q1-style aggregation,
    then melted back to (status, metric, value) long form."""
    o = load_table(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderstatus").agg(
        dsum("o_totalprice", "total_price"),
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        F.max("o_totalprice").alias("max_price"),
    )
    return wide.unpivot(
        ["o_orderstatus"], ["total_price", "n_orders", "max_price"],
        "metric", "value")


UNPIVOT_SQL = f"""
WITH wide AS (
    SELECT o_orderstatus,
           {sql_dsum('o_totalprice', 'total_price')},
           CAST(count(*) AS DOUBLE) AS n_orders,
           max(o_totalprice) AS max_price
    FROM orders GROUP BY o_orderstatus
)
SELECT o_orderstatus, 'total_price' AS metric, total_price AS value FROM wide
UNION ALL
SELECT o_orderstatus, 'n_orders', n_orders FROM wide
UNION ALL
SELECT o_orderstatus, 'max_price', max_price FROM wide
"""


def _moments(col: str, alias_prefix: str) -> list[Column]:
    # r10: exact moments on longs (numeric.py rationale) — Sx = SUM(u)/1e4,
    # Sxx = SUM(u*u)/1e8 with u the unscaled decimal(25,4) value; the
    # squared per-row magnitude reaches ~2^60, hence the wide split.
    u = scaled_long(col)
    return [
        split_sum(u, 10 ** 4).cast("double").alias(f"{alias_prefix}_s1"),
        split_sum_wide(u * u, 10 ** 8).cast("double")
        .alias(f"{alias_prefix}_s2"),
    ]


def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates with ORDER-STABLE cross-engine results:
    stddev/variance/correlation computed from exact decimal moment sums
    (Σx, Σx², Σxy) instead of the built-in one-pass aggregates, whose
    float accumulation order differs between engines. The moment sums
    are map-side combinable, so this is also the scalable formulation.
    """
    li = load_table(spark, sf_dir, "lineitem")
    uq = scaled_long("l_quantity")
    up = scaled_long("l_extendedprice")
    base = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        *_moments("l_quantity", "q"),
        *_moments("l_extendedprice", "p"),
        split_sum_wide(uq * up, 10 ** 8).cast("double").alias("qp_s"),
    )
    n = F.col("n")
    var_q = (F.col("q_s2") - F.col("q_s1") * F.col("q_s1") / n) / (n - 1)
    var_p = (F.col("p_s2") - F.col("p_s1") * F.col("p_s1") / n) / (n - 1)
    cov = (F.col("qp_s") - F.col("q_s1") * F.col("p_s1") / n) / (n - 1)
    return base.select(
        "l_returnflag", "n",
        F.round(var_q, 6).alias("var_qty"),
        F.round(F.sqrt(var_q), 6).alias("stddev_qty"),
        F.round(cov / (F.sqrt(var_q) * F.sqrt(var_p)), 6).alias("corr_qty_price"),
    )


STATS_MOMENTS_SQL = """
WITH base AS (
    SELECT l_returnflag,
           count(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS q_s1,
           CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))
                    * CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS q_s2,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE) AS p_s1,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,4))
                    * CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE) AS p_s2,
           CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))
                    * CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE) AS qp_s
    FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       round((q_s2 - q_s1 * q_s1 / n) / (n - 1), 6) AS var_qty,
       round(sqrt((q_s2 - q_s1 * q_s1 / n) / (n - 1)), 6) AS stddev_qty,
       round(((qp_s - q_s1 * p_s1 / n) / (n - 1))
             / (sqrt((q_s2 - q_s1 * q_s1 / n) / (n - 1))
                * sqrt((p_s2 - p_s1 * p_s1 / n) / (n - 1))), 6)
           AS corr_qty_price
FROM base
"""


def min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by: each customer's most/least expensive order key.
    The ordering value is a (price, key) struct so ties are impossible
    — bare max_by over a tied value is nondeterministic (same caveat
    as the reference's arrival-order output, SURVEY.md §2.2)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.max_by("o_orderkey",
                 F.struct("o_totalprice", "o_orderkey")).alias("best_order"),
        F.min_by("o_orderkey",
                 F.struct("o_totalprice", "o_orderkey")).alias("worst_order"),
        F.max("o_totalprice").alias("best_price"),
    )


MIN_MAX_BY_SQL = """
WITH ranked AS (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey DESC) AS rb,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice ASC, o_orderkey ASC) AS rw
    FROM orders
)
SELECT o_custkey,
       max(CASE WHEN rb = 1 THEN o_orderkey END) AS best_order,
       max(CASE WHEN rw = 1 THEN o_orderkey END) AS worst_order,
       max(o_totalprice) AS best_price
FROM ranked GROUP BY o_custkey
"""


def full_outer_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join: customer-count vs supplier-count per nation,
    preserving nations present on only one side."""
    c = (load_table(spark, sf_dir, "customer")
         .groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_cust")))
    s = (load_table(spark, sf_dir, "supplier")
         .groupBy("s_nationkey").agg(F.count(F.lit(1)).alias("n_supp")))
    return (
        c.join(s, c.c_nationkey == s.s_nationkey, "full_outer")
        .select(
            F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
    )


FULL_OUTER_SQL = """
SELECT coalesce(c.k, s.k) AS nationkey,
       coalesce(c.n_cust, 0) AS n_cust,
       coalesce(s.n_supp, 0) AS n_supp
FROM (SELECT c_nationkey AS k, count(*) AS n_cust FROM customer GROUP BY 1) c
FULL OUTER JOIN
     (SELECT s_nationkey AS k, count(*) AS n_supp FROM supplier GROUP BY 1) s
  ON c.k = s.k
"""


def cross_join_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit CROSS JOIN of two tiny dimensions (region × order
    priority) — the only place a cross product is ever acceptable:
    when both sides are provably small."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    p = (load_table(spark, sf_dir, "orders")
         .select("o_orderpriority").distinct())
    return r.crossJoin(p)


CROSS_JOIN_SQL = """
SELECT r_name, o_orderpriority
FROM region CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders)
"""


def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface over tokenized documents: sort, distinct,
    slice, contains, position (0 when absent — both engines). Array
    intermediates are exercised in full, but OUTPUT columns are
    serialized to strings: the driver canonicalizer (pandas
    sort_values) cannot hash list cells."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.concat_ws(" ", F.sort_array(F.array_distinct(toks))).alias("vocab"),
        F.concat_ws(" ", F.slice(toks, 1, 3)).alias("first3"),
        F.array_contains(toks, "the").alias("has_the"),
        F.array_position(toks, "the").alias("first_the_pos"),
        F.size(toks).cast("bigint").alias("n_tokens"),
    )


ARRAY_FUNCTIONS_SQL = """
SELECT doc_id,
       coalesce(array_to_string(
           list_sort(list_distinct(string_split(text, ' '))),
           ' '), '') AS vocab,
       coalesce(array_to_string(string_split(text, ' ')[1:3], ' '), '')
           AS first3,
       list_contains(string_split(text, ' '), 'the') AS has_the,
       CAST(list_position(string_split(text, ' '), 'the') AS BIGINT)
           AS first_the_pos,
       len(string_split(text, ' ')) AS n_tokens
FROM documents
"""


def quantiles_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation) per group — both
    engines implement the same index = p·(n−1) definition; inputs are
    integer-valued doubles so the interpolated values are exact."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.median("l_quantity").alias("median_qty"),
        F.percentile("l_quantity", 0.9).alias("p90_qty"),
        F.percentile("l_quantity", 0.99).alias("p99_qty"),
    )


QUANTILES_SQL = """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.5) AS median_qty,
       quantile_cont(l_quantity, 0.9) AS p90_qty,
       quantile_cont(l_quantity, 0.99) AS p99_qty
FROM lineitem GROUP BY l_returnflag
"""

N_DECILES = 10


def equi_depth_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram per order status (``value_histogram`` is
    the equi-WIDTH twin): ntile(10) over o_totalprice splits each
    status' orders into ten equal-population buckets; per bucket the
    population, value bounds and exact-decimal total. Equi-depth
    bounds are what an optimizer's column statistics store — equal
    mass, not equal width — and the per-bucket lo/hi ARE the decile
    boundaries.

    Determinism: the ntile order is (o_totalprice, o_orderkey) — the
    key tie-break makes bucket assignment total. Both engines define
    ntile identically (floor-division remainder to the leading
    buckets).

    Scale: ONE window partitioned by status (per-partition state =
    that status' orders), then a combinable 30-group aggregation. An
    unpartitioned equi-depth histogram would need a global rank — at
    100 TB swap ntile for approx_percentile cutpoints + map-side CASE
    (the documented ``unigram_logprob_filter`` pattern).
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        "o_totalprice", "o_orderkey")
    return (
        o.select("o_orderstatus", "o_totalprice",
                 F.ntile(N_DECILES).over(w).cast("bigint").alias("decile"))
        .groupBy("o_orderstatus", "decile")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.min("o_totalprice").alias("lo"),
             F.max("o_totalprice").alias("hi"),
             dsum("o_totalprice", "total_price")))


EQUI_DEPTH_SQL = f"""
SELECT o_orderstatus, decile, count(*) AS n_orders,
       min(o_totalprice) AS lo, max(o_totalprice) AS hi,
       CAST(sum(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE)
           AS total_price
FROM (
    SELECT o_orderstatus, o_totalprice,
           CAST(ntile({N_DECILES}) OVER (
               PARTITION BY o_orderstatus
               ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS decile
    FROM orders
) GROUP BY 1, 2
"""


# --- Rabin-Karp-style rolling window fingerprint -------------------------

ROLL_WINDOW = 8
ROLL_BASE = 131


def _token_code(col: Column) -> Column:
    """Cheap per-token code (first-char code ⊕ length) — stands in for
    a byte-level hash; identical `ascii`/`length` in both engines."""
    return F.ascii(col) * 31 + F.length(col)


def rolling_hash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: polynomial rolling hash (Rabin-Karp
    window) over the LAST 8 tokens, mod 1e9+7 — the suffix fingerprint
    used for cheap incremental dedup of append-mostly corpora. Pure
    integer expression unrolled over the fixed window: exact in both
    engines, no UDF, map-side only (zero shuffles)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    h: Column = F.lit(0).cast("long")
    for i in range(ROLL_WINDOW, 0, -1):
        # F.get (0-based, null on out-of-bounds) rather than element_at,
        # which throws under ANSI mode for short documents; nulls from
        # short docs fold in as 0 on both engines.
        code = F.coalesce(_token_code(F.get(toks, F.size(toks) - i)),
                          F.lit(0)).cast("long")
        h = F.pmod(h * ROLL_BASE + code, F.lit(MOD))
    return docs.select("doc_id", h.alias("fingerprint"),
                       F.size(toks).cast("bigint").alias("n_tokens"))


_ROLL_SQL_EXPR = "CAST(0 AS BIGINT)"
for _i in range(ROLL_WINDOW, 0, -1):
    _code = (f"coalesce(ascii(string_split(text, ' ')[-{_i}]) * 31 "
             f"+ length(string_split(text, ' ')[-{_i}]), 0)")
    _ROLL_SQL_EXPR = f"(({_ROLL_SQL_EXPR}) * {ROLL_BASE} + {_code}) % {MOD}"

ROLLING_HASH_SQL = f"""
SELECT doc_id,
       {_ROLL_SQL_EXPR} AS fingerprint,
       len(string_split(text, ' ')) AS n_tokens
FROM documents
"""


def string_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance surface: levenshtein between part name and brand
    (both engines implement plain Wagner-Fischer — integer-exact)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.levenshtein("p_name", "p_brand").cast("bigint").alias("name_brand_dist"),
        F.levenshtein("p_name", F.reverse("p_name"))
        .cast("bigint").alias("palindrome_dist"),
    )


STRING_DISTANCE_SQL = """
SELECT p_partkey,
       levenshtein(p_name, p_brand) AS name_brand_dist,
       levenshtein(p_name, reverse(p_name)) AS palindrome_dist
FROM part
"""


# --- Benford first-digit audit --------------------------------------------

# Benford expectations P(d) = log10(1 + 1/d) as 10-dp literals computed
# ONCE here — injected into both engines so neither runs its own log10
# (libm results are not contractually identical across engines).
import math as _math

BENFORD_EXPECTED = {d: round(_math.log10(1 + 1 / d), 10) for d in range(1, 10)}


def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the classic
    anomaly/fraud screen for monetary columns: observed first-digit
    shares vs the logarithmic expectation P(d) = log10(1+1/d)
    (Benford 1938, Newcomb 1881). Synthetic TPC-H prices are ~uniform,
    so the deltas HERE are large — which is the point: the audit
    flags non-Benford generators, and a uniform RNG is one.

    First digit via fixed '%.2f' formatting (identical string surgery
    on both engines — no log10/pow float edge cases at decade
    boundaries); all totals are ≥ 1 by schema so the lead char is the
    digit. Share and delta are single correctly-rounded double ops
    over exact integer counts; the expected column is a literal.

    Scale: one combinable 9-group aggregation over the scan; the
    share window runs on the 9-row digit relation. Zero joins."""
    o = load_table(spark, sf_dir, "orders")
    digit = F.substring(F.format_string("%.2f", "o_totalprice"), 1, 1)
    counts = (o.groupBy(digit.cast("int").alias("digit"))
              .agg(F.count(F.lit(1)).alias("n")))
    expected = F.element_at(
        F.create_map(*[F.lit(x) for d, p in BENFORD_EXPECTED.items()
                       for x in (d, p)]), F.col("digit"))
    total = F.sum("n").over(Window.partitionBy())
    return (counts.select(
        "digit", "n",
        F.round(F.col("n") / total, 10).alias("share"),
        expected.alias("benford_expected"))
        .withColumn("delta",
                    F.round(F.col("share") - F.col("benford_expected"), 10)))


_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {p!r}" for d, p in BENFORD_EXPECTED.items())

BENFORD_SQL = f"""
WITH counts AS (
    SELECT CAST(substring(printf('%.2f', o_totalprice), 1, 1) AS INT)
               AS digit,
           count(*) AS n
    FROM orders GROUP BY 1
)
SELECT digit, n,
       round(n / CAST(sum(n) OVER () AS DOUBLE), 10) AS share,
       CAST(CASE digit {_BENFORD_CASE} END AS DOUBLE) AS benford_expected,
       round(round(n / CAST(sum(n) OVER () AS DOUBLE), 10)
             - CAST(CASE digit {_BENFORD_CASE} END AS DOUBLE), 10) AS delta
FROM counts
"""


def ab_split_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: deterministic 50/50 user split (arm A =
    md5 of the user id starts with hex 0-7 — the same md5 bucketing
    every deterministic-sampling operator here uses, so assignment is
    reproducible across engines and runs), then per event_type the
    Welch unequal-variance t statistic and Welch–Satterthwaite degrees
    of freedom comparing event values between arms — the standard
    experimentation-platform aggregate.

    Exactness (the ``stats_moments`` convention): Σv and Σv² are exact
    DECIMAL(25,4) sums cast to double ONCE, and every downstream
    mean/variance/t/df is the identical written order of
    correctly-rounded double ops in both engines, round 6.

    Scale: ONE combinable aggregation — arms fold in as conditional
    sums per event_type, so no join, no second pass, no shuffle beyond
    the |event_types|-group agg.
    """
    ev = load_table(spark, sf_dir, "events")
    arm_a = F.substring(
        F.md5(F.col("user_id").cast("string").cast("binary")), 1, 1) \
        .isin(*list("01234567"))
    uv = scaled_long("value")

    def side(flag: F.Column, tag: str):
        # r10: conditional exact moments on longs; NULL branches skip
        # the sum exactly as the decimal form did.
        return [
            F.sum(F.when(flag, 1).otherwise(0)).alias(f"n_{tag}"),
            split_sum(F.when(flag, uv), 10 ** 4).cast("double")
            .alias(f"{tag}_s1"),
            split_sum_wide(F.when(flag, uv * uv), 10 ** 8).cast("double")
            .alias(f"{tag}_s2"),
        ]

    base = ev.groupBy("event_type").agg(
        *side(arm_a, "a"), *side(~arm_a, "b"))
    na, nb = F.col("n_a"), F.col("n_b")
    ma = F.col("a_s1") / na
    mb = F.col("b_s1") / nb
    va = (F.col("a_s2") - F.col("a_s1") * F.col("a_s1") / na) / (na - 1)
    vb = (F.col("b_s2") - F.col("b_s1") * F.col("b_s1") / nb) / (nb - 1)
    sea = va / na
    seb = vb / nb
    se2 = sea + seb
    t = (ma - mb) / F.sqrt(se2)
    df = se2 * se2 / (sea * sea / (na - 1) + seb * seb / (nb - 1))
    return base.select(
        "event_type", "n_a", "n_b",
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round(t, 6).alias("welch_t"),
        F.round(df, 4).alias("welch_df"))


AB_WELCH_SQL = """
WITH base AS (
    SELECT event_type,
           sum(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                         IN ('0','1','2','3','4','5','6','7')
                    THEN 1 ELSE 0 END) AS n_a,
           CAST(sum(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                              IN ('0','1','2','3','4','5','6','7')
                         THEN CAST(value AS DECIMAL(25,4)) END)
                AS DOUBLE) AS a_s1,
           CAST(sum(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                              IN ('0','1','2','3','4','5','6','7')
                         THEN CAST(value AS DECIMAL(25,4))
                              * CAST(value AS DECIMAL(25,4)) END)
                AS DOUBLE) AS a_s2,
           sum(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                         IN ('0','1','2','3','4','5','6','7')
                    THEN 0 ELSE 1 END) AS n_b,
           CAST(sum(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                              IN ('0','1','2','3','4','5','6','7')
                         THEN NULL
                         ELSE CAST(value AS DECIMAL(25,4)) END)
                AS DOUBLE) AS b_s1,
           CAST(sum(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                              IN ('0','1','2','3','4','5','6','7')
                         THEN NULL
                         ELSE CAST(value AS DECIMAL(25,4))
                              * CAST(value AS DECIMAL(25,4)) END)
                AS DOUBLE) AS b_s2
    FROM events GROUP BY event_type
)
SELECT event_type, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(a_s1 / n_a, 6) AS mean_a,
       round(b_s1 / n_b, 6) AS mean_b,
       round((a_s1 / n_a - b_s1 / n_b)
             / sqrt(((a_s2 - a_s1 * a_s1 / n_a) / (n_a - 1)) / n_a
                    + ((b_s2 - b_s1 * b_s1 / n_b) / (n_b - 1)) / n_b), 6)
           AS welch_t,
       round((((a_s2 - a_s1 * a_s1 / n_a) / (n_a - 1)) / n_a
              + ((b_s2 - b_s1 * b_s1 / n_b) / (n_b - 1)) / n_b)
             * (((a_s2 - a_s1 * a_s1 / n_a) / (n_a - 1)) / n_a
                + ((b_s2 - b_s1 * b_s1 / n_b) / (n_b - 1)) / n_b)
             / ((((a_s2 - a_s1 * a_s1 / n_a) / (n_a - 1)) / n_a)
                * (((a_s2 - a_s1 * a_s1 / n_a) / (n_a - 1)) / n_a)
                / (n_a - 1)
                + (((b_s2 - b_s1 * b_s1 / n_b) / (n_b - 1)) / n_b)
                * (((b_s2 - b_s1 * b_s1 / n_b) / (n_b - 1)) / n_b)
                / (n_b - 1)), 4) AS welch_df
FROM base
"""


# --- Mann-Whitney U / ROC-AUC ---------------------------------------------

MW_SRC_A, MW_SRC_B = "src0", "src1"


def mann_whitney_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (with tie correction) comparing
    document lengths between two sources, plus the equivalent ROC-AUC
    (AUC = U/(n₁n₂) — the Mann-Whitney/AUC identity): the
    DISTRIBUTION-FREE alternative to ``ab_split_welch_ttest`` for the
    heavy-tailed metrics (lengths, latencies, revenues) where a t-test
    on means is fragile, and the standard readout for "does source A
    produce systematically longer documents than source B".

    Exactness: all rank math stays in integers by working in DOUBLED
    ranks — per distinct value v with group counts (cₐ, c, cum-before
    C): Σ 2·rankₐ = Σ cₐ·(2C + c + 1) exactly; 2U₁ = that − n₁(n₁+1).
    The tie term Σ(c³ − c), the variance and z are then fixed
    arithmetic over exact-integer-derived doubles (round 6 on display
    stats only). Integer intermediates stay ≤ n·N ≪ 2⁶³ for any
    realistic per-stratum N; at >10⁹ rows per side switch the doubled
    rank sum to DECIMAL(38,0).

    Scale: the corpus collapses to the distinct-value histogram in one
    combinable aggregation; the rank-prefix window runs on that
    histogram (≤ |distinct lengths| rows — hundreds, not corpus-sized;
    the documented reduced-relation single-partition window, same as
    ``unigram_logprob_filter``'s terciles).
    """
    docs = load_table(spark, sf_dir, "documents")
    two = docs.filter(F.col("source").isin(MW_SRC_A, MW_SRC_B)).select(
        (F.col("source") == MW_SRC_A).cast("long").alias("ga"),
        F.col("n_chars").alias("v"))
    hist = (two.groupBy("v")
            .agg(F.sum("ga").alias("ca"), F.count(F.lit(1)).alias("c")))
    w = (Window.orderBy("v")
         .rowsBetween(Window.unboundedPreceding, -1))
    ranked = hist.select(
        "v", "ca", "c",
        F.coalesce(F.sum("c").over(w), F.lit(0)).alias("cum"))
    agg = ranked.agg(
        F.sum("ca").alias("n_a"),
        F.sum(F.col("c") - F.col("ca")).alias("n_b"),
        F.sum(F.col("ca") * (F.lit(2) * F.col("cum") + F.col("c")
                             + F.lit(1))).alias("two_r_a"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .alias("tie_term"))
    na, nb = F.col("n_a"), F.col("n_b")
    nn = na + nb
    two_u = F.col("two_r_a") - na * (na + F.lit(1))
    u_a = two_u.cast("double") / F.lit(2.0)
    auc = two_u.cast("double") / (F.lit(2.0) * na.cast("double")
                                  * nb.cast("double"))
    var_u = (na.cast("double") * nb.cast("double") / F.lit(12.0)
             * ((nn + F.lit(1)).cast("double")
                - F.col("tie_term").cast("double")
                / (nn.cast("double") * (nn - F.lit(1)).cast("double"))))
    z = (u_a - na.cast("double") * nb.cast("double") / F.lit(2.0)) \
        / F.sqrt(var_u)
    return agg.select(na.alias("n_a"), nb.alias("n_b"),
                      u_a.alias("u_a"),
                      F.round(auc, 6).alias("auc"),
                      F.round(z, 6).alias("z_score"))


MANN_WHITNEY_SQL = f"""
WITH two AS (
    SELECT CASE WHEN source = '{MW_SRC_A}' THEN 1 ELSE 0 END AS ga,
           n_chars AS v
    FROM documents WHERE source IN ('{MW_SRC_A}', '{MW_SRC_B}')
), hist AS (
    SELECT v, sum(ga) AS ca, count(*) AS c FROM two GROUP BY v
), ranked AS (
    SELECT v, ca, c,
           COALESCE(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND 1 PRECEDING), 0) AS cum
    FROM hist
), agg AS (
    SELECT CAST(sum(ca) AS BIGINT) AS n_a,
           CAST(sum(c - ca) AS BIGINT) AS n_b,
           CAST(sum(ca * (2 * cum + c + 1)) AS BIGINT) AS two_r_a,
           CAST(sum(c * c * c - c) AS BIGINT) AS tie_term
    FROM ranked
)
SELECT n_a, n_b,
       CAST(two_r_a - n_a * (n_a + 1) AS DOUBLE) / 2.0 AS u_a,
       round(CAST(two_r_a - n_a * (n_a + 1) AS DOUBLE)
             / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
           AS auc,
       round((CAST(two_r_a - n_a * (n_a + 1) AS DOUBLE) / 2.0
              - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
             / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
                    * (CAST(n_a + n_b + 1 AS DOUBLE)
                       - CAST(tie_term AS DOUBLE)
                         / (CAST(n_a + n_b AS DOUBLE)
                            * CAST(n_a + n_b - 1 AS DOUBLE)))), 6)
           AS z_score
FROM agg
"""


# --- KMV distinct-count sketch ----------------------------------------------

KMV_K = 64
KMV_POW52 = 1 << 52


def kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per event_type
    (Bar-Yossef et al. 2002): hash every distinct user to an exact
    52-bit md5 uniform, keep the k smallest, estimate NDV ≈ (k−1)/u_k
    from the k-th order statistic — and report it AGAINST the exact
    NDV with the relative error, making this the third member of the
    sketch-self-audit family (bloom FP rate, md5-uniformity KS): the
    operator that says what error the mergeable-sketch path would
    have cost BEFORE a pipeline swaps exact distinct for sketches.
    A type with fewer than k distinct users stores them all and the
    sketch is exact (the textbook small-set case).

    Exactness: u = (h+1)/2⁵² is exact IEEE754 (52-bit integer,
    power-of-two divisor — the ``weighted_sample_aes`` uniform);
    u_k is selected by rank (no arithmetic), the estimate is fixed
    arithmetic over (k−1) and u_k, round 6 on display.

    Scale: ONE exchange for the distinct; the rank window runs on the
    distinct-user relation (documented reduced-relation window, same
    class as ``rfm_segmentation``) — a cluster implementation swaps
    it for a per-partition k-smallest heap + k-way merge, the
    standard KMV merge that makes the sketch distributive; the
    estimator and audit are |types|-row math.
    """
    ev = load_table(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct()
    h = F.conv(F.substring(
        F.md5(F.col("user_id").cast("string").cast("binary")), 1, 13),
        16, 10).cast("bigint")
    u = (h + 1) / F.lit(float(KMV_POW52))
    w = Window.partitionBy("event_type").orderBy("u", "user_id")
    ranked = (du.select("event_type", u.alias("u"), "user_id")
              .withColumn("rn", F.row_number().over(w)))
    exact = du.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_exact"))
    kth = (ranked.filter(F.col("rn") == KMV_K)
           .select("event_type", F.col("u").alias("u_k")))
    est = F.when(F.col("u_k").isNull(),
                 F.col("n_exact").cast("double")) \
        .otherwise(F.lit(float(KMV_K - 1)) / F.col("u_k"))
    return (exact.join(kth, "event_type", "left")
            .select("event_type", "n_exact",
                    F.round(est, 6).alias("ndv_estimate"),
                    F.round((est - F.col("n_exact").cast("double"))
                            / F.col("n_exact").cast("double"), 6)
                    .alias("rel_error")))


KMV_SKETCH_SQL = f"""
WITH du AS (
    SELECT DISTINCT event_type, user_id FROM events
), ranked AS (
    SELECT event_type,
           (('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 13))
                ::BIGINT + 1) / {float(KMV_POW52)!r} AS u,
           row_number() OVER (
               PARTITION BY event_type
               ORDER BY (('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                                            1, 13))::BIGINT + 1)
                        / {float(KMV_POW52)!r}, user_id) AS rn
    FROM du
), exact AS (
    SELECT event_type, count(*) AS n_exact FROM du GROUP BY event_type
), kth AS (
    SELECT event_type, u AS u_k FROM ranked WHERE rn = {KMV_K}
)
SELECT e.event_type, e.n_exact,
       round(CASE WHEN k.u_k IS NULL THEN CAST(e.n_exact AS DOUBLE)
                  ELSE {float(KMV_K - 1)!r} / k.u_k END, 6)
           AS ndv_estimate,
       round((CASE WHEN k.u_k IS NULL THEN CAST(e.n_exact AS DOUBLE)
                   ELSE {float(KMV_K - 1)!r} / k.u_k END
              - CAST(e.n_exact AS DOUBLE))
             / CAST(e.n_exact AS DOUBLE), 6) AS rel_error
FROM exact e LEFT JOIN kth k ON e.event_type = k.event_type
"""


# --- split-conformal prediction intervals -------------------------------------

CONF_CAL_HEX = tuple("0123456789ab")  # 75% calibration split
CONF_ALPHA_NUM, CONF_ALPHA_DEN = 9, 10  # 1 - alpha = 9/10


def conformal_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals (Papadopoulos et al. 2002 /
    Vovk): per event_type, fit the trivial predictor (calibration
    mean), take the nonconformity score |v − mean|, set the interval
    half-width τ to the ⌈(n_cal+1)(1−α)⌉-th smallest calibration
    score (α = 0.1, the EXACT finite-sample rank — integer
    arithmetic, no quantile interpolation), and report the EMPIRICAL
    coverage on the held-out split — the distribution-free interval
    machinery modern ML serving wraps around any point model, with
    its marginal ≥ 1−α guarantee made auditable. The md5 75/25 split
    is the same deterministic convention every eval here uses.

    Exactness: the calibration mean is one exact DECIMAL(25,4) sum
    divided by a count; residuals are fixed double arithmetic over
    it; τ is selected by RANK (ties broken by event_id), the target
    rank is exact integer ceil arithmetic; coverage is one integer
    division.

    Scale: two combinable per-type aggregations + one rank window
    partitioned by event_type (the repo's rank-exact quantile
    convention, same class as ``mad_outlier_events``'s median);
    calibration stats and τ broadcast back as |types|-row relations.
    """
    ev = load_table(spark, sf_dir, "events")
    is_cal = F.substring(
        F.md5(F.col("event_id").cast("string").cast("binary")), 1, 1) \
        .isin(*CONF_CAL_HEX)
    tagged = ev.select("event_type", "event_id", "value",
                       is_cal.alias("cal"))
    stats = (tagged.filter("cal").groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n_cal"),
                  (split_sum(scaled_long("value"), 10 ** 4).cast("double")
                   / F.count(F.lit(1))).alias("mu")))
    kstar = ((F.col("n_cal") + 1) * CONF_ALPHA_NUM
             + (CONF_ALPHA_DEN - 1)) \
        .cast("long") / F.lit(CONF_ALPHA_DEN)
    stats = stats.withColumn("k_star", F.floor(kstar).cast("long"))
    cal_r = (tagged.filter("cal")
             .join(F.broadcast(stats), "event_type")
             .select("event_type", "event_id", "n_cal", "k_star",
                     F.abs(F.col("value") - F.col("mu")).alias("r")))
    w = Window.partitionBy("event_type").orderBy("r", "event_id")
    tau = (cal_r.withColumn("rn", F.row_number().over(w))
           .filter(F.col("rn") == F.least(F.col("k_star"),
                                          F.col("n_cal")))
           .select("event_type", F.col("r").alias("tau")))
    test = (tagged.filter(~F.col("cal"))
            .join(F.broadcast(stats), "event_type")
            .join(F.broadcast(tau), "event_type")
            .groupBy("event_type")
            .agg(F.max("n_cal").alias("n_cal"),
                 F.max("tau").alias("tau"),
                 F.count(F.lit(1)).alias("n_test"),
                 F.sum((F.abs(F.col("value") - F.col("mu"))
                        <= F.col("tau")).cast("long")).alias("n_covered")))
    return test.select(
        "event_type", "n_cal", "n_test", "tau", "n_covered",
        (F.col("n_covered").cast("double")
         / F.col("n_test").cast("double")).alias("coverage"))


CONFORMAL_SQL = f"""
WITH tagged AS (
    SELECT event_type, event_id, value,
           substr(md5(CAST(event_id AS VARCHAR)), 1, 1)
               IN ({", ".join(f"'{c}'" for c in CONF_CAL_HEX)}) AS cal
    FROM events
), stats AS (
    SELECT event_type, count(*) AS n_cal,
           CAST(sum(CAST(value AS DECIMAL(25,4))) AS DOUBLE)
               / count(*) AS mu,
           ((count(*) + 1) * {CONF_ALPHA_NUM} + {CONF_ALPHA_DEN - 1})
               // {CONF_ALPHA_DEN} AS k_star
    FROM tagged WHERE cal GROUP BY event_type
), cal_r AS (
    SELECT t.event_type, s.n_cal, s.k_star,
           abs(t.value - s.mu) AS r,
           row_number() OVER (
               PARTITION BY t.event_type
               ORDER BY abs(t.value - s.mu), t.event_id) AS rn
    FROM tagged t JOIN stats s ON t.event_type = s.event_type
    WHERE t.cal
), tau AS (
    SELECT event_type, r AS tau FROM cal_r
    WHERE rn = least(k_star, n_cal)
)
SELECT t.event_type, max(s.n_cal) AS n_cal, count(*) AS n_test,
       max(x.tau) AS tau,
       CAST(sum(CASE WHEN abs(t.value - s.mu) <= x.tau
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
       CAST(sum(CASE WHEN abs(t.value - s.mu) <= x.tau
                     THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS coverage
FROM tagged t
JOIN stats s ON t.event_type = s.event_type
JOIN tau x ON t.event_type = x.event_type
WHERE NOT t.cal
GROUP BY t.event_type
"""


# --- Wilson score intervals ---------------------------------------------------

WILSON_Z = 1.959963984540054  # Phi^-1(0.975), frozen 16-digit literal
WILSON_LONG_CHARS = 256


def wilson_ci_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score 95% confidence interval (Wilson 1927) for each
    source's long-document rate — the interval that behaves at the
    boundaries (rate 0 or 1, tiny n) where the naive Wald interval
    p̂ ± z√(p̂(1−p̂)/n) collapses or escapes [0,1]; the per-source
    league table with honest uncertainty that ``eb_shrinkage_rates``
    then shrinks. z is a frozen 16-digit literal (the repo's RBO
    convention), not a runtime Φ⁻¹.

    Exactness: k and n are exact integers; center and half-width are
    fixed identical-order double arithmetic over them and the z
    literal, round 6 on display.

    Scale: ONE combinable conditional-count aggregation; the interval
    math runs on the |sources|-row relation.
    """
    docs = load_table(spark, sf_dir, "documents")
    agg = (docs.groupBy("source")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum((F.col("n_chars") > WILSON_LONG_CHARS)
                      .cast("long")).alias("k")))
    z = F.lit(WILSON_Z)
    n = F.col("n").cast("double")
    p = F.col("k").cast("double") / n
    denom = F.lit(1.0) + z * z / n
    center = (p + z * z / (F.lit(2.0) * n)) / denom
    half = (z * F.sqrt(p * (F.lit(1.0) - p) / n
                       + z * z / (F.lit(4.0) * n * n))) / denom
    return agg.select(
        "source", "n", "k", F.round(p, 6).alias("rate"),
        F.round(center - half, 6).alias("ci_lo"),
        F.round(center + half, 6).alias("ci_hi"))


WILSON_SQL = f"""
WITH agg AS (
    SELECT source, count(*) AS n,
           CAST(sum(CASE WHEN n_chars > {WILSON_LONG_CHARS}
                         THEN 1 ELSE 0 END) AS BIGINT) AS k
    FROM documents GROUP BY source
)
SELECT source, n, k,
       round(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate,
       round((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
              + {WILSON_Z!r} * {WILSON_Z!r} / (2.0 * CAST(n AS DOUBLE)))
             / (1.0 + {WILSON_Z!r} * {WILSON_Z!r} / CAST(n AS DOUBLE))
             - {WILSON_Z!r} * sqrt(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                   * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                   / CAST(n AS DOUBLE)
                   + {WILSON_Z!r} * {WILSON_Z!r}
                     / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
               / (1.0 + {WILSON_Z!r} * {WILSON_Z!r}
                        / CAST(n AS DOUBLE)), 6) AS ci_lo,
       round((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
              + {WILSON_Z!r} * {WILSON_Z!r} / (2.0 * CAST(n AS DOUBLE)))
             / (1.0 + {WILSON_Z!r} * {WILSON_Z!r} / CAST(n AS DOUBLE))
             + {WILSON_Z!r} * sqrt(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                   * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                   / CAST(n AS DOUBLE)
                   + {WILSON_Z!r} * {WILSON_Z!r}
                     / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
               / (1.0 + {WILSON_Z!r} * {WILSON_Z!r}
                        / CAST(n AS DOUBLE)), 6) AS ci_hi
FROM agg
"""


# --- capture-recapture population estimate ------------------------------------

CR_SAMPLE_A, CR_SAMPLE_B = "click", "view"


def capture_recapture_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lincoln-Petersen capture-recapture population estimate
    (Chapman 1951 bias-corrected form): treat the users who ever
    click and the users who ever view as two capture samples; from
    (n₁, n₂, overlap m) estimate the TOTAL user population
    N̂ = (n₁+1)(n₂+1)/(m+1) − 1 — the ecology estimator data teams
    reuse to size a population neither source covers fully (total
    users from two partial logs, total dupes from two dedup passes).
    Reported against the true distinct-user count with the relative
    error, in the KMV/bloom self-audit tradition.

    Exactness: set sizes and the overlap are exact integers; the
    estimate is one fixed-order double expression, round 6.

    Scale: three combinable distinct-aggregations (each one exchange
    over the user key); the estimator is a 1-row reduction.
    """
    ev = load_table(spark, sf_dir, "events")
    ua = (ev.filter(F.col("event_type") == CR_SAMPLE_A)
          .select("user_id").distinct())
    ub = (ev.filter(F.col("event_type") == CR_SAMPLE_B)
          .select("user_id").distinct())
    m = ua.join(ub, "user_id").agg(F.count(F.lit(1)).alias("m"))
    n1 = ua.agg(F.count(F.lit(1)).alias("n1"))
    n2 = ub.agg(F.count(F.lit(1)).alias("n2"))
    truth = ev.select("user_id").distinct().agg(
        F.count(F.lit(1)).alias("n_true"))
    est = ((F.col("n1") + 1).cast("double")
           * (F.col("n2") + 1).cast("double")
           / (F.col("m") + 1).cast("double") - F.lit(1.0))
    return (n1.crossJoin(n2).crossJoin(m)
            .crossJoin(truth)
            .select("n1", "n2", "m", "n_true",
                    F.round(est, 6).alias("n_estimate"),
                    F.round((est - F.col("n_true").cast("double"))
                            / F.col("n_true").cast("double"), 6)
                    .alias("rel_error")))


CAPTURE_RECAPTURE_SQL = f"""
WITH ua AS (SELECT DISTINCT user_id FROM events
            WHERE event_type = '{CR_SAMPLE_A}'),
ub AS (SELECT DISTINCT user_id FROM events
       WHERE event_type = '{CR_SAMPLE_B}'),
s AS (
    SELECT (SELECT count(*) FROM ua) AS n1,
           (SELECT count(*) FROM ub) AS n2,
           (SELECT count(*) FROM ua JOIN ub USING (user_id)) AS m,
           (SELECT count(DISTINCT user_id) FROM events) AS n_true
)
SELECT n1, n2, m, n_true,
       round(CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE)
             / CAST(m + 1 AS DOUBLE) - 1.0, 6) AS n_estimate,
       round((CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE)
              / CAST(m + 1 AS DOUBLE) - 1.0
              - CAST(n_true AS DOUBLE)) / CAST(n_true AS DOUBLE), 6)
           AS rel_error
FROM s
"""


# --- delete-one-group jackknife -----------------------------------------------

JK_GROUPS = 16


def jackknife_ratio_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-GROUP jackknife (Tukey 1958; the survey-statistics
    replicate-weights workhorse) for a RATIO statistic — chars per
    token over the corpus — where the naive per-row variance formula
    is wrong because a ratio of sums is not a mean of rows: split
    docs into 16 deterministic md5 groups, recompute the ratio with
    each group deleted from the group-sum table, and report
    se²_jack = (G−1)/G · Σ(R_g − R̄)². This is the BLB's cheap
    sibling: replicate cost is G group-sum subtractions, never a
    resample — the distributed uncertainty recipe for any
    sum-over-sum KPI.

    Exactness: char and token sums are exact integers per group;
    each leave-one-out ratio is ONE exact-operand division,
    round(·,6)-pinned → DECIMAL(25,6) so R̄ and the squared-deviation
    sum are order-exact; the final se is one sqrt.

    Scale: one combinable 16-group aggregation collapses the corpus;
    all replicate math runs on the 16-row group relation.
    """
    docs = load_table(spark, sf_dir, "documents")
    g = (F.conv(F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 15),
        16, 10).cast("bigint") % JK_GROUPS).alias("g")
    from ..functions.lineage import truncate_lineage

    # MATERIALIZED: the 16-row group-sum relation feeds three
    # branches (total, leave-one-out, deviations) — cut the lineage
    # so the corpus collapse runs once.
    grp = truncate_lineage(
        docs.select(g, "n_chars",
                    F.size(F.split("text", " ")).alias("n_tok"))
        .groupBy("g")
        .agg(F.sum("n_chars").alias("sc"),
             F.sum("n_tok").alias("st")))
    tot = grp.agg(F.sum("sc").alias("tc"), F.sum("st").alias("tt"),
                  F.count(F.lit(1)).alias("n_groups"))
    dec6 = "decimal(25,6)"
    loo = (grp.crossJoin(tot)
           .select("n_groups", "tc", "tt",
                   F.round((F.col("tc") - F.col("sc")).cast("double")
                           / (F.col("tt") - F.col("st")).cast("double"),
                           6).cast(dec6).alias("rg")))
    base = loo.groupBy("n_groups", "tc", "tt").agg(
        F.sum("rg").alias("sum_rg"))
    rbar = F.col("sum_rg").cast("double") / F.col("n_groups").cast("double")
    dev = (loo.join(F.broadcast(base.select(
        "n_groups", "sum_rg").withColumnRenamed("n_groups", "ng")),
        F.col("n_groups") == F.col("ng"))
        .select("n_groups", "tc", "tt",
                F.round((F.col("rg").cast("double")
                         - F.col("sum_rg").cast("double")
                         / F.col("n_groups").cast("double"))
                        * (F.col("rg").cast("double")
                           - F.col("sum_rg").cast("double")
                           / F.col("n_groups").cast("double")), 10)
                .cast("decimal(25,10)").alias("d2")))
    out = dev.groupBy("n_groups", "tc", "tt").agg(
        F.sum("d2").alias("ss"))
    gd = F.col("n_groups").cast("double")
    se = F.sqrt((gd - F.lit(1.0)) / gd * F.col("ss").cast("double"))
    r = F.col("tc").cast("double") / F.col("tt").cast("double")
    return out.select(
        F.col("n_groups"), F.round(r, 6).alias("ratio"),
        F.round(se, 6).alias("jackknife_se"),
        F.round(r - F.lit(WILSON_Z) * se, 6).alias("ci_lo"),
        F.round(r + F.lit(WILSON_Z) * se, 6).alias("ci_hi"))


JACKKNIFE_SQL = f"""
WITH grp AS (
    SELECT (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                ::BIGINT) % {JK_GROUPS} AS g,
           CAST(sum(n_chars) AS BIGINT) AS sc,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS st
    FROM documents GROUP BY 1
), tot AS (
    SELECT CAST(sum(sc) AS BIGINT) AS tc, CAST(sum(st) AS BIGINT) AS tt,
           count(*) AS n_groups
    FROM grp
), loo AS (
    SELECT t.n_groups, t.tc, t.tt,
           CAST(round(CAST(t.tc - g.sc AS DOUBLE)
                      / CAST(t.tt - g.st AS DOUBLE), 6)
                AS DECIMAL(25,6)) AS rg
    FROM grp g, tot t
), base AS (
    SELECT n_groups, tc, tt, sum(rg) AS sum_rg
    FROM loo GROUP BY 1, 2, 3
), dev AS (
    SELECT l.n_groups, l.tc, l.tt,
           CAST(round((CAST(l.rg AS DOUBLE)
                       - CAST(b.sum_rg AS DOUBLE)
                         / CAST(l.n_groups AS DOUBLE))
                      * (CAST(l.rg AS DOUBLE)
                         - CAST(b.sum_rg AS DOUBLE)
                           / CAST(l.n_groups AS DOUBLE)), 10)
                AS DECIMAL(25,10)) AS d2
    FROM loo l JOIN base b ON l.n_groups = b.n_groups
), out AS (
    SELECT n_groups, tc, tt, sum(d2) AS ss
    FROM dev GROUP BY 1, 2, 3
)
SELECT n_groups,
       round(CAST(tc AS DOUBLE) / CAST(tt AS DOUBLE), 6) AS ratio,
       round(sqrt((CAST(n_groups AS DOUBLE) - 1.0)
                  / CAST(n_groups AS DOUBLE)
                  * CAST(ss AS DOUBLE)), 6) AS jackknife_se,
       round(CAST(tc AS DOUBLE) / CAST(tt AS DOUBLE)
             - {WILSON_Z!r} * sqrt((CAST(n_groups AS DOUBLE) - 1.0)
                   / CAST(n_groups AS DOUBLE) * CAST(ss AS DOUBLE)), 6)
           AS ci_lo,
       round(CAST(tc AS DOUBLE) / CAST(tt AS DOUBLE)
             + {WILSON_Z!r} * sqrt((CAST(n_groups AS DOUBLE) - 1.0)
                   / CAST(n_groups AS DOUBLE) * CAST(ss AS DOUBLE)), 6)
           AS ci_hi
FROM out
"""


# --- Kruskal-Wallis k-sample test -----------------------------------------------


def kruskal_wallis_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test (1952) across ALL sources at once: do the
    per-source document-length distributions share a location, or is
    at least one shifted? The k-sample generalization of
    ``mann_whitney_auc`` (k = 2 reduces to it) and the
    distribution-free sibling of a one-way ANOVA — the omnibus gate
    run BEFORE pairwise comparisons so 20 sources don't spawn 190
    uncorrected tests.

    Exactness: the ``mann_whitney_auc`` doubled-rank trick per group
    — 2R_s = Σ_v c_sv·(2C_v + c_v + 1) is an exact integer (C_v the
    pooled cum-before, c_v the pooled tie count), so Σ R_s²/n_s =
    Σ (2R_s)²/(4n_s) is fixed arithmetic over exact integers; the tie
    correction 1 − Σ(t³−t)/(N³−N) likewise. (2R_s)² stays < 2⁶³ for
    per-stratum N up to ~40 M rows; beyond that, lift the square into
    DECIMAL(38,0).

    Scale: one (value × source) histogram aggregation collapses the
    corpus; the rank-prefix window runs on the pooled distinct-value
    histogram (the documented reduced-relation window), and the
    H statistic is a |sources|-row reduction.
    """
    from ..functions.lineage import truncate_lineage

    docs = load_table(spark, sf_dir, "documents")
    # MATERIALIZED: the (value × source) histogram feeds the pooled
    # rank table AND the per-source rank sums — cut the lineage so
    # the corpus collapses once.
    hist = truncate_lineage(
        docs.groupBy("n_chars", "source")
        .agg(F.count(F.lit(1)).alias("c_sv")))
    pooled = (hist.groupBy("n_chars")
              .agg(F.sum("c_sv").alias("c_v")))
    w = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, -1)
    ranked = pooled.select(
        "n_chars", "c_v",
        F.coalesce(F.sum("c_v").over(w), F.lit(0)).alias("cum"))
    per_src = (hist.join(ranked, "n_chars")
               .groupBy("source")
               .agg(F.sum("c_sv").alias("n_s"),
                    F.sum(F.col("c_sv")
                          * (F.lit(2) * F.col("cum") + F.col("c_v")
                             + F.lit(1))).alias("two_r")))
    ties = ranked.agg(
        F.sum("c_v").alias("n_total"),
        F.sum(F.col("c_v") * F.col("c_v") * F.col("c_v")
              - F.col("c_v")).alias("tie_term"))
    agg = (per_src.agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum(F.col("two_r").cast("double") * F.col("two_r").cast("double")
              / (F.lit(4.0) * F.col("n_s").cast("double")))
        .alias("sum_r2n"))
        .crossJoin(ties))
    nd = F.col("n_total").cast("double")
    h = (F.lit(12.0) / (nd * (nd + F.lit(1.0))) * F.col("sum_r2n")
         - F.lit(3.0) * (nd + F.lit(1.0)))
    corr = (F.lit(1.0) - F.col("tie_term").cast("double")
            / (nd * nd * nd - nd))
    return agg.select(
        "n_sources", "n_total",
        (F.col("n_sources") - F.lit(1)).alias("df"),
        F.round(h, 6).alias("h_stat"),
        F.round(h / corr, 6).alias("h_tie_corrected"))


KRUSKAL_WALLIS_SQL = """
WITH hist AS (
    SELECT n_chars, source, count(*) AS c_sv
    FROM documents GROUP BY n_chars, source
), pooled AS (
    SELECT n_chars, CAST(sum(c_sv) AS BIGINT) AS c_v
    FROM hist GROUP BY n_chars
), ranked AS (
    SELECT n_chars, c_v,
           COALESCE(sum(c_v) OVER (ORDER BY n_chars ROWS BETWEEN
                    UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
    FROM pooled
), per_src AS (
    SELECT h.source, CAST(sum(h.c_sv) AS BIGINT) AS n_s,
           CAST(sum(h.c_sv * (2 * r.cum + r.c_v + 1)) AS BIGINT)
               AS two_r
    FROM hist h JOIN ranked r ON h.n_chars = r.n_chars
    GROUP BY h.source
), ties AS (
    SELECT CAST(sum(c_v) AS BIGINT) AS n_total,
           CAST(sum(c_v * c_v * c_v - c_v) AS BIGINT) AS tie_term
    FROM ranked
), agg AS (
    SELECT count(*) AS n_sources,
           sum(CAST(two_r AS DOUBLE) * CAST(two_r AS DOUBLE)
               / (4.0 * CAST(n_s AS DOUBLE))) AS sum_r2n
    FROM per_src
)
SELECT a.n_sources, t.n_total, a.n_sources - 1 AS df,
       round(12.0 / (CAST(t.n_total AS DOUBLE)
                     * (CAST(t.n_total AS DOUBLE) + 1.0)) * a.sum_r2n
             - 3.0 * (CAST(t.n_total AS DOUBLE) + 1.0), 6) AS h_stat,
       round((12.0 / (CAST(t.n_total AS DOUBLE)
                      * (CAST(t.n_total AS DOUBLE) + 1.0)) * a.sum_r2n
              - 3.0 * (CAST(t.n_total AS DOUBLE) + 1.0))
             / (1.0 - CAST(t.tie_term AS DOUBLE)
                      / (CAST(t.n_total AS DOUBLE)
                         * CAST(t.n_total AS DOUBLE)
                         * CAST(t.n_total AS DOUBLE)
                         - CAST(t.n_total AS DOUBLE))), 6)
           AS h_tie_corrected
FROM agg a, ties t
"""


# --- skyline (Pareto frontier) --------------------------------------------------


def skyline_pareto_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE operator (Börzsönyi et al., ICDE 2001 — the classic
    relational operator Spark has no native verb for): the Pareto
    frontier of documents maximizing BOTH length (n_chars) and
    lexical richness (distinct-token count) — every doc for which no
    other doc is ≥ on both dimensions and > on at least one. The
    multi-objective shortlist pattern (quality vs cost, recall vs
    latency) that a top-k on any single weighted score cannot
    express, because the frontier is exactly the set of optima over
    ALL monotone weightings.

    The 2-D skyline needs NO pairwise join: sort-by-one-dimension +
    running-max-of-the-other (the SFS algorithm's core): a point is
    on the frontier iff its richness strictly exceeds the running max
    over all STRICTLY-longer groups AND equals its own length-group
    maximum (duplicates of a frontier point are all kept — dominance
    is strict in at least one dimension).

    Exactness: both dimensions and both running maxima are exact
    integers; membership is two integer comparisons.

    Scale: one per-row token-distinct expression, one combinable
    group-max over length, a window over the |distinct lengths|-sized
    group relation, and one broadcast join back — the corpus is
    touched twice, shuffled once. At 100 TB the group relation stays
    value-bounded.
    """
    docs = load_table(spark, sf_dir, "documents")
    pts = docs.select(
        "doc_id", F.col("n_chars").alias("c"),
        F.size(F.array_distinct(F.split("text", " "))).alias("t"))
    grp = pts.groupBy("c").agg(F.max("t").alias("gmax"))
    w = Window.orderBy(F.col("c").desc()).rowsBetween(
        Window.unboundedPreceding, -1)
    frontier = (grp.withColumn("m_before", F.max("gmax").over(w))
                .filter(F.col("m_before").isNull()
                        | (F.col("m_before") < F.col("gmax")))
                .select(F.col("c").alias("fc"),
                        F.col("gmax").alias("ft")))
    return (pts.join(frontier,
                     (F.col("c") == F.col("fc"))
                     & (F.col("t") == F.col("ft")))
            .select("doc_id", F.col("c").alias("n_chars"),
                    F.col("t").alias("n_distinct_tokens")))


SKYLINE_SQL = """
WITH pts AS (
    SELECT doc_id, n_chars AS c,
           len(list_distinct(string_split(text, ' '))) AS t
    FROM documents
), grp AS (
    SELECT c, max(t) AS gmax FROM pts GROUP BY c
), frontier AS (
    SELECT c, gmax FROM (
        SELECT c, gmax,
               max(gmax) OVER (ORDER BY c DESC ROWS BETWEEN
                               UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS m_before
        FROM grp
    ) WHERE m_before IS NULL OR m_before < gmax
)
SELECT p.doc_id, p.c AS n_chars, p.t AS n_distinct_tokens
FROM pts p JOIN frontier f ON p.c = f.c AND p.t = f.gmax
"""


# --- decile lift table ----------------------------------------------------------

LIFT_LONG_CHARS = 256
LIFT_DECILES = 10


def decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table — the model-evaluation readout a targeting /
    quality-ranking model ships with: rank all docs by the score
    (distinct-token richness), cut into 10 ntile deciles, and report
    each decile's long-doc rate plus the CUMULATIVE lift over the
    base rate — "the top 10% of the ranking captures X× its share of
    positives", the business-facing cousin of ROC-AUC
    (``mann_whitney_auc``) and calibration
    (``lang_confidence_calibration``).

    Exactness: ntile over the total order (score DESC, doc_id) is
    pure rank arithmetic with identical semantics in both engines;
    per-decile and cumulative counts are exact integers; rates and
    lifts are exact-operand divisions, round 6 on display.

    Scale: the global ntile is the documented reduced-relation
    single-partition window (``unigram_logprob_filter`` class) — at
    cluster scale swap it for decile bounds from approx quantiles of
    the score, which changes no output column.
    """
    docs = load_table(spark, sf_dir, "documents")
    pts = docs.select(
        "doc_id",
        F.size(F.array_distinct(F.split("text", " "))).alias("score"),
        (F.col("n_chars") > LIFT_LONG_CHARS).cast("long").alias("pos"))
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    tiled = pts.withColumn("decile", F.ntile(LIFT_DECILES).over(w))
    per = (tiled.groupBy("decile")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("pos").alias("n_pos")))
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    tot = per.agg(F.sum("n_docs").alias("tn"), F.sum("n_pos").alias("tp"))
    cum = (per.crossJoin(tot)
           .withColumn("cum_n", F.sum("n_docs").over(wc))
           .withColumn("cum_p", F.sum("n_pos").over(wc)))
    rate = F.col("n_pos").cast("double") / F.col("n_docs").cast("double")
    base = F.col("tp").cast("double") / F.col("tn").cast("double")
    cum_rate = F.col("cum_p").cast("double") / F.col("cum_n").cast("double")
    return cum.select(
        "decile", "n_docs",
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.round(rate, 6).alias("rate"),
        F.round(cum_rate / base, 6).alias("cum_lift"))


DECILE_LIFT_SQL = f"""
WITH pts AS (
    SELECT doc_id,
           len(list_distinct(string_split(text, ' '))) AS score,
           CASE WHEN n_chars > {LIFT_LONG_CHARS} THEN 1 ELSE 0 END
               AS pos
    FROM documents
), tiled AS (
    SELECT *, ntile({LIFT_DECILES})
               OVER (ORDER BY score DESC, doc_id) AS decile
    FROM pts
), per AS (
    SELECT decile, count(*) AS n_docs,
           CAST(sum(pos) AS BIGINT) AS n_pos
    FROM tiled GROUP BY decile
), tot AS (
    SELECT CAST(sum(n_docs) AS BIGINT) AS tn,
           CAST(sum(n_pos) AS BIGINT) AS tp
    FROM per
), cum AS (
    SELECT p.*, t.tn, t.tp,
           sum(n_docs) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED
                             PRECEDING AND CURRENT ROW) AS cum_n,
           sum(n_pos) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED
                            PRECEDING AND CURRENT ROW) AS cum_p
    FROM per p, tot t
)
SELECT decile, n_docs, n_pos,
       round(CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
           AS rate,
       round((CAST(cum_p AS DOUBLE) / CAST(cum_n AS DOUBLE))
             / (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)), 6)
           AS cum_lift
FROM cum
"""


# --- grouped OLS line fit -------------------------------------------------


def grouped_ols_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type ordinary-least-squares line fit of event value
    against hour-of-day — the grouped closed-form regression every
    metrics warehouse ships (does value drift across the day, and
    which event types disagree?). slope = (nΣxy − ΣxΣy)/(nΣxx −
    (Σx)²), intercept = (Σy − slope·Σx)/n, from sufficient moments
    only — no per-row residual pass.

    Exactness: the float moments are PRODUCT-FREE by construction —
    the engine first collapses to the (type, hour) grid with n_h and
    the decimal-pinned Σy_h (raw values, the safe dsum case), then
    Σxy = Σ h·S_h and Σxx = Σ h²·n_h are EXACT integer×decimal
    products over ≤24 rows per group (casting a float PRODUCT to
    decimal is the known cross-engine tie hazard — structurally
    avoided); the closed form is fixed-order double arithmetic over
    identical operands, round 8.

    Scale: two combinable aggregations (fact → 24·|types| grid →
    |types| moments); nothing else moves.
    """
    ev = load_table(spark, sf_dir, "events")
    grid = (ev.select(
        "event_type",
        (F.expr("unix_micros(ts) div 3600000000") % 24).alias("h"),
        F.col("value"))
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("n_h"),
             # r10: corpus-level exact sum on longs; scale 6 instead of
             # 4 downstream — every grid-level product/sum stays exact
             # decimal, so the final double casts are unchanged.
             split_sum(scaled_long("value"), 10 ** 4).alias("s_h")))
    mom = grid.groupBy("event_type").agg(
        F.sum("n_h").alias("n"),
        F.sum(F.col("n_h") * F.col("h")).alias("sx"),
        F.sum(F.col("n_h") * F.col("h") * F.col("h")).alias("sxx"),
        F.sum("s_h").alias("sy"),
        F.sum(F.col("h") * F.col("s_h")).alias("sxy"))
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return mom.select(
        "event_type", "n",
        F.round(slope, 8).alias("slope"),
        F.round((sy - slope * sx) / n, 8).alias("intercept"))


GROUPED_OLS_SQL = f"""
WITH grid AS (
    SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS h,
           count(*) AS n_h,
           sum(CAST(value AS {SQL_DEC})) AS s_h
    FROM events GROUP BY 1, 2
), mom AS (
    SELECT event_type,
           CAST(sum(n_h) AS BIGINT) AS n,
           CAST(sum(n_h * h) AS BIGINT) AS sx,
           CAST(sum(n_h * h * h) AS BIGINT) AS sxx,
           sum(s_h) AS sy,
           sum(h * s_h) AS sxy
    FROM grid GROUP BY 1
)
SELECT event_type, n,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 8)
           AS slope,
       round((CAST(sy AS DOUBLE)
              - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 8)
           AS intercept
FROM mom
"""


# --- Hill tail-index estimator --------------------------------------------

HILL_KS = (5, 10, 25, 50, 100)


def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the power-law tail index (Hill 1975) of the
    per-user activity distribution — α̂(k) = k / Σ_{i≤k} ln(x_(i) /
    x_(k+1)) over the k largest user event counts — at the
    conventional ladder of k values. This is the quantitative form of
    'how heavy is the power-user tail': α near 1 means the top users
    dominate total volume (plan for skew-salting and per-key caps),
    large α means the tail is benign. The k-ladder IS the standard
    Hill-plot diagnostic (read α where the ladder stabilizes); rungs
    with fewer than k+1 users are absent by construction.

    Exactness: order statistics come from a row_number over the exact
    (count DESC, user_id) total order; each ln term is ln of one
    exact integer ratio (division of identical operands is correctly
    rounded in both engines), pinned at round 10 and summed as
    DECIMAL(25,10) — order-insensitive; α is one division, round 6.

    Scale: the corpus collapses to the per-user count relation in one
    combinable aggregation; the ranking window runs on that reduced
    relation (|users| rows, not |events|) — at 100 TB you first
    pre-filter to counts above a coarse threshold so the window input
    is the tail candidate set, which preserves the top-(k+1) order
    statistics exactly.
    """
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("x"))
    w = Window.orderBy(F.desc("x"), F.asc("user_id"))
    ranked = (counts.withColumn(
        "i", F.row_number().over(w).cast("bigint"))
        .filter(F.col("i") <= max(HILL_KS) + 1))
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in HILL_KS])).alias("k"))
    thresh = (ks.join(ranked, ks.k + 1 == ranked.i)
              .select("k", F.col("x").alias("x_k1")))
    terms = (thresh.join(ranked, F.col("i") <= F.col("k"))
             .select("k", "x_k1",
                     F.round(F.log(F.col("x") / F.col("x_k1")), 10)
                     .cast("decimal(25,10)").alias("t")))
    return (terms.groupBy("k", "x_k1")
            .agg(F.sum("t").alias("s"))
            .select(F.col("k").cast("bigint").alias("k"), "x_k1",
                    F.round(F.col("k") / F.col("s").cast("double"), 6)
                    .alias("alpha")))


_HILL_KS_SQL = ", ".join(str(k) for k in HILL_KS)

HILL_TAIL_SQL = f"""
WITH counts AS (
    SELECT user_id, count(*) AS x FROM events GROUP BY 1
), ranked AS (
    SELECT x, row_number() OVER (ORDER BY x DESC, user_id) AS i
    FROM counts
    QUALIFY i <= {max(HILL_KS) + 1}
), ks AS (
    SELECT unnest([{_HILL_KS_SQL}]) AS k
), thresh AS (
    SELECT k, r.x AS x_k1
    FROM ks JOIN ranked r ON k + 1 = r.i
), terms AS (
    SELECT k, x_k1,
           CAST(round(ln(r.x / CAST(x_k1 AS DOUBLE)), 10)
                AS DECIMAL(25,10)) AS t
    FROM thresh JOIN ranked r ON r.i <= k
)
SELECT CAST(k AS BIGINT) AS k, x_k1,
       round(k / CAST(sum(t) AS DOUBLE), 6) AS alpha
FROM terms GROUP BY k, x_k1
"""


# --- median-of-means robust estimator -------------------------------------

MOM_BUCKETS = 16


def median_of_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-of-means robust mean estimator (Nemirovsky & Yudin 1983;
    the sub-Gaussian workhorse of modern robust statistics): event
    values are md5-routed into 16 deterministic buckets, each bucket's
    mean is computed, and the estimate is the rank-exact MEDIAN of the
    bucket means — one adversarial bucket can move MoM by at most one
    rank position where it moves the plain mean unboundedly. Output is
    the one-row comparison panel: n, buckets, MoM, plain mean, and
    the |shift| between them (large shift ⇒ heavy-tail / outlier
    contamination; cf. `mad_outlier_events`, `winsorized_stats`).

    Exactness: bucket sums are decimal-pinned (the dsum rule); each
    bucket mean is one division; the median is the average of the two
    middle order statistics under a total (mean, bucket) order —
    rank-selected, not averaged floats.

    Scale: one combinable 16-group aggregation over the fact table;
    the median runs on 16 rows.
    """
    ev = load_table(spark, sf_dir, "events")
    sub = (F.conv(F.substring(
        F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint") % MOM_BUCKETS).alias("b")
    means = (ev.select(sub, F.col("value"))
             .groupBy("b")
             .agg(F.count(F.lit(1)).alias("n_b"),
                  (split_sum(scaled_long("value"), 10 ** 4).cast("double")
                   / F.count(F.lit(1))).alias("m")))
    w = Window.orderBy("m", "b")
    ranked = means.withColumn("r", F.row_number().over(w))
    lo = MOM_BUCKETS // 2
    hi = lo + 1
    med = (ranked.filter(F.col("r").isin(lo, hi))
           .agg((F.sum("m") / F.lit(2.0)).alias("mom")))
    overall = ev.agg(
        F.count(F.lit(1)).alias("n"),
        (split_sum(scaled_long("value"), 10 ** 4).cast("double")
         / F.count(F.lit(1))).alias("plain_mean"))
    return (overall.crossJoin(med)
            .select("n", F.lit(MOM_BUCKETS).alias("n_buckets"),
                    F.round(F.col("mom"), 10).alias("mom"),
                    F.round(F.col("plain_mean"), 10).alias("plain_mean"),
                    F.round(F.abs(F.col("mom")
                                  - F.col("plain_mean")), 10)
                    .alias("abs_shift")))


MEDIAN_OF_MEANS_SQL = f"""
WITH means AS (
    SELECT ('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15))
               ::BIGINT % {MOM_BUCKETS} AS b,
           count(*) AS n_b,
           CAST(sum(CAST(value AS {SQL_DEC})) AS DOUBLE) / count(*)
               AS m
    FROM events GROUP BY 1
), ranked AS (
    SELECT *, row_number() OVER (ORDER BY m, b) AS r FROM means
), med AS (
    SELECT CAST(sum(m) AS DOUBLE) / 2.0 AS mom
    FROM ranked
    WHERE r IN ({MOM_BUCKETS // 2}, {MOM_BUCKETS // 2 + 1})
), overall AS (
    SELECT count(*) AS n,
           CAST(sum(CAST(value AS {SQL_DEC})) AS DOUBLE) / count(*)
               AS plain_mean
    FROM events
)
SELECT n, {MOM_BUCKETS} AS n_buckets,
       round(mom, 10) AS mom,
       round(plain_mean, 10) AS plain_mean,
       round(abs(mom - plain_mean), 10) AS abs_shift
FROM overall, med
"""


# --- A/B power analysis / minimal detectable effect -----------------------

# Frozen normal quantiles (z_{alpha/2} at alpha=0.05 two-sided; z_beta at
# 80% power) — literals so both engines inline identical doubles; the
# repo never evaluates an inverse normal CDF at runtime.
MDE_Z_ALPHA = 1.959963984540054
MDE_Z_BETA = 0.8416212335729143


def power_mde_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment-sizing readout for the engine's A/B family: given
    the md5-deterministic 50/50 user split and the measured baseline
    conversion rate, the MINIMAL DETECTABLE EFFECT the current sample
    supports at α=0.05 / 80% power — MDE = (z_{α/2}+z_β)·√(p(1−p)·
    (1/n₁+1/n₂)) (the standard two-proportion approximation, e.g.
    Cohen 1988) — in absolute and relative form, plus the per-arm n
    needed to detect a 1-point absolute lift. This is the pre-test
    companion the post-hoc tests (`ab_test_proportions`,
    `ab_split_welch_ttest`, `logrank_conversion_arms`) assume was
    read first: an experiment whose MDE exceeds the plausible effect
    is dead before launch.

    Exactness: arm sizes and conversions are exact integers; p and
    the MDE are fixed-shape double expressions over frozen quantile
    literals, round 6.

    Scale: one combinable per-user aggregation, then a 2-row arm
    rollup; the planner output is one row.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = (ev.groupBy("user_id")
                .agg(F.max(F.when(F.col("event_type") == "purchase", 1)
                           .otherwise(0)).alias("converted")))
    arm = (F.conv(F.substring(
        F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint") % 2).alias("arm")
    arms = (per_user.select(arm, "converted")
            .groupBy("arm")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("converted").alias("conv")))
    wide = arms.agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n"))).alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("n"))).alias("n2"),
        F.sum(F.col("conv")).alias("c_all"),
        F.sum(F.col("n")).alias("n_all"))
    p = F.col("c_all").cast("double") / F.col("n_all").cast("double")
    zsum = F.lit(MDE_Z_ALPHA + MDE_Z_BETA)
    mde = zsum * F.sqrt(p * (F.lit(1.0) - p)
                        * (F.lit(1.0) / F.col("n1").cast("double")
                           + F.lit(1.0) / F.col("n2").cast("double")))
    n_needed = (zsum * zsum) * (F.lit(2.0) * p * (F.lit(1.0) - p)) \
        / F.lit(1e-4)
    return wide.select(
        "n1", "n2",
        F.round(p, 10).alias("p_pooled"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / p, 6).alias("mde_rel"),
        F.ceil(n_needed).cast("bigint").alias("n_per_arm_for_1pt"))


POWER_MDE_SQL = f"""
WITH per_user AS (
    SELECT user_id,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
    FROM events GROUP BY 1
), arms AS (
    SELECT ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
               ::BIGINT % 2 AS arm,
           count(*) AS n, CAST(sum(converted) AS BIGINT) AS conv
    FROM per_user GROUP BY 1
), wide AS (
    SELECT CAST(sum(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n1,
           CAST(sum(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n2,
           CAST(sum(conv) AS BIGINT) AS c_all,
           CAST(sum(n) AS BIGINT) AS n_all
    FROM arms
)
SELECT n1, n2,
       round(CAST(c_all AS DOUBLE) / CAST(n_all AS DOUBLE), 10)
           AS p_pooled,
       round(({MDE_Z_ALPHA!r} + {MDE_Z_BETA!r})
             * sqrt((CAST(c_all AS DOUBLE) / CAST(n_all AS DOUBLE))
                    * (1.0 - CAST(c_all AS DOUBLE)
                             / CAST(n_all AS DOUBLE))
                    * (1.0 / CAST(n1 AS DOUBLE)
                       + 1.0 / CAST(n2 AS DOUBLE))), 6) AS mde_abs,
       round((({MDE_Z_ALPHA!r} + {MDE_Z_BETA!r})
              * sqrt((CAST(c_all AS DOUBLE) / CAST(n_all AS DOUBLE))
                     * (1.0 - CAST(c_all AS DOUBLE)
                              / CAST(n_all AS DOUBLE))
                     * (1.0 / CAST(n1 AS DOUBLE)
                        + 1.0 / CAST(n2 AS DOUBLE))))
             / (CAST(c_all AS DOUBLE) / CAST(n_all AS DOUBLE)), 6)
           AS mde_rel,
       CAST(ceil((({MDE_Z_ALPHA!r} + {MDE_Z_BETA!r})
                  * ({MDE_Z_ALPHA!r} + {MDE_Z_BETA!r}))
                 * (2.0 * (CAST(c_all AS DOUBLE)
                           / CAST(n_all AS DOUBLE))
                    * (1.0 - CAST(c_all AS DOUBLE)
                             / CAST(n_all AS DOUBLE)))
                 / 0.0001) AS BIGINT) AS n_per_arm_for_1pt
FROM wide
"""
