"""Extended SQL-function surface: ordered string aggregation, boolean
aggregates, error-safe (``try_``) arithmetic, regression metrics from
exact moments, a time-hierarchy rollup, and URL parsing.

The reference's only scalar surface is lowercase + leading-alnum trim
(mapreduce.c:50-61) and its only aggregate is the list-append upsert
(mapreduce.c:168-185); everything here is north-star query surface the
new engine exposes on the same testdata tables (SURVEY.md §2.3
'Scalar fns' / 'Aggregation').

Cross-engine exactness follows the repo playbook: decimal-routed sums,
identical double expression trees on both engines, round-before-compare
for quotients, and no unordered float accumulation anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import (dsum, scaled_long, split_sum,
                                 split_sum_wide, sql_dsum)
from ..sources.tables import load_table


# --- ordered string aggregation (listagg / string_agg) --------------------

def ordered_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation roster of high-balance customers as one ordered,
    comma-joined string — the ``listagg(...) WITHIN GROUP (ORDER BY)``
    surface (Spark 4).

    Scale note: like the reference's posting-list aggregate, listagg
    state grows with group size, so the selective filter comes FIRST
    (pushed to the scan) and bounds each group; for unbounded inputs
    prefer the capped top-k formulation (``index_top_docs``).
    """
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal") > 9000)
    nation = load_table(spark, sf_dir, "nation")
    joined = cust.join(nation,
                       cust.c_nationkey == nation.n_nationkey)
    return (joined.groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n_rich"),
                 F.expr("listagg(c_name, ',') WITHIN GROUP (ORDER BY c_name)")
                 .alias("roster")))


ORDERED_LISTAGG_SQL = """
SELECT n_name,
       count(*) AS n_rich,
       string_agg(c_name, ',' ORDER BY c_name) AS roster
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > 9000
GROUP BY n_name
"""


# --- boolean aggregates ---------------------------------------------------

def boolean_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``bool_and`` / ``bool_or`` / ``count_if`` per order priority.
    All three are trivially map-side combinable (AND/OR/sum monoids),
    so the plan is a partial-agg + single exchange at any scale."""
    orders = load_table(spark, sf_dir, "orders")
    return (orders.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.bool_and(F.col("o_totalprice") > 1000)
                 .alias("all_over_1k"),
                 F.bool_or(F.col("o_totalprice") > 450000)
                 .alias("any_jumbo"),
                 F.count_if(F.col("o_totalprice") > 250000)
                 .alias("n_big")))


BOOLEAN_AGGREGATES_SQL = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       bool_and(o_totalprice > 1000) AS all_over_1k,
       bool_or(o_totalprice > 450000) AS any_jumbo,
       count(*) FILTER (o_totalprice > 250000) AS n_big
FROM orders GROUP BY o_orderpriority
"""


# --- error-safe arithmetic (try_ functions) -------------------------------

def try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``try_divide`` under ANSI mode: division by zero yields NULL
    instead of failing the job — the dirty-data contract for arithmetic
    (same posture as ``malformed_json_resilience`` for parsing).

    The aggregate avoids summing quotients (binary→decimal tie-rounding
    differs across engines); min/max over 6-dp-rounded quotients are
    order-insensitive and engine-exact.
    """
    li = load_table(spark, sf_dir, "lineitem")
    ratio = F.try_divide(F.col("l_extendedprice"),
                         F.col("l_quantity") - F.lit(25.0))
    return (li.select("l_returnflag", ratio.alias("ratio"))
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.count_if(F.col("ratio").isNull()).alias("n_div_zero"),
                 F.min(F.round("ratio", 6)).alias("min_ratio"),
                 F.max(F.round("ratio", 6)).alias("max_ratio")))


TRY_ARITHMETIC_SQL = """
WITH base AS (
    SELECT l_returnflag,
           CASE WHEN l_quantity = 25 THEN NULL
                ELSE l_extendedprice / (l_quantity - 25) END AS ratio
    FROM lineitem
)
SELECT l_returnflag,
       count(*) AS n_rows,
       count(*) FILTER (ratio IS NULL) AS n_div_zero,
       min(round(ratio, 6)) AS min_ratio,
       max(round(ratio, 6)) AS max_ratio
FROM base GROUP BY l_returnflag
"""


# --- regression aggregates from exact moments -----------------------------

def regression_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS regression of extended price on quantity per return flag —
    the ``regr_slope`` / ``regr_intercept`` / ``regr_r2`` surface,
    computed from exact decimal moment sums (Σx, Σy, Σx², Σy², Σxy)
    rather than the built-in one-pass aggregates, whose float
    accumulation order is engine- and partition-dependent. The moment
    sums are map-side combinable → one exchange at any scale; the
    closed-form division happens on the five finished moments.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # r10: exact moments on longs (numeric.py rationale); squared
    # per-row magnitudes reach ~2^60, hence the wide 3-way split.
    ux = scaled_long("l_quantity")
    uy = scaled_long("l_extendedprice")
    base = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        split_sum(ux, 10 ** 4).cast("double").alias("sx"),
        split_sum(uy, 10 ** 4).cast("double").alias("sy"),
        split_sum_wide(ux * ux, 10 ** 8).cast("double").alias("sxx"),
        split_sum_wide(uy * uy, 10 ** 8).cast("double").alias("syy"),
        split_sum_wide(ux * uy, 10 ** 8).cast("double").alias("sxy"),
    )
    n = F.col("n")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den_x = n * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = n * F.col("syy") - F.col("sy") * F.col("sy")
    slope = num / den_x
    return base.select(
        "l_returnflag", "n",
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 6).alias("intercept"),
        F.round(num * num / (den_x * den_y), 6).alias("r2"),
    )


REGRESSION_METRICS_SQL = """
WITH base AS (
    SELECT l_returnflag,
           count(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))
                    * CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,4))
                    * CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE) AS syy,
           CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))
                    * CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE) AS sxy
    FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope,
       round((sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n, 6)
           AS intercept,
       round((n*sxy - sx*sy) * (n*sxy - sx*sy)
             / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS r2
FROM base
"""


# --- time-hierarchy rollup (hypertable-style) -----------------------------

def time_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity event rollup: one pass produces day, month,
    year, and grand-total aggregates via ROLLUP over the calendar
    hierarchy (the hypertable 'continuous aggregate' shape). GROUPING()
    flags disambiguate rollup nulls. Count + decimal sum are both
    combinable, so each grain is a partial-agg over the same scan."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(F.year("ts").alias("y"),
                     F.month("ts").alias("m"),
                     F.dayofmonth("ts").alias("d"),
                     "value")
    return (base.rollup("y", "m", "d")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 dsum("value", "sum_value"),
                 F.grouping("y").cast("int").alias("g_y"),
                 F.grouping("m").cast("int").alias("g_m"),
                 F.grouping("d").cast("int").alias("g_d")))


TIME_HIERARCHY_SQL = f"""
WITH base AS (
    SELECT CAST(date_part('year', ts) AS INT) AS y,
           CAST(date_part('month', ts) AS INT) AS m,
           CAST(date_part('day', ts) AS INT) AS d,
           value
    FROM events
)
SELECT y, m, d,
       count(*) AS n_events,
       {sql_dsum('value', 'sum_value')},
       CAST(GROUPING(y) AS INT) AS g_y,
       CAST(GROUPING(m) AS INT) AS g_m,
       CAST(GROUPING(d) AS INT) AS g_d
FROM base GROUP BY ROLLUP(y, m, d)
"""


# --- URL parsing surface --------------------------------------------------

def url_parse_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``parse_url`` component extraction (HOST / PATH / QUERY param)
    over deterministic catalog URLs synthesized per part row. Pure
    projection — zero shuffles, trivially scalable; the oracle replays
    the extraction with regexes since DuckDB has no parse_url."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 200)
    url = F.format_string(
        "https://shop.example.com/%s/%d?brand=%s&size=%d",
        F.lower(F.regexp_replace("p_type", " ", "-")),
        F.col("p_partkey"),
        F.regexp_replace("p_brand", "#", ""),
        F.col("p_size"))
    with_url = part.select("p_partkey", url.alias("url"))
    return with_url.select(
        "p_partkey", "url",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("brand")).alias("q_brand"),
        F.parse_url("url", F.lit("QUERY"), F.lit("size")).cast("int")
        .alias("q_size"))


URL_PARSE_SQL = """
WITH with_url AS (
    SELECT p_partkey,
           printf('https://shop.example.com/%s/%d?brand=%s&size=%d',
                  lower(replace(p_type, ' ', '-')), p_partkey,
                  replace(p_brand, '#', ''), p_size) AS url
    FROM part WHERE p_partkey <= 200
)
SELECT p_partkey, url,
       regexp_extract(url, '^https://([^/]+)', 1) AS host,
       regexp_extract(url, '^https://[^/]+(/[^?]*)', 1) AS path,
       regexp_extract(url, '[?&]brand=([^&]*)', 1) AS q_brand,
       CAST(regexp_extract(url, '[?&]size=([^&]*)', 1) AS INT) AS q_size
FROM with_url
"""


# --- recursive CTE (Spark 4) ----------------------------------------------

def recursive_cte_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``WITH RECURSIVE`` (Spark 4): explode each large order into a
    halving installment schedule until installments drop below 1000.
    Iteration count is data-bounded (~log2 of the price) and each step
    is a narrow projection over the previous frontier, so the recursion
    adds no shuffles beyond the seed scan. Halving a double is exact
    (exponent decrement), so results are engine-identical unrounded."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_rc")
    return spark.sql("""
        WITH RECURSIVE sched(o_orderkey, lvl, amount) AS (
            SELECT o_orderkey, CAST(0 AS INT), o_totalprice
            FROM orders_rc WHERE o_totalprice > 400000
            UNION ALL
            SELECT o_orderkey, lvl + 1, amount / 2
            FROM sched WHERE amount / 2 >= 1000 AND lvl < 20
        )
        SELECT o_orderkey, lvl, amount FROM sched
    """)


RECURSIVE_CTE_SPLIT_SQL = """
WITH RECURSIVE sched(o_orderkey, lvl, amount) AS (
    SELECT o_orderkey, CAST(0 AS INT), o_totalprice
    FROM orders WHERE o_totalprice > 400000
    UNION ALL
    SELECT o_orderkey, lvl + 1, amount / 2
    FROM sched WHERE amount / 2 >= 1000 AND lvl < 20
)
SELECT o_orderkey, lvl, amount FROM sched
"""


# --- parameterized SQL (Spark 4 named args) -------------------------------

def parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter ``spark.sql(..., args=...)`` — the injection-safe
    templating surface (parameters are bound as literals by the parser,
    never string-spliced). Same plan as the literal query: the bound
    predicate still pushes to the parquet scan."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_param")
    return spark.sql(
        """
        SELECT c_mktsegment,
               count(*) AS n_rich,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(25,4))) AS DOUBLE)
                   AS sum_bal
        FROM customer_param
        WHERE c_acctbal > :min_bal
        GROUP BY c_mktsegment
        """,
        args={"min_bal": 9500})


PARAMETERIZED_SQL_SQL = """
SELECT c_mktsegment,
       count(*) AS n_rich,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(25,4))) AS DOUBLE) AS sum_bal
FROM customer
WHERE c_acctbal > 9500
GROUP BY c_mktsegment
"""


# --- null-handling conditional surface ------------------------------------

def null_handling_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """coalesce / nvl2 / nullif / greatest / least over injected NULLs
    (``nullif`` manufactures them deterministically). Spark and DuckDB
    share Postgres semantics here: greatest/least skip NULLs and return
    NULL only when every argument is NULL. Pure projection + one
    combinable aggregate."""
    sup = load_table(spark, sf_dir, "supplier")
    # balance with negatives nulled out — deterministic NULL injection
    pos_bal = F.when(F.col("s_acctbal") > 0, F.col("s_acctbal"))
    return (sup.select(
        "s_suppkey",
        F.coalesce(pos_bal, F.lit(0.0)).alias("bal_or_zero"),
        F.nvl2(pos_bal, F.lit("credit"), F.lit("debit")).alias("polarity"),
        F.nullif(F.col("s_nationkey") % 5, F.lit(0)).alias("mod5_nz"),
        F.greatest(pos_bal, F.lit(1000.0)).alias("floor_1k"),
        F.least(pos_bal, F.lit(5000.0)).alias("cap_5k")))


NULL_HANDLING_SQL = """
WITH base AS (
    SELECT s_suppkey, s_nationkey,
           CASE WHEN s_acctbal > 0 THEN s_acctbal END AS pos_bal
    FROM supplier
)
SELECT s_suppkey,
       coalesce(pos_bal, 0.0) AS bal_or_zero,
       CASE WHEN pos_bal IS NOT NULL THEN 'credit' ELSE 'debit' END
           AS polarity,
       nullif(s_nationkey % 5, 0) AS mod5_nz,
       greatest(pos_bal, 1000.0) AS floor_1k,
       least(pos_bal, 5000.0) AS cap_5k
FROM base
"""


# --- string functions, phase 2 --------------------------------------------

def string_functions2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second tranche of the string surface: split_part / translate /
    overlay / repeat / lpad / reverse / left / right / ascii / chr.
    Zero-shuffle projection over a dim table; the oracle emulates
    ``overlay`` (absent in DuckDB) with a substr splice."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 300)
    return part.select(
        "p_partkey",
        F.split_part("p_type", F.lit(" "), F.lit(1)).alias("type_head"),
        F.translate("p_brand", "#", "-").alias("brand_dashed"),
        F.overlay("p_name", F.lit("***"), F.lit(2)).alias("name_masked"),
        F.repeat(F.lit("*"), F.col("p_size") % 5).alias("size_stars"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("key_padded"),
        F.reverse("p_brand").alias("brand_rev"),
        F.left("p_name", F.lit(3)).alias("name_l3"),
        F.right("p_name", F.lit(3)).alias("name_r3"),
        F.ascii("p_type").cast("int").alias("type_ascii0"),
        F.chr(F.lit(65) + F.col("p_partkey") % 26).alias("key_letter"))


STRING_FUNCTIONS2_SQL = """
SELECT p_partkey,
       split_part(p_type, ' ', 1) AS type_head,
       translate(p_brand, '#', '-') AS brand_dashed,
       substr(p_name, 1, 1) || '***' || substr(p_name, 5) AS name_masked,
       repeat('*', CAST(p_size % 5 AS INT)) AS size_stars,
       lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_padded,
       reverse(p_brand) AS brand_rev,
       left(p_name, 3) AS name_l3,
       right(p_name, 3) AS name_r3,
       ascii(p_type) AS type_ascii0,
       chr(65 + CAST(p_partkey % 26 AS INT)) AS key_letter
FROM part WHERE p_partkey <= 300
"""


# --- date/interval arithmetic ---------------------------------------------

def date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar arithmetic surface: interval add, month-end clamping
    (``add_months``), last_day / next_day, quarter / ISO week, and
    constructed dates (``make_date``). Pure projection — dates surface
    as ISO strings so both engines compare textually. Spark's
    ``dayofweek`` is 1=Sunday; DuckDB's is 0=Sunday (+1 in the twin).
    ``next_day`` (absent in DuckDB) is replayed with modular dow math.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") <= 2000)
    d = F.to_date("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.date_format(d, "yyyy-MM-dd").alias("order_date"),
        F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("plus_30d"),
        F.date_format(F.add_months(d, 1), "yyyy-MM-dd").alias("plus_1m"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.next_day(d, "Mon"), "yyyy-MM-dd").alias("next_mon"),
        F.quarter(d).cast("int").alias("qtr"),
        F.weekofyear(d).cast("int").alias("iso_week"),
        F.dayofweek(d).cast("int").alias("dow_sun1"),
        F.date_format(
            F.make_date(F.year(d), F.month(d), F.lit(1)), "yyyy-MM-dd")
        .alias("month_start"))


DATE_ARITHMETIC_SQL = """
WITH base AS (
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
    FROM orders WHERE o_orderkey <= 2000
)
SELECT o_orderkey,
       strftime(d, '%Y-%m-%d') AS order_date,
       -- integer day-add, NOT to_days(30): DuckDB 1.0 interval
       -- equality says to_months(1) = to_days(30), so CSE would unify
       -- the two adds and break the month-clamped result
       strftime(d + 30, '%Y-%m-%d') AS plus_30d,
       strftime(d + to_months(1), '%Y-%m-%d') AS plus_1m,
       strftime(last_day(d), '%Y-%m-%d') AS month_end,
       strftime(d + to_days(CAST(((8 - isodow(d)) % 7) AS INT))
                  + CASE WHEN ((8 - isodow(d)) % 7) = 0
                         THEN to_days(7) ELSE to_days(0) END,
                '%Y-%m-%d') AS next_mon,
       quarter(d) AS qtr,
       CAST(week(d) AS INT) AS iso_week,
       CAST(dayofweek(d) + 1 AS INT) AS dow_sun1,
       strftime(make_date(CAST(year(d) AS INT), CAST(month(d) AS INT), 1),
                '%Y-%m-%d') AS month_start
FROM base
"""


# --- bitwise surface ------------------------------------------------------

def bitwise_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar + aggregate surface: AND/OR/XOR, shifts,
    ``bit_count``, and the ``bit_and``/``bit_or``/``bit_xor``
    aggregates — the primitive kit for bitmap-style presence masks
    (e.g. compact per-key feature flags at 100 TB). All combinable."""
    li = load_table(spark, sf_dir, "lineitem")
    flags = (F.shiftleft(F.col("l_linenumber").cast("bigint") % 4, 2)
             .bitwiseOR(F.col("l_suppkey") % 4))
    return (li.select(
        "l_returnflag",
        flags.alias("flags"),
        F.bit_count(F.col("l_partkey")).cast("int").alias("key_bits"))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.bit_and("flags").alias("flags_and"),
             F.bit_or("flags").alias("flags_or"),
             F.bit_xor("flags").alias("flags_xor"),
             F.sum("key_bits").alias("total_key_bits")))


BITWISE_SURFACE_SQL = """
WITH base AS (
    SELECT l_returnflag,
           ((l_linenumber % 4) << 2) | (l_suppkey % 4) AS flags,
           CAST(bit_count(l_partkey) AS INT) AS key_bits
    FROM lineitem
)
SELECT l_returnflag,
       count(*) AS n_rows,
       bit_and(flags) AS flags_and,
       bit_or(flags) AS flags_or,
       bit_xor(flags) AS flags_xor,
       CAST(sum(key_bits) AS BIGINT) AS total_key_bits
FROM base GROUP BY l_returnflag
"""


# --- regexp surface, phase 2 ----------------------------------------------

def regexp_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``regexp_count`` / ``regexp_substr`` / ``regexp_instr`` (Spark
    3.5+) over document text: vowel-run occurrences per doc. Zero
    shuffles. DuckDB lacks instr/count, so the oracle replays them with
    ``regexp_extract_all`` + ``strpos`` — sound for this pattern class
    because every occurrence of the matched text is itself a match, so
    the first match's text can't occur before the first match."""
    docs = load_table(spark, sf_dir, "documents")
    pat = "[aeiou]{2,}"
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit(pat)).cast("bigint")
        .alias("n_vowel_runs"),
        F.regexp_substr("text", F.lit(pat)).alias("first_run"),
        F.regexp_instr("text", F.lit(pat)).cast("bigint")
        .alias("first_run_pos"))


REGEXP_SURFACE_SQL = """
SELECT doc_id,
       len(regexp_extract_all(text, '[aeiou]{2,}')) AS n_vowel_runs,
       CASE WHEN regexp_extract(text, '[aeiou]{2,}') = ''
            THEN NULL ELSE regexp_extract(text, '[aeiou]{2,}') END
           AS first_run,
       CASE WHEN regexp_extract(text, '[aeiou]{2,}') = '' THEN 0
            ELSE strpos(text, regexp_extract(text, '[aeiou]{2,}')) END
           AS first_run_pos
FROM documents
"""


# --- incremental rollup merge (materialized-view maintenance) -------------

def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a pre-aggregated
    state (events before a cutoff) merges with a delta batch (events
    after) by RE-AGGREGATING partial aggregates — counts add, decimal
    sums add, averages recompute from the merged sums. The merged
    result provably equals direct full aggregation (the oracle runs the
    direct form), which is the property that makes this engine's
    aggregates incrementally maintainable at 100 TB: you never rescan
    history to fold in a day's delta.
    """
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp")

    def partial(df):
        # r10: corpus-level exact sum on longs; the merge level sums
        # two exact decimals per type — value unchanged.
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            split_sum(scaled_long("value"), 10 ** 4).alias("s"))

    state = partial(ev.filter(F.col("ts") < cutoff))
    delta = partial(ev.filter(F.col("ts") >= cutoff))
    merged = (state.unionByName(delta)
              .groupBy("event_type")
              .agg(F.sum("n").alias("n_events"),
                   F.sum("s").alias("s")))
    return merged.select(
        "event_type", "n_events",
        F.col("s").cast("double").alias("sum_value"),
        (F.col("s").cast("double") / F.col("n_events")).alias("avg_value"))


INCREMENTAL_ROLLUP_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS sum_value,
       CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) / count(*)
           AS avg_value
FROM events GROUP BY event_type
"""


# --- DataFrame.transpose (Spark 4) ----------------------------------------

def transpose_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.transpose()`` (Spark 4): a per-language metrics
    block flipped to one row per METRIC with one column per language —
    the report-layout transform. Transpose collects the (tiny, already
    aggregated) frame's header column to name output columns, so it
    belongs strictly AFTER aggregation: 5 langs × 2 metrics here, never
    on a fact table."""
    docs = load_table(spark, sf_dir, "documents")
    per_lang = (docs.groupBy("lang")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("n_chars").alias("total_chars"))
                .select("lang", F.col("n_docs").cast("bigint"),
                        F.col("total_chars").cast("bigint")))
    return per_lang.transpose()


TRANSPOSE_METRICS_SQL = """
SELECT 'n_docs' AS key,
       count(*) FILTER (lang = 'de') AS de,
       count(*) FILTER (lang = 'en') AS en,
       count(*) FILTER (lang = 'es') AS es,
       count(*) FILTER (lang = 'fr') AS fr,
       count(*) FILTER (lang = 'zh') AS zh
FROM documents
UNION ALL
SELECT 'total_chars',
       CAST(sum(n_chars) FILTER (lang = 'de') AS BIGINT),
       CAST(sum(n_chars) FILTER (lang = 'en') AS BIGINT),
       CAST(sum(n_chars) FILTER (lang = 'es') AS BIGINT),
       CAST(sum(n_chars) FILTER (lang = 'fr') AS BIGINT),
       CAST(sum(n_chars) FILTER (lang = 'zh') AS BIGINT)
FROM documents
"""


# --- df.stat.crosstab ------------------------------------------------------

def stat_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``df.stat.crosstab`` — pairwise frequency table of event type ×
    day-of-week. Crosstab pivots on the DISTINCT values of the second
    column (collected to the driver), so the pivoted column must be
    low-cardinality — dow has exactly 7; the oracle pins them."""
    ev = load_table(spark, sf_dir, "events")
    with_dow = ev.select("event_type",
                         F.dayofweek("ts").cast("int").alias("dow"))
    return with_dow.stat.crosstab("event_type", "dow")


STAT_CROSSTAB_SQL = """
SELECT event_type AS event_type_dow,
       count(*) FILTER (dayofweek(ts) + 1 = 1) AS "1",
       count(*) FILTER (dayofweek(ts) + 1 = 2) AS "2",
       count(*) FILTER (dayofweek(ts) + 1 = 3) AS "3",
       count(*) FILTER (dayofweek(ts) + 1 = 4) AS "4",
       count(*) FILTER (dayofweek(ts) + 1 = 5) AS "5",
       count(*) FILTER (dayofweek(ts) + 1 = 6) AS "6",
       count(*) FILTER (dayofweek(ts) + 1 = 7) AS "7"
FROM events GROUP BY event_type
"""


# --- XML content querying (xpath) -----------------------------------------

def xpath_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``xpath_string`` / ``xpath_int`` / ``xpath`` over XML payloads
    synthesized per part row — the XML-content query surface on top of
    the XML source/sink round-trip. The oracle produces the identity
    directly from the source columns, so what the hash verifies is that
    build→parse is lossless. Zero shuffles."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 300)
    xml = F.format_string(
        "<part><type>%s</type><size>%d</size><brand>%s</brand></part>",
        "p_type", "p_size", "p_brand")
    return (part.select("p_partkey", xml.alias("xml"))
            .select(
                "p_partkey",
                F.expr("xpath_string(xml, '/part/type')").alias("type_x"),
                F.expr("xpath_int(xml, '/part/size')").cast("int")
                .alias("size_x"),
                F.expr("xpath_string(xml, '/part/brand')").alias("brand_x"),
                F.size(F.expr("xpath(xml, '/part/*/text()')"))
                .cast("bigint").alias("n_children")))


XPATH_ROUNDTRIP_SQL = """
SELECT p_partkey,
       p_type AS type_x,
       p_size AS size_x,
       p_brand AS brand_x,
       3 AS n_children
FROM part WHERE p_partkey <= 300
"""


# --- numeric formatting round-trip ----------------------------------------

def number_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``format_number`` → ``to_number`` round-trip: render each order
    total as a grouped display string and parse it back; the oracle
    rebuilds the grouped string from integer parts (DuckDB's format()
    refuses thousands separators on non-integers) and returns the
    original value — verifying parse∘format = identity."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") <= 2000)
    fn = F.format_number(F.col("o_totalprice").cast("decimal(12,2)"), 2)
    return (orders.select("o_orderkey", fn.alias("display"))
            .select(
                "o_orderkey", "display",
                F.expr("to_number(display, '9,999,999.99')")
                .cast("double").alias("parsed_back")))


NUMBER_FORMAT_ROUNDTRIP_SQL = """
SELECT o_orderkey,
       format('{:,}', CAST(floor(o_totalprice) AS BIGINT))
           || '.' || lpad(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                               % 100 AS VARCHAR), 2, '0') AS display,
       CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS parsed_back
FROM orders WHERE o_orderkey <= 2000
"""


# --- modern SQL conveniences (GROUP BY ALL / ORDER BY ALL / lateral) ------

def sql_modern_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The modern SQL convenience surface both engines converged on:
    ``GROUP BY ALL`` (group by every non-aggregate select item),
    ``ORDER BY ALL`` (order by every select item), and LATERAL COLUMN
    ALIASES (``avg_price`` referencing the sibling ``round(...)`` alias and
    chaining into ``is_pricey`` — Spark 3.4+/DuckDB semantics, no subquery nesting).

    Exactness: the sum is decimal-routed; the lateral-alias quotient
    is one IEEE division of the identical decimal-cast sum by the
    identical count — correctly rounded, so no round() pin is needed
    (round(·,10) itself differs at the last digit between engines'
    rounding implementations; davg's convention).

    Scale: a plain combinable two-key aggregation — the conveniences
    are parser sugar, the plan is the same pushed-scan + partial/final
    agg every GROUP BY compiles to.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_modern")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority, n, sum_price,
               sum_price / n AS avg_price,
               avg_price >= 150000.0 AS is_pricey
        FROM (
            SELECT o_orderstatus, o_orderpriority,
                   count(*) AS n,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4)))
                        AS DOUBLE) AS sum_price
            FROM orders_modern
            GROUP BY ALL
        )
        ORDER BY ALL
    """)


SQL_MODERN_SQL = """
SELECT o_orderstatus, o_orderpriority, n, sum_price,
       sum_price / n AS avg_price,
       avg_price >= 150000.0 AS is_pricey
FROM (
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4)))
                AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY ALL
)
ORDER BY ALL
"""
