"""Data-layout operators: quantify how physical clustering decisions
change scan cost — the 100 TB lever that no per-query plan tuning can
substitute for (a filter can only prune files whose min/max envelopes
exclude it; envelopes are a property of HOW the data was written).

The reference engine (mapreduce.c) reads whole files; layout is the
Spark-era dimension it never had. These operators make layout choices
*measurable* inside the engine, the way a lakehouse table service
(OPTIMIZE ZORDER / liquid clustering) would report them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.zorder import zorder_key
from ..sources.tables import load_table

Z_BITS = 8            # per-dimension resolution of the audit grid
Z_SIDE = 1 << Z_BITS  # 256 cells per dimension
N_BUCKETS = 64        # simulated files per layout


def zorder_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compare three physical layouts of ``events`` — Z-order on
    (user_id, hour), linear on user_id, linear on hour — by the
    min/max-envelope pruning each would give a point predicate.

    Method: scale both dimensions into [0, 255] with exact integer
    arithmetic, assign every row to one of 64 value-range "files"
    per layout (Z-order: top 6 bits of the Morton key built by
    ``functions.zorder.zorder_key``; linear: top 6 bits of one
    dimension), then measure each file's actual (min, max) envelope
    per dimension. ``scan_frac_user`` is the expected fraction of
    files a uniformly random user point-predicate must scan:
    Σ_files (width_user + 1) / 256 / n_files — exactly what parquet
    footer stats would admit. The Z-order rows show the trade a
    lakehouse OPTIMIZE ZORDER buys: ~1/8 scans on BOTH dimensions
    instead of 1/64 on one and ~1 on the other.

    Exactness: scaling, Morton interleave, bucket ids and envelope
    widths are all integer ops; each scan fraction is ONE double
    division of exact integers, round(·, 10)-pinned.

    Scale: one combinable 4-scalar stats agg (broadcast back as a
    1-row dimension — no driver collect), then one combinable
    (layout, bucket) agg per layout over a union — no windows, no
    sorts; at 100 TB the same audit runs from parquet footer stats
    instead of raw rows, but the operator IS the footer-stat math.
    """
    ev = load_table(spark, sf_dir, "events")
    # integer div, never double-/ + cast (can round across a boundary)
    hour = F.expr("unix_micros(ts) div 3600000000")
    base = ev.select(F.col("user_id").alias("u"), hour.alias("h"))
    stats = base.agg(
        F.min("u").alias("umin"), F.max("u").alias("umax"),
        F.min("h").alias("hmin"), F.max("h").alias("hmax"))
    scaled = base.crossJoin(stats).select(
        F.expr(f"((u - umin) * {Z_SIDE - 1}) div "
               "greatest(umax - umin, 1)").alias("su"),
        F.expr(f"((h - hmin) * {Z_SIDE - 1}) div "
               "greatest(hmax - hmin, 1)").alias("sh"))
    z = zorder_key(F.col("su"), F.col("sh"), bits=Z_BITS)
    per_file = Z_SIDE * Z_SIDE // N_BUCKETS        # z cells per bucket
    shift = per_file.bit_length() - 1              # 1024 == 1 << 10
    lin = Z_SIDE // N_BUCKETS                      # 1-D cells per bucket
    layouts = (
        scaled.select(F.lit("zorder").alias("layout"),
                      F.shiftright(z, shift).alias("bucket"),
                      "su", "sh")
        .unionAll(scaled.select(
            F.lit("linear_user").alias("layout"),
            F.expr(f"su div {lin}").alias("bucket"), "su", "sh"))
        .unionAll(scaled.select(
            F.lit("linear_hour").alias("layout"),
            F.expr(f"sh div {lin}").alias("bucket"), "su", "sh")))
    env = (layouts.groupBy("layout", "bucket")
           .agg((F.max("su") - F.min("su") + 1).alias("span_u"),
                (F.max("sh") - F.min("sh") + 1).alias("span_h")))
    return (env.groupBy("layout")
            .agg(F.count(F.lit(1)).alias("n_files"),
                 F.sum("span_u").alias("sum_span_u"),
                 F.sum("span_h").alias("sum_span_h"))
            .select("layout", "n_files",
                    F.round(F.col("sum_span_u")
                            / (F.lit(Z_SIDE) * F.col("n_files"))
                            .cast("double"), 10).alias("scan_frac_user"),
                    F.round(F.col("sum_span_h")
                            / (F.lit(Z_SIDE) * F.col("n_files"))
                            .cast("double"), 10).alias("scan_frac_hour")))


def _morton_sql(a: str, b: str, bits: int) -> str:
    """DuckDB arithmetic Morton interleave: a's bit i → 2i+1, b's → 2i."""
    terms = []
    for i in range(bits):
        terms.append(f"(({a} // {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(f"(({b} // {1 << i}) % 2) * {1 << (2 * i)}")
    return " + ".join(terms)


ZORDER_PRUNING_SQL = f"""
WITH base AS (
    SELECT user_id AS u, epoch_us(ts) // 3600000000 AS h FROM events
),
stats AS (
    SELECT min(u) AS umin, max(u) AS umax,
           min(h) AS hmin, max(h) AS hmax
    FROM base
),
scaled AS (
    SELECT ((u - umin) * {Z_SIDE - 1}) // greatest(umax - umin, 1) AS su,
           ((h - hmin) * {Z_SIDE - 1}) // greatest(hmax - hmin, 1) AS sh
    FROM base CROSS JOIN stats
),
layouts AS (
    SELECT 'zorder' AS layout,
           ({_morton_sql('su', 'sh', Z_BITS)})
               // {Z_SIDE * Z_SIDE // N_BUCKETS} AS bucket, su, sh
    FROM scaled
    UNION ALL
    SELECT 'linear_user', su // {Z_SIDE // N_BUCKETS}, su, sh FROM scaled
    UNION ALL
    SELECT 'linear_hour', sh // {Z_SIDE // N_BUCKETS}, su, sh FROM scaled
),
env AS (
    SELECT layout, bucket,
           max(su) - min(su) + 1 AS span_u,
           max(sh) - min(sh) + 1 AS span_h
    FROM layouts GROUP BY 1, 2
)
SELECT layout, count(*) AS n_files,
       round(sum(span_u) / CAST({Z_SIDE} * count(*) AS DOUBLE), 10)
           AS scan_frac_user,
       round(sum(span_h) / CAST({Z_SIDE} * count(*) AS DOUBLE), 10)
           AS scan_frac_hour
FROM env GROUP BY layout
"""


# --- per-partition encoding size census -----------------------------------


def encoding_size_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day-partition column encoding census over ``events`` — the
    exact byte-cost model a columnar writer (parquet/ORC) evaluates
    when picking PLAIN vs DICTIONARY vs dictionary+RLE per column
    chunk, computed from first principles: row count, distinct count
    (dictionary size), and RUN count under the file's physical sort
    (event_id within the day partition).

    Cost model (documented contract, byte-exact both engines):
    plain = payload (+4-byte length prefix per string); dict =
    dictionary entries + ⌊(n·bits + 7)/8⌋ packed codes with bits =
    len(bin(card−1)); rle = dictionary entries + runs × (byte-aligned
    code + 4-byte run length). ``best_encoding`` ties break
    plain > dict > rle. All integers; zero floats.

    Scale: ONE day-partitioned ordered window pass computes both
    columns' run flags (runs are a property of physical order — this
    is why the operator partitions exactly like the table layout),
    one combinable per-day agg, plus one distinct-values pass for the
    string dictionary byte total. At 100 TB this is the per-row-group
    stats pass a table service runs before OPTIMIZE; nothing global,
    state bounded by days × columns.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd")
    w = Window.partitionBy("day").orderBy("event_id")
    base = ev.select(day.alias("day"), "event_id",
                     "event_type", "user_id")

    def chg(c: str):
        prev = F.lag(c).over(w)
        return (F.when(prev.isNull(), 0)
                .when(prev != F.col(c), 1).otherwise(0))

    flagged = base.select(
        "day", "event_type", "user_id",
        chg("event_type").alias("chg_et"),
        chg("user_id").alias("chg_uid"))
    per_day = flagged.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("chg_et") + 1).alias("runs_et"),
        (F.sum("chg_uid") + 1).alias("runs_uid"),
        F.countDistinct("event_type").alias("card_et"),
        F.countDistinct("user_id").alias("card_uid"),
        F.sum(F.length("event_type")).alias("str_et"))
    dict_et = (ev.select(day.alias("day"), "event_type").distinct()
               .groupBy("day")
               .agg(F.sum(F.length("event_type")).alias("dictstr_et")))
    j = per_day.join(dict_et, "day")

    def col_struct(name, card, runs, plain, dict_entries):
        bw = F.length(F.bin(card - 1)).cast("long")
        dictb = dict_entries + F.floor(
            (F.col("n") * bw + 7) / 8).cast("long")
        rleb = dict_entries + runs * (F.ceil(bw / 8) + F.lit(4))
        best = (F.when((plain <= dictb) & (plain <= rleb), "plain")
                .when(dictb <= rleb, "dict").otherwise("rle"))
        return F.struct(
            F.lit(name).alias("column_name"), card.alias("card"),
            runs.alias("runs"), bw.alias("code_bits"),
            plain.cast("long").alias("plain_bytes"),
            dictb.cast("long").alias("dict_bytes"),
            rleb.cast("long").alias("rle_bytes"),
            best.alias("best_encoding"))

    et = col_struct("event_type", F.col("card_et"), F.col("runs_et"),
                    F.col("str_et") + 4 * F.col("n"),
                    F.col("dictstr_et") + 4 * F.col("card_et"))
    uid = col_struct("user_id", F.col("card_uid"), F.col("runs_uid"),
                     8 * F.col("n"), 8 * F.col("card_uid"))
    return (j.select("day", "n", F.explode(F.array(et, uid)).alias("c"))
            .select("day", "n", "c.*"))


def _enc_sql_branch(colname: str, card: str, runs: str,
                    plain: str, dict_entries: str) -> str:
    bw = f"length(bin({card} - 1))"
    return f"""
  SELECT day, n, '{colname}' AS column_name,
         {card} AS card, CAST({runs} AS BIGINT) AS runs,
         CAST({bw} AS BIGINT) AS code_bits,
         CAST({plain} AS BIGINT) AS plain_bytes,
         CAST({dict_entries}
              + CAST(floor((n * {bw} + 7) / 8) AS BIGINT) AS BIGINT)
             AS dict_bytes,
         CAST({dict_entries}
              + {runs} * (CAST(ceil({bw} / 8) AS BIGINT) + 4) AS BIGINT)
             AS rle_bytes
  FROM j"""


ENCODING_CENSUS_SQL = f"""
WITH flagged AS (
    SELECT day, event_type, user_id,
           CASE WHEN lag(event_type) OVER w IS NULL THEN 0
                WHEN lag(event_type) OVER w <> event_type THEN 1
                ELSE 0 END AS chg_et,
           CASE WHEN lag(user_id) OVER w IS NULL THEN 0
                WHEN lag(user_id) OVER w <> user_id THEN 1
                ELSE 0 END AS chg_uid
    FROM (SELECT strftime(ts, '%Y-%m-%d') AS day, event_id,
                 event_type, user_id FROM events)
    WINDOW w AS (PARTITION BY day ORDER BY event_id)
), per_day AS (
    SELECT day, count(*) AS n,
           sum(chg_et) + 1 AS runs_et, sum(chg_uid) + 1 AS runs_uid,
           count(DISTINCT event_type) AS card_et,
           count(DISTINCT user_id) AS card_uid,
           sum(len(event_type)) AS str_et
    FROM flagged GROUP BY day
), de AS (
    SELECT day, sum(len(event_type)) AS dictstr_et
    FROM (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day, event_type
          FROM events) GROUP BY day
), j AS (
    SELECT * FROM per_day JOIN de USING (day)
), cols AS (
{_enc_sql_branch('event_type', 'card_et', 'runs_et',
                 'str_et + 4 * n', 'dictstr_et + 4 * card_et')}
  UNION ALL
{_enc_sql_branch('user_id', 'card_uid', 'runs_uid',
                 '8 * n', '8 * card_uid')}
)
SELECT day, n, column_name, card, runs, code_bits,
       plain_bytes, dict_bytes, rle_bytes,
       CASE WHEN plain_bytes <= dict_bytes
             AND plain_bytes <= rle_bytes THEN 'plain'
            WHEN dict_bytes <= rle_bytes THEN 'dict'
            ELSE 'rle' END AS best_encoding
FROM cols
"""


# --- small-files compaction planning --------------------------------------

COMPACT_TARGET_BYTES = 4096   # target bytes per compacted file
COMPACT_CUR_SHARDS = 16       # simulated current small-file count/partition


def small_files_compaction_plan(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The OPTIMIZE/compaction planning query a lakehouse table
    service runs before rewriting a partition: per lang partition of
    ``documents``, the current (simulated) small-file inventory vs
    the file count a target file size implies — the small-files
    problem quantified, and the rewrite bill (files merged away)
    computed from exact sizes.

    Current files are simulated as the md5 16-shard split of doc_id —
    the same deterministic sharding `shard_assignment` ships — so the
    audit is reproducible without a real manifest; with a real table
    the same query runs over the file-listing relation. Bytes are the
    n_chars payload proxy.

    Exactness: all counts/sums integer; files_planned is the exact
    integer ceil ⌊(bytes + target − 1)/target⌋ (operands ≪ 2^53, so
    the double division is exact); the two avg-bytes quotients are
    raw IEEE divisions of identical exact ints (no round — the repo's
    round-band rule: these are ≫ 1).

    Scale: one per-(lang, shard) combinable count + one per-lang
    re-aggregation — manifest-sized work, the table stays unscanned
    in a real deployment (footer/manifest stats provide n and bytes).
    """
    docs = load_table(spark, sf_dir, "documents")
    shard = (F.conv(F.substring(
        F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % COMPACT_CUR_SHARDS)
    per_shard = (docs.groupBy("lang", shard.alias("shard"))
                 .agg(F.count(F.lit(1)).alias("n_docs"),
                      F.sum("n_chars").alias("bytes")))
    t = COMPACT_TARGET_BYTES
    return (per_shard.groupBy("lang")
            .agg(F.sum("n_docs").alias("n_docs"),
                 F.sum("bytes").alias("total_bytes"),
                 F.count(F.lit(1)).alias("current_files"))
            .withColumn("files_planned",
                        F.floor((F.col("total_bytes") + t - 1) / t)
                        .cast("long"))
            .withColumn("files_planned",
                        F.greatest("files_planned", F.lit(1)))
            .select(
                "lang", "n_docs", "total_bytes", "current_files",
                "files_planned",
                (F.col("current_files") - F.col("files_planned"))
                .alias("files_merged_away"),
                (F.col("total_bytes") / F.col("current_files"))
                .alias("avg_bytes_current"),
                (F.col("total_bytes") / F.col("files_planned"))
                .alias("avg_bytes_planned")))


COMPACTION_PLAN_SQL = f"""
WITH per_shard AS (
    SELECT lang,
           ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
               ::BIGINT % {COMPACT_CUR_SHARDS} AS shard,
           count(*) AS n_docs, sum(n_chars) AS bytes
    FROM documents GROUP BY 1, 2
), per_lang AS (
    SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(bytes) AS BIGINT) AS total_bytes,
           count(*) AS current_files,
           greatest(CAST(floor((sum(bytes) + {COMPACT_TARGET_BYTES} - 1)
                               / {COMPACT_TARGET_BYTES}) AS BIGINT), 1)
               AS files_planned
    FROM per_shard GROUP BY lang
)
SELECT lang, n_docs, total_bytes, current_files, files_planned,
       current_files - files_planned AS files_merged_away,
       CAST(total_bytes AS DOUBLE) / current_files
           AS avg_bytes_current,
       CAST(total_bytes AS DOUBLE) / files_planned
           AS avg_bytes_planned
FROM per_lang
"""


# --- CBO-style table statistics profile ------------------------------------

# (column, how to render min/max as an engine-neutral string)
_PROFILE_COLS = (
    ("l_orderkey", "bigint"),
    ("l_partkey", "bigint"),
    ("l_suppkey", "bigint"),
    ("l_linenumber", "bigint"),
    ("l_returnflag", "string"),
    ("l_linestatus", "string"),
    ("l_shipdate", "date"),
)


def table_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-TABLE statistics for ``lineitem`` — per-column row
    count, non-null count, exact NDV, and min/max rendered as strings:
    the statistics a cost-based optimizer consumes for join
    reordering, broadcast thresholds, and selectivity estimates (and
    the numbers a 100 TB migration diffs against the source catalog
    before cutover). Doubles (price/discount/tax) are deliberately
    out of scope: their min/max string rendering is engine-specific,
    and a CBO bins them anyway.

    Exactness: counts and NDVs are exact integers; min/max are exact
    value strings (BIGINT and VARCHAR render identically everywhere;
    the timestamp column is profiled at DATE grain, whose ISO form
    both engines print identically).

    Scale: one single-column aggregate per profiled column, unioned —
    each branch's parquet scan prunes to THAT column (ReadSchema is
    one field), so the profile costs k narrow column scans rather
    than one Expand-multiplied multi-distinct shuffle of k× the rows
    (Spark's multi-countDistinct rewrite duplicates every row per
    distinct aggregate — the wrong trade at 100 TB). Exact NDV is the
    correctness gate here; the production fast path swaps
    count(distinct) for approx_count_distinct/HLL per column without
    touching the shape, as `hll_sketch_users` demonstrates.
    """
    li = load_table(spark, sf_dir, "lineitem")
    parts = []
    for col, kind in _PROFILE_COLS:
        c = F.col(col)
        if kind == "date":
            c = c.cast("date")
        parts.append(
            li.select(c.alias("v"))
            .agg(F.lit(col).alias("column_name"),
                 F.count(F.lit(1)).alias("n_rows"),
                 F.count("v").alias("n_nonnull"),
                 F.countDistinct("v").alias("ndv"),
                 F.min("v").cast("string").alias("min_str"),
                 F.max("v").cast("string").alias("max_str")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def _profile_branch_sql(col: str, kind: str) -> str:
    v = f"CAST({col} AS DATE)" if kind == "date" else col
    return f"""
    SELECT '{col}' AS column_name,
           count(*) AS n_rows,
           count({v}) AS n_nonnull,
           CAST(count(DISTINCT {v}) AS BIGINT) AS ndv,
           CAST(min({v}) AS VARCHAR) AS min_str,
           CAST(max({v}) AS VARCHAR) AS max_str
    FROM lineitem"""


TABLE_STATS_SQL = "\nUNION ALL".join(
    _profile_branch_sql(col, kind) for col, kind in _PROFILE_COLS)


# --- declarative data-quality expectations ---------------------------------

EXPECT_STATUSES = ("O", "F", "P")
EXPECT_YEARS = (1992, 1998)


def data_expectations_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectation suite over ``orders`` —
    the Deequ/Great-Expectations pattern a 100 TB ingest gate runs
    before promoting a batch: each constraint is a named metric with
    a threshold and a pass verdict, computed from ONE scan.

    Constraints: completeness(o_custkey), uniqueness(o_orderkey),
    set-membership(o_orderstatus ∈ {O,F,P}), non-negativity
    (o_totalprice > 0), date-range(year ∈ [1992, 1998]). The long
    (constraint, metric, threshold, passed) shape is the contract
    downstream alerting consumes; adding a constraint is one more
    conditional aggregate, not another scan.

    Exactness: every metric is one exact-operand integer division;
    verdicts compare bit-identical doubles against literal 1.0.

    Scale: ONE pass — four conditional sums fold into the same
    partial aggregation; the single exact count-distinct plans as a
    two-stage agg on the (already unique) key column, no Expand. The
    unpivot runs on a 1-row relation.
    """
    o = load_table(spark, sf_dir, "orders")
    agg = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_custkey").alias("nn_cust"),
        F.countDistinct("o_orderkey").alias("ndv_key"),
        F.sum(F.col("o_orderstatus").isin(*EXPECT_STATUSES)
              .cast("long")).alias("status_ok"),
        F.sum((F.col("o_totalprice") > 0).cast("long")).alias("price_pos"),
        F.sum(F.year("o_orderdate").between(*EXPECT_YEARS)
              .cast("long")).alias("date_ok"))
    d = "double"
    long = agg.select(F.expr(
        "stack(5,"
        " 'completeness_o_custkey', cast(nn_cust as double) / n,"
        " 'uniqueness_o_orderkey', cast(ndv_key as double) / n,"
        " 'membership_o_orderstatus', cast(status_ok as double) / n,"
        " 'non_negative_o_totalprice', cast(price_pos as double) / n,"
        " 'range_o_orderdate', cast(date_ok as double) / n"
        ") as (constraint, metric)"))
    return long.select("constraint", F.col("metric").cast(d),
                       F.lit(1.0).alias("threshold"),
                       (F.col("metric") >= F.lit(1.0)).alias("passed"))


DATA_EXPECTATIONS_SQL = f"""
WITH agg AS (
    SELECT count(*) AS n,
           count(o_custkey) AS nn_cust,
           count(DISTINCT o_orderkey) AS ndv_key,
           sum(CASE WHEN o_orderstatus IN ('O','F','P')
                    THEN 1 ELSE 0 END) AS status_ok,
           sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS price_pos,
           sum(CASE WHEN year(o_orderdate)
                         BETWEEN {EXPECT_YEARS[0]} AND {EXPECT_YEARS[1]}
                    THEN 1 ELSE 0 END) AS date_ok
    FROM orders
)
SELECT 'completeness_o_custkey' AS constraint,
       CAST(nn_cust AS DOUBLE) / n AS metric,
       CAST(1.0 AS DOUBLE) AS threshold,
       CAST(nn_cust AS DOUBLE) / n >= 1.0 AS passed FROM agg
UNION ALL
SELECT 'uniqueness_o_orderkey', CAST(ndv_key AS DOUBLE) / n, CAST(1.0 AS DOUBLE),
       CAST(ndv_key AS DOUBLE) / n >= 1.0 FROM agg
UNION ALL
SELECT 'membership_o_orderstatus', CAST(status_ok AS DOUBLE) / n, CAST(1.0 AS DOUBLE),
       CAST(status_ok AS DOUBLE) / n >= 1.0 FROM agg
UNION ALL
SELECT 'non_negative_o_totalprice', CAST(price_pos AS DOUBLE) / n, CAST(1.0 AS DOUBLE),
       CAST(price_pos AS DOUBLE) / n >= 1.0 FROM agg
UNION ALL
SELECT 'range_o_orderdate', CAST(date_ok AS DOUBLE) / n, CAST(1.0 AS DOUBLE),
       CAST(date_ok AS DOUBLE) / n >= 1.0 FROM agg
"""


# --- broadcast-join strategy advisor ----------------------------------------

# (fixed-width column count, string columns) per table — the declared
# in-memory row model: 8 B per numeric/timestamp, 16 B header + payload
# per string. Deliberately simple and DOCUMENTED so the advisor is
# auditable; swap for catalog stats (table_stats_profile) at will.
ADVISOR_TABLES: dict[str, tuple[int, tuple[str, ...]]] = {
    "region": (1, ("r_name",)),
    "nation": (2, ("n_name",)),
    "customer": (3, ("c_name", "c_mktsegment")),
    "supplier": (3, ("s_name",)),
    "part": (3, ("p_name", "p_brand", "p_type")),
    "orders": (4, ("o_orderstatus", "o_orderpriority")),
    "lineitem": (9, ("l_returnflag", "l_linestatus")),
}
BROADCAST_THRESHOLD_BYTES = 10 * 1024 * 1024  # Spark's default 10 MB


def broadcast_join_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy advisor: estimate every table's in-memory size
    from the declared row model (8 B per fixed-width column, 16 B +
    payload per string) and recommend BROADCAST when the estimate
    clears Spark's default ``autoBroadcastJoinThreshold`` (10 MB),
    SHUFFLE otherwise — the decision AQE makes from runtime stats,
    surfaced as an auditable relation so a pipeline can pin join
    strategies (and catch the dim table that silently grew past the
    threshold and started spilling) BEFORE planning 10⁴ queries on
    top of it. Companion to ``table_stats_profile`` (which feeds real
    NDV/min-max to the same decisions).

    Exactness: row counts and string lengths are exact integers; the
    estimate is pure integer arithmetic.

    Scale: one combinable (count + Σ length) aggregate per table —
    seven scans of exactly the string columns (column-pruned), each
    collapsing to one row.
    """
    parts = []
    for t, (n_fixed, str_cols) in ADVISOR_TABLES.items():
        tbl = load_table(spark, sf_dir, t)
        strlen = sum((F.length(c).cast("long") for c in str_cols),
                     F.lit(0).cast("long"))
        agg = tbl.agg(F.count(F.lit(1)).alias("n_rows"),
                      F.sum(strlen).alias("payload"))
        per_row = 8 * n_fixed + 16 * len(str_cols)
        parts.append(agg.select(
            F.lit(t).alias("table_name"), "n_rows",
            (F.col("n_rows") * F.lit(per_row) + F.col("payload"))
            .alias("est_bytes")))
    from functools import reduce
    est = reduce(lambda a, b: a.unionAll(b), parts)
    return est.select(
        "table_name", "n_rows", "est_bytes",
        F.when(F.col("est_bytes") <= BROADCAST_THRESHOLD_BYTES,
               F.lit("broadcast")).otherwise(F.lit("shuffle"))
        .alias("strategy"))


BROADCAST_ADVISOR_SQL = "\nUNION ALL".join(
    f"""
SELECT '{t}' AS table_name, count(*) AS n_rows,
       count(*) * {8 * n_fixed + 16 * len(str_cols)}
       + CAST(sum({' + '.join(f'length({c})' for c in str_cols)})
              AS BIGINT) AS est_bytes,
       CASE WHEN count(*) * {8 * n_fixed + 16 * len(str_cols)}
                 + CAST(sum({' + '.join(f'length({c})' for c in str_cols)})
                        AS BIGINT) <= {BROADCAST_THRESHOLD_BYTES}
            THEN 'broadcast' ELSE 'shuffle' END AS strategy
FROM {t}"""
    for t, (n_fixed, str_cols) in ADVISOR_TABLES.items())


# --- snapshot diff audit ------------------------------------------------------

DIFF_DROP_PREFIX = "00"    # ~1/256 of keys removed in the simulated v2
DIFF_PRICE_PREFIX = "01"   # ~1/256 of rows get a price correction
DIFF_STATUS_PREFIX = "02"  # ~1/256 of rows get a status transition
DIFF_ADD_PREFIX = "03"     # ~1/256 of rows are late arrivals (new keys)
DIFF_KEY_OFFSET = 10_000_000_000  # collision-free key space for adds


def snapshot_diff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-version diff audit (the Datafold/data-diff pattern; also
    what a CDC pipeline runs to validate a replica): given snapshot v1
    (= ``orders``) and v2 (a DETERMINISTIC simulated next version:
    md5-selected ~1/256 slices of keys removed, price-corrected by
    +1.00, status-advanced to 'F', or duplicated into a disjoint key
    space as late arrivals), classify every key via ONE
    full-outer join on the primary key into added / removed /
    changed_price / changed_status / unchanged and report counts — the
    shape a replication-validation gate alerts on. The md5 slices are
    disjoint by construction (first-byte prefixes), so each key has
    exactly one classification and the audit's totals must reconcile
    with |v1| and |v2| — both asserted by the pin test.

    Exactness: md5 prefixes and integer counts only; the price
    mutation is +1.00 on an exact 2-dp decimal view (``money``), so
    changed-row detection is an exact decimal equality, never a float
    comparison.

    Scale: both sides shuffle once on the join key (the diff is
    co-partitioned at any size; with bucketed tables it would be
    exchange-free); the classification is a per-row expression and
    the report a ≤5-row aggregate.
    """
    from ..functions.numeric import money

    v1 = (load_table(spark, sf_dir, "orders")
          .select("o_orderkey",
                  money("o_totalprice").alias("price"),
                  "o_orderstatus"))
    pfx = F.substring(F.md5(F.col("o_orderkey").cast("string")
                            .cast("binary")), 1, 2)
    v2 = (v1.withColumn("pfx", pfx)
          .filter(F.col("pfx") != DIFF_DROP_PREFIX)
          .select("o_orderkey",
                  F.when(F.col("pfx") == DIFF_PRICE_PREFIX,
                         F.col("price")
                         + F.lit("1.00").cast("decimal(12,2)"))
                  .otherwise(F.col("price")).alias("price"),
                  F.when(F.col("pfx") == DIFF_STATUS_PREFIX, F.lit("F"))
                  .otherwise(F.col("o_orderstatus"))
                  .alias("o_orderstatus")))
    adds = (v1.filter(F.substring(
        F.md5(F.col("o_orderkey").cast("string").cast("binary")), 1, 2)
        == DIFF_ADD_PREFIX)
        .select((F.col("o_orderkey") + F.lit(DIFF_KEY_OFFSET))
                .alias("o_orderkey"), "price", "o_orderstatus"))
    v2 = v2.unionAll(adds)
    a = v1.select("o_orderkey", F.col("price").alias("p1"),
                  F.col("o_orderstatus").alias("s1"))
    b = v2.select("o_orderkey", F.col("price").alias("p2"),
                  F.col("o_orderstatus").alias("s2"))
    j = a.join(b, "o_orderkey", "full_outer")
    cls = (F.when(F.col("p1").isNull(), F.lit("added"))
           .when(F.col("p2").isNull(), F.lit("removed"))
           .when(F.col("p1") != F.col("p2"), F.lit("changed_price"))
           .when(F.col("s1") != F.col("s2"), F.lit("changed_status"))
           .otherwise(F.lit("unchanged")))
    return (j.select(cls.alias("change_type"))
            .groupBy("change_type")
            .agg(F.count(F.lit(1)).alias("n_rows")))


SNAPSHOT_DIFF_SQL = f"""
WITH v1 AS (
    SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS price,
           o_orderstatus
    FROM orders
), v2 AS (
    SELECT o_orderkey,
           CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2)
                     = '{DIFF_PRICE_PREFIX}'
                THEN price + CAST('1.00' AS DECIMAL(12,2))
                ELSE price END AS price,
           CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2)
                     = '{DIFF_STATUS_PREFIX}'
                THEN 'F' ELSE o_orderstatus END AS o_orderstatus
    FROM v1
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2)
          <> '{DIFF_DROP_PREFIX}'
    UNION ALL
    SELECT o_orderkey + {DIFF_KEY_OFFSET}, price, o_orderstatus
    FROM v1
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2)
          = '{DIFF_ADD_PREFIX}'
), j AS (
    SELECT CASE WHEN a.price IS NULL THEN 'added'
                WHEN b.price IS NULL THEN 'removed'
                WHEN a.price <> b.price THEN 'changed_price'
                WHEN a.o_orderstatus <> b.o_orderstatus
                     THEN 'changed_status'
                ELSE 'unchanged' END AS change_type
    FROM v1 a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey
)
SELECT change_type, count(*) AS n_rows FROM j GROUP BY change_type
"""
