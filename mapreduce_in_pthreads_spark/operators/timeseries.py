"""Event-time operators over the stream-shaped ``events`` table:
tumbling / sliding / session windows, event-time dedup, JSON prop
extraction (SURVEY.md §2.3 'Streaming-shaped', 'Scalar fns/JSON').

Batch-first per the driver contract (the oracle is batch DuckDB); the
``streaming`` package reuses these same transformations on a
``readStream`` source, which is the Structured Streaming design point:
one logical query, two execution modes. Late-data policy for the
streaming twin: 10-minute watermark, drop-late (documented there).

Window starts are returned as integer epoch-microseconds
(``unix_micros`` ↔ DuckDB ``epoch_us``) — engine-neutral, no timestamp
precision skew in the oracle hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import DEC, SQL_DEC, davg, dsum, sql_davg, sql_dsum
from ..sources.tables import load_table


def tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event type: count + stable sum.
    ``F.window`` is the native op; hour-aligned tumbling ≡ date_trunc
    in the oracle."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             dsum("value", "sum_value"))
        .select(F.unix_micros(F.col("w.start")).alias("window_start_us"),
                "event_type", "n_events", "sum_value")
    )


TUMBLING_HOURLY_SQL = f"""
SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
       event_type,
       count(*) AS n_events,
       {sql_dsum('value', 'sum_value')}
FROM events GROUP BY 1, 2
"""


def sliding_2h_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 2-hour length, 1-hour slide — every event lands
    in exactly two windows. Oracle replays the window assignment by
    unnesting the two hour-aligned starts each event belongs to."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             dsum("value", "sum_value"))
        .select(F.unix_micros(F.col("w.start")).alias("window_start_us"),
                "n_events", "sum_value")
    )


SLIDING_2H_1H_SQL = f"""
WITH assigned AS (
    SELECT unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                   date_trunc('hour', ts)]) AS window_start,
           value
    FROM events
)
SELECT epoch_us(window_start) AS window_start_us,
       count(*) AS n_events,
       {sql_dsum('value', 'sum_value')}
FROM assigned GROUP BY 1
"""


def session_windows_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute gap per user — Spark's native
    ``session_window``. Oracle reconstructs identical sessions with the
    lag-gap-cumsum idiom: a new session starts when the gap since the
    previous event is ≥ the timeout (session end = last event + gap,
    chained). Boundary caveat (pinned by the merge-dynamics test in
    tests/test_streaming.py): native session_window MERGES an event
    landing exactly at last+gap where this oracle's ``>=`` splits —
    the conventions agree on all microsecond-resolution data (an
    exact 30:00.000000 gap is measure-zero; parity proven at every
    SF), so the oracle stands, with the discrepancy documented."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             dsum("value", "sum_value"))
        .select("user_id",
                F.unix_micros(F.col("w.start")).alias("session_start_us"),
                "n_events", "sum_value")
    )


SESSION_WINDOWS_30M_SQL = f"""
WITH flagged AS (
    SELECT user_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessioned AS (
    SELECT user_id, ts, value,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
)
SELECT user_id,
       epoch_us(min(ts)) AS session_start_us,
       count(*) AS n_events,
       {sql_dsum('value', 'sum_value')}
FROM sessioned GROUP BY user_id, session_id
"""


def dedup_events_in_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time dedup: keep the FIRST event per (user, type) within
    each tumbling hour — deterministic via (ts, event_id) ordering.
    The streaming twin of this is dropDuplicates with a watermark."""
    ev = load_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", "ts")
    w = Window.partitionBy(hour, "user_id", "event_type").orderBy(
        "ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type",
                F.unix_micros(hour).alias("hour_us"))
    )


DEDUP_EVENTS_SQL = """
SELECT event_id, user_id, event_type,
       epoch_us(date_trunc('hour', ts)) AS hour_us
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY date_trunc('hour', ts), user_id, event_type
        ORDER BY ts, event_id) AS rn
    FROM events
) WHERE rn = 1
"""


def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access: pull ``k`` out of the JSON ``props``
    column and aggregate it per event type."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("k").alias("min_k"),
             F.max("k").alias("max_k"),
             F.sum("k").alias("sum_k"))
    )


JSON_PROPS_SQL = """
SELECT event_type,
       count(*) AS n_events,
       min(k) AS min_k, max(k) AS max_k, CAST(SUM(k) AS BIGINT) AS sum_k
FROM (SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS INT) AS k
      FROM events)
GROUP BY event_type
"""


def from_json_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read JSON parsing: ``from_json`` with a declared
    schema (the typed path — one parse per row, pruned to the fields
    asked for) vs get_json_object's per-field string probing."""
    ev = load_table(spark, sf_dir, "events")
    parsed = F.from_json("props", "k INT")
    return ev.select(
        "event_id",
        parsed["k"].alias("k"),
        (parsed["k"] % 10).alias("k_mod10"),
        F.col("props").contains('"k"').alias("has_k"),
    )


FROM_JSON_SQL = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INT) AS k,
       CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod10,
       contains(props, '"k"') AS has_k
FROM events
"""


APPROX_Q_ACCURACY = 1000  # GK sketch accuracy: rank error <= n/accuracy
APPROX_Q_SLACK = 1.0      # +1-rank slack on the audit band (boundary ties)


def approx_quantiles_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile sketch (the bounded-memory quantile path for
    100 TB — exact percentiles need a full sort per group) — reported
    as a BOUNDED-ERROR AUDIT against the sketch's OWN guarantee: the
    Greenwald-Khanna summary promises a returned element whose rank is
    within n/accuracy of the target p·n, so the audit joins the sketch
    answers back to the group (4-row broadcast) and checks that the
    answer's true rank interval [count(<a)+1, count(≤a)] comes within
    n/accuracy + 1 of p·n. A VALUE bound would be wrong here — the
    sketch returns an actual element while an exact percentile
    interpolates, and at small groups the top-gap makes any relative
    value band arbitrary (measured: p99 off by >5% at sf0.001 with
    n≈190 while the rank was EXACT). The OUTPUT is group counts plus
    the rank-bound flags the oracle pins to 1 (VERDICT r8 item 7:
    rows-only → driver-adjudicated error bound); deterministic — GK
    has no RNG. At 100 TB: one combinable sketch pass + one broadcast
    re-scan for the audit."""
    ev = load_table(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_values"),
        F.approx_percentile("value", 0.5, APPROX_Q_ACCURACY)
        .alias("a_med"),
        F.approx_percentile("value", 0.99, APPROX_Q_ACCURACY)
        .alias("a_p99"))
    ranks = (ev.join(F.broadcast(sk), "event_type")
             .groupBy("event_type", "n_values")
             .agg(*[agg for q in ("med", "p99") for agg in (
                 F.sum((F.col("value") < F.col(f"a_{q}")).cast("long"))
                 .alias(f"lo_{q}"),
                 F.sum((F.col("value") <= F.col(f"a_{q}")).cast("long"))
                 .alias(f"hi_{q}"))]))

    def ok(q: str, p: float):
        n = F.col("n_values").cast("double")
        tol = (n / F.lit(float(APPROX_Q_ACCURACY))
               + F.lit(float(APPROX_Q_SLACK)))
        target = F.lit(p) * n
        # true rank set of the answer is [lo+1, hi]; the guarantee
        # holds iff that interval reaches within tol of target
        return ((F.col(f"lo_{q}").cast("double") + 1 <= target + tol)
                & (F.col(f"hi_{q}").cast("double") >= target - tol)
                ).cast("long")

    return ranks.select(
        "event_type", "n_values",
        ok("med", 0.5).alias("median_within_bound"),
        ok("p99", 0.99).alias("p99_within_bound"))


APPROX_QUANTILES_SQL = """
SELECT event_type, count(*) AS n_values,
       CAST(1 AS BIGINT) AS median_within_bound,
       CAST(1 AS BIGINT) AS p99_within_bound
FROM events GROUP BY event_type
"""


MERGE_CUTOFF = "2024-01-16"


def merge_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MERGE/upsert semantics without a table format: a
    per-user snapshot (latest event strictly before ``MERGE_CUTOFF``)
    is upserted with a delta batch (events on/after the cutoff). Delta
    wins per key; snapshot rows without delta survive; delta rows
    without snapshot insert. The ``op`` column is the merge audit
    (insert / update / unchanged) a CDC pipeline would emit.

    Implementation is the engine-agnostic formulation every lakehouse
    MERGE lowers to: latest-per-key on each side (row_number window,
    tie-broken on event_id so it is total and deterministic), then ONE
    full outer join on the merge key. At 100 TB both sides hash-shuffle
    on user_id once; with the snapshot bucketed by user_id the join is
    co-located and only the delta shuffles.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())

    def latest(side):
        return (side.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("user_id", "event_id", "event_type", "value",
                        F.unix_micros("ts").alias("ts_us")))

    cutoff = F.lit(MERGE_CUTOFF).cast("timestamp")
    base = latest(ev.filter(F.col("ts") < cutoff)).alias("b")
    delta = latest(ev.filter(F.col("ts") >= cutoff)).alias("d")
    j = base.join(delta, "user_id", "full_outer")
    pick = lambda c: F.coalesce(F.col(f"d.{c}"), F.col(f"b.{c}"))
    return j.select(
        "user_id",
        pick("event_id").alias("last_event_id"),
        pick("event_type").alias("last_event_type"),
        pick("value").alias("last_value"),
        pick("ts_us").alias("last_ts_us"),
        F.when(F.col("b.event_id").isNull(), F.lit("insert"))
         .when(F.col("d.event_id").isNull(), F.lit("unchanged"))
         .otherwise(F.lit("update")).alias("op"),
    )


MERGE_UPSERT_SQL = f"""
WITH ranked AS (
    SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us,
           ts >= TIMESTAMP '{MERGE_CUTOFF}' AS is_delta,
           row_number() OVER (
               PARTITION BY user_id, ts >= TIMESTAMP '{MERGE_CUTOFF}'
               ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
),
base AS (SELECT * FROM ranked WHERE rn = 1 AND NOT is_delta),
delta AS (SELECT * FROM ranked WHERE rn = 1 AND is_delta)
SELECT COALESCE(d.user_id, b.user_id) AS user_id,
       COALESCE(d.event_id, b.event_id) AS last_event_id,
       COALESCE(d.event_type, b.event_type) AS last_event_type,
       COALESCE(d.value, b.value) AS last_value,
       COALESCE(d.ts_us, b.ts_us) AS last_ts_us,
       CASE WHEN b.event_id IS NULL THEN 'insert'
            WHEN d.event_id IS NULL THEN 'unchanged'
            ELSE 'update' END AS op
FROM base b FULL OUTER JOIN delta d ON b.user_id = d.user_id
"""


N_HIST_BUCKETS = 20
HIST_LO, HIST_HI = 0.0, 100.0


def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of event values — the profiling primitive
    behind every data-quality dashboard. Bucket assignment is a pure
    projection (floor arithmetic, clamped edges), the rollup is a
    combinable count — one shuffle of ≤ N_HIST_BUCKETS rows regardless
    of input size, the ideal 100 TB aggregation shape."""
    ev = load_table(spark, sf_dir, "events")
    width = (HIST_HI - HIST_LO) / N_HIST_BUCKETS
    bucket = F.least(
        F.greatest(F.floor((F.col("value") - HIST_LO) / width), F.lit(0)),
        F.lit(N_HIST_BUCKETS - 1)).cast("bigint")
    return (
        ev.groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.min("value").alias("lo"),
             F.max("value").alias("hi"))
    )


VALUE_HISTOGRAM_SQL = f"""
SELECT least(greatest(CAST(floor((value - {HIST_LO})
                  / (({HIST_HI} - {HIST_LO}) / {N_HIST_BUCKETS}))
                  AS BIGINT), 0), {N_HIST_BUCKETS - 1}) AS bucket,
       count(*) AS n, min(value) AS lo, max(value) AS hi
FROM events GROUP BY 1
"""


def modal_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user modal (most frequent) event type — count-then-argmax
    with a deterministic tie-break on the type string. Two combinable
    aggregations; the argmax is `max_by` over a (count, type) struct,
    so no window pass is needed."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n"))
    # tie-break: highest n, then LAST type alphabetically (struct max)
    return counts.groupBy("user_id").agg(
        F.max_by("event_type", F.struct("n", "event_type"))
        .alias("modal_type"),
        F.max("n").alias("modal_n"))


MODAL_EVENT_TYPE_SQL = """
WITH counts AS (
    SELECT user_id, event_type, count(*) AS n
    FROM events GROUP BY 1, 2
)
SELECT user_id, event_type AS modal_type, n AS modal_n FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY n DESC, event_type DESC) AS rn
    FROM counts
) WHERE rn = 1
"""


def weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7 retention: of the users active on day D, how many were also
    active on D+7 — the canonical product-analytics self-join. Both
    sides reduce to DISTINCT (user, day) BEFORE the join (the join
    input is the small distinct set, never raw events), then an equi
    join on (user, day+7) and a combinable rollup."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id",
                     F.to_date("ts").alias("day")).distinct()
    nxt = days.select("user_id", F.date_sub("day", 7).alias("day"),
                      F.lit(True).alias("retained"))
    return (
        days.join(nxt, ["user_id", "day"], "left")
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_active"),
             F.sum(F.when(F.col("retained"), 1).otherwise(0))
             .alias("n_retained_d7"))
        .withColumn("day", F.date_format("day", "yyyy-MM-dd"))
    )


WEEKLY_RETENTION_SQL = """
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
)
SELECT strftime(a.day, '%Y-%m-%d') AS day,
       count(*) AS n_active,
       CAST(sum(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_retained_d7
FROM days a
LEFT JOIN days b ON b.user_id = a.user_id
                AND b.day = a.day + INTERVAL 7 DAY
GROUP BY a.day
"""


HLL_EST_BOUND = 0.05  # |estimate − exact| / exact, default lgConfigK


def hll_sketch_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches: per-event-type HLL sketches
    of user_id, plus an 'ALL' row whose estimate comes from UNIONING
    the per-type sketches (hll_union_agg) — never re-scanning the
    fact. This two-level sketch-merge is THE pattern for distinct
    counts at 100 TB: sketches combine map-side, re-aggregate across
    days/partitions, and the union costs bytes, not a scan.

    Reported as a BOUNDED-ERROR AUDIT (VERDICT r8 item 7, rows-only →
    driver-adjudicated): the Datasketches registers are
    engine-internal, so the OUTPUT is the exact distinct per type (and
    globally, for the union row) plus a flag asserting
    |estimate − exact|/exact ≤ 5% — deterministic (hash-based sketch,
    no RNG). The oracle pins the exact counts and flags=1; the union
    row's exactness check is the strong one: the SKETCH-merged
    estimate must land within 5% of the true GLOBAL distinct the
    sketches never saw together.
    """
    ev = load_table(spark, sf_dir, "events")
    sketches = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_users"))
    per_type = sketches.select(
        "event_type", "exact_users",
        F.hll_sketch_estimate("sk").alias("est"))
    overall = (sketches.agg(
        F.lit("ALL").alias("event_type"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .crossJoin(
            ev.agg(F.countDistinct("user_id").alias("exact_users")))
        .select("event_type", "exact_users", "est"))
    rel = (F.abs(F.col("est").cast("double")
                 - F.col("exact_users").cast("double"))
           / F.col("exact_users").cast("double"))
    return (per_type.unionByName(overall)
            .select("event_type", "exact_users",
                    (rel <= HLL_EST_BOUND).cast("long")
                    .alias("est_within_bound")))


HLL_SKETCH_SQL = """
SELECT event_type, count(DISTINCT user_id) AS exact_users,
       CAST(1 AS BIGINT) AS est_within_bound
FROM events GROUP BY event_type
UNION ALL
SELECT 'ALL' AS event_type, count(DISTINCT user_id) AS exact_users,
       CAST(1 AS BIGINT) AS est_within_bound
FROM events
"""


def gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly series with gap filling + forward fill — the
    regularization pass every downstream time-series consumer (charts,
    anomaly detection, feature windows) needs: missing hours
    materialize with n_events = 0 and carry the last observed average
    forward (is_gap marks them).

    Scale notes: the dense grid is generated per GROUP from its own
    min/max (sequence + explode — no driver-side range, no cross join
    against a global calendar), the grid↔actuals join is on the
    aggregated (small) side, and the forward fill is one window pass
    over the grid — state bounded by hours-per-group, not events.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("event_type",
                   F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n"),
             davg("value", "avg_value")))
    return gap_fill_finish(hourly)


def gap_fill_finish(hourly: DataFrame) -> DataFrame:
    """Grid + forward-fill finishing over an (event_type, hour, n,
    avg_value) relation — shared verbatim by the batch operator above
    and the streaming twin (``streaming/foreach_batch.py`` runs it per
    trigger over the complete-mode aggregate state), so the two modes
    cannot drift."""
    grid = (
        hourly.groupBy("event_type")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select("event_type",
                F.explode(F.sequence(
                    "h0", "h1", F.expr("interval 1 hour"))).alias("hour")))
    joined = grid.join(hourly, ["event_type", "hour"], "left")
    w = (Window.partitionBy("event_type").orderBy("hour")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return joined.select(
        "event_type",
        F.unix_micros("hour").alias("hour_us"),
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.last("avg_value", ignorenulls=True).over(w)
        .alias("avg_value_ffill"),
        F.col("n").isNull().cast("int").alias("is_gap"),
    )


GAP_FILL_SQL = f"""
WITH hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n,
           {sql_davg('"value"', 'avg_value')}
    FROM events GROUP BY 1, 2),
bounds AS (SELECT event_type, min(hour) AS h0, max(hour) AS h1
           FROM hourly GROUP BY 1),
grid AS (SELECT event_type,
                unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
         FROM bounds)
SELECT g.event_type, epoch_us(g.hour) AS hour_us,
       COALESCE(n, 0) AS n_events,
       last_value(avg_value IGNORE NULLS) OVER (
           PARTITION BY g.event_type ORDER BY g.hour) AS avg_value_ffill,
       CAST(n IS NULL AS INT) AS is_gap
FROM grid g LEFT JOIN hourly h USING (event_type, hour)
"""


CORR_WINDOW = 24  # trailing hours (including current) per correlation


def rolling_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling Pearson correlation between the click and purchase
    hourly rate series — the co-movement diagnostic next to
    ``event_rate_anomaly``'s single-series z-score ("do purchases
    still track clicks this day?"). Window = trailing
    ``CORR_WINDOW`` hours including the current one over the dense
    global hour grid; incomplete or zero-variance windows score NULL.

    Exactness: both series are integer counts, so every moment the
    window needs (Σx, Σy, Σxy, Σx², Σy², k) is an exact integer sum
    and r = (kΣxy − ΣxΣy) / (√(kΣx²−Σx²·) · √(kΣy²−Σy²·)) is a fixed
    order of correctly-rounded double ops — identical cross-engine,
    no decimal pinning (the ``event_rate_anomaly`` argument).

    Scale: one conditional-aggregation pass builds both series
    (x = clicks, y = purchases per hour) — no self-join of the events
    table; the window runs over the HOUR-level relation, whose size
    is time-span, not event-count.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count(F.when(F.col("event_type") == "click", 1))
             .alias("x"),
             F.count(F.when(F.col("event_type") == "purchase", 1))
             .alias("y")))
    grid = (ev.agg(F.date_trunc("hour", F.min("ts")).alias("h0"),
                   F.date_trunc("hour", F.max("ts")).alias("h1"))
            .select(F.explode(F.sequence(
                "h0", "h1", F.expr("interval 1 hour"))).alias("hour")))
    dense = (grid.join(hourly, "hour", "left")
             .select("hour",
                     F.coalesce("x", F.lit(0)).alias("x"),
                     F.coalesce("y", F.lit(0)).alias("y")))
    w = (Window.orderBy("hour")
         .rowsBetween(-(CORR_WINDOW - 1), Window.currentRow))
    k = F.count(F.lit(1)).over(w)
    sx = F.sum("x").over(w)
    sy = F.sum("y").over(w)
    sxy = F.sum(F.col("x") * F.col("y")).over(w)
    sx2 = F.sum(F.col("x") * F.col("x")).over(w)
    sy2 = F.sum(F.col("y") * F.col("y")).over(w)
    num = (k * sxy - sx * sy).cast("double")
    denx = (k * sx2 - sx * sx).cast("double")
    deny = (k * sy2 - sy * sy).cast("double")
    return dense.select(
        F.unix_micros("hour").alias("hour_us"),
        F.col("x").alias("n_click"), F.col("y").alias("n_purchase"),
        F.when((k == CORR_WINDOW) & (denx > 0) & (deny > 0),
               F.round(num / (F.sqrt(denx) * F.sqrt(deny)), 6))
        .alias("r"))


ROLLING_CORR_SQL = f"""
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS hour,
           count(CASE WHEN event_type = 'click' THEN 1 END) AS x,
           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS y
    FROM events GROUP BY 1),
bounds AS (
    SELECT date_trunc('hour', min(ts)) AS h0,
           date_trunc('hour', max(ts)) AS h1 FROM events),
grid AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
         FROM bounds),
dense AS (
    SELECT g.hour, COALESCE(x, 0) AS x, COALESCE(y, 0) AS y
    FROM grid g LEFT JOIN hourly h USING (hour)),
framed AS (
    SELECT hour, x, y,
           count(*) OVER w AS k,
           sum(x) OVER w AS sx, sum(y) OVER w AS sy,
           sum(x * y) OVER w AS sxy,
           sum(x * x) OVER w AS sx2, sum(y * y) OVER w AS sy2
    FROM dense
    WINDOW w AS (ORDER BY hour
                 ROWS BETWEEN {CORR_WINDOW - 1} PRECEDING AND CURRENT ROW))
SELECT epoch_us(hour) AS hour_us, x AS n_click, y AS n_purchase,
       CASE WHEN k = {CORR_WINDOW}
             AND CAST(k * sx2 - sx * sx AS DOUBLE) > 0
             AND CAST(k * sy2 - sy * sy AS DOUBLE) > 0
            THEN round(CAST(k * sxy - sx * sy AS DOUBLE)
                       / (sqrt(CAST(k * sx2 - sx * sx AS DOUBLE))
                          * sqrt(CAST(k * sy2 - sy * sy AS DOUBLE))), 6)
       END AS r
FROM framed
"""


SIM_N_QUERY_USERS = 5
SIM_TOP_K = 10


def daily_profile_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search (the EDBT'19/VLDB'23 distributed
    data-series-search family, PAPERS.md): each user's activity
    profile is the 24-dim hour-of-day event-count vector; for the
    first ``SIM_N_QUERY_USERS`` users, find the top-``SIM_TOP_K``
    other users with the most similar daily rhythm by cosine.

    Spark-first shape — NO array column, the profile stays a sparse
    (user_id, hod, c) relation: dot products come from the hod
    equi-join against the broadcast query profiles (≤ 5×24 rows) and
    one combinable (query, candidate) aggregation; per-user squared
    norms are a reusable aggregate of the same relation. Missing
    hours contribute 0 to every sum, so sparse ≡ dense and nothing is
    ever zero-filled — the trick that keeps profile similarity linear
    in EVENTS, not users × 24, at 100 TB.

    Exactness: dot and both squared norms are pure integer sums;
    cosine is then 3 correctly-rounded double ops in fixed order —
    identical cross-engine. Ties rank by user_id.
    """
    ev = load_table(spark, sf_dir, "events")
    prof = (ev.groupBy("user_id",
                       F.hour("ts").alias("hod"))
            .agg(F.count(F.lit(1)).alias("c")))
    norms = prof.groupBy("user_id").agg(
        F.sum(F.col("c") * F.col("c")).alias("n2"))
    q_prof = (prof.filter(F.col("user_id") < SIM_N_QUERY_USERS)
              .select(F.col("user_id").alias("query_user"),
                      "hod", F.col("c").alias("qc")))
    q_norm = (norms.filter(F.col("user_id") < SIM_N_QUERY_USERS)
              .select(F.col("user_id").alias("query_user"),
                      F.col("n2").alias("qn2")))
    dots = (prof.join(F.broadcast(q_prof), "hod")
            .filter(F.col("user_id") != F.col("query_user"))
            .groupBy("query_user", "user_id")
            .agg(F.sum(F.col("c") * F.col("qc")).alias("dot")))
    scored = (dots.join(norms, "user_id")
              .join(F.broadcast(q_norm), "query_user")
              .select("query_user", "user_id",
                      F.round(F.col("dot").cast("double")
                              / (F.sqrt(F.col("n2").cast("double"))
                                 * F.sqrt(F.col("qn2").cast("double"))), 6)
                      .alias("cos_sim")))
    w = Window.partitionBy("query_user").orderBy(
        F.col("cos_sim").desc(), F.col("user_id"))
    return (scored.withColumn("rank",
                              F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= SIM_TOP_K))


DAILY_PROFILE_SIM_SQL = f"""
WITH prof AS (
    SELECT user_id, hour(ts) AS hod, count(*) AS c
    FROM events GROUP BY 1, 2
), norms AS (
    SELECT user_id, CAST(sum(c * c) AS BIGINT) AS n2
    FROM prof GROUP BY user_id
), dots AS (
    SELECT q.user_id AS query_user, p.user_id,
           CAST(sum(p.c * q.c) AS BIGINT) AS dot
    FROM prof p
    JOIN prof q ON q.hod = p.hod AND q.user_id < {SIM_N_QUERY_USERS}
               AND p.user_id <> q.user_id
    GROUP BY 1, 2
), scored AS (
    SELECT d.query_user, d.user_id,
           round(CAST(d.dot AS DOUBLE)
                 / (sqrt(CAST(n.n2 AS DOUBLE))
                    * sqrt(CAST(qn.n2 AS DOUBLE))), 6) AS cos_sim
    FROM dots d
    JOIN norms n ON n.user_id = d.user_id
    JOIN norms qn ON qn.user_id = d.query_user
)
SELECT query_user, user_id, cos_sim, rank FROM (
    SELECT *, CAST(row_number() OVER (PARTITION BY query_user
                                      ORDER BY cos_sim DESC, user_id)
                   AS BIGINT) AS rank
    FROM scored
) WHERE rank <= {SIM_TOP_K}
"""


def session_path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path analysis: the first-order Markov transition
    matrix over event types WITHIN 30-minute sessions — for each
    (from_type → to_type) pair of consecutive same-session events, the
    transition count and conditional probability. The product-analytics
    question ("what do users do after an error?") the sessionizer
    exists to feed.

    Session boundaries use the lag-gap-cumsum idiom (the proven
    ``session_windows_30m`` oracle construction) and transitions come
    from ``lead`` over the SAME (user_id, (ts, event_id)) window —
    cross-session pairs are dropped by comparing the led session id
    rather than re-partitioning by session, so all three window passes
    share ONE user_id exchange (Catalyst plans a single shuffle; the
    transition-matrix aggregation and its per-from normalization
    shuffle ≤ |event_type|² rows).

    Exactness: counts are integers; p = n/total is one
    correctly-rounded division, identical cross-engine.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(w)
    new_sess = F.when(
        prev_ts.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)
           >= 30 * 60 * 1_000_000), 1).otherwise(0)
    sessioned = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.sum(new_sess).over(wc).alias("session_id"))
    trans = (
        sessioned
        .withColumn("to_type", F.lead("event_type").over(w))
        .withColumn("to_sess", F.lead("session_id").over(w))
        .filter(F.col("to_sess") == F.col("session_id"))
        .select(F.col("event_type").alias("from_type"), "to_type"))
    counts = trans.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n"))
    total = F.sum("n").over(Window.partitionBy("from_type"))
    return counts.select(
        "from_type", "to_type", "n",
        F.round(F.col("n").cast("double") / total.cast("double"), 6)
        .alias("p"))


SESSION_PATH_SQL = """
WITH flagged AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                     >= 30 * 60 * 1000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessioned AS (
    SELECT user_id, ts, event_id, event_type,
           SUM(new_session) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
), trans AS (
    SELECT event_type AS from_type,
           lead(event_type) OVER w AS to_type,
           lead(session_id) OVER w AS to_sess, session_id
    FROM sessioned
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), counts AS (
    SELECT from_type, to_type, count(*) AS n
    FROM trans WHERE to_sess = session_id
    GROUP BY from_type, to_type
)
SELECT from_type, to_type, n,
       round(CAST(n AS DOUBLE)
             / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6)
           AS p
FROM counts
"""


ANOM_LOOKBACK = 24   # trailing hours in the reference frame
ANOM_Z = 2.0         # |z| threshold


def event_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate anomaly detection — the ops-monitoring analytic the
    regularized series exists for: per event type, flag hours whose
    count deviates more than ``ANOM_Z`` sample standard deviations
    from the TRAILING ``ANOM_LOOKBACK``-hour window (the window never
    includes the scored hour, so a spike can't mask itself). Hours
    with an incomplete lookback or zero variance score NULL.

    Built over the dense zero-filled hourly grid (the
    ``gap_fill_hourly`` trick — per-group sequence, no driver range),
    because a trailing ROWS frame only equals a trailing TIME window
    when missing hours materialize as zeros.

    Exactness: counts are integers, so the frame's sum and
    sum-of-squares are exact; mean/variance/z are then a fixed
    written order of correctly-rounded double ops — identical
    cross-engine without decimal pinning (the same argument as the
    quantizer's int-sum iterations).

    Scale: one combinable hourly pre-aggregation, then ONE window
    pass partitioned by event_type; per-partition state is bounded by
    hours, not events.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("event_type",
                   F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n")))
    return event_rate_anomaly_finish(hourly)


def event_rate_anomaly_finish(hourly: DataFrame) -> DataFrame:
    """Dense-grid + trailing-window z-score finishing over an
    (event_type, hour, n) relation — shared verbatim by the batch
    operator above and the streaming twin
    (``streaming/foreach_batch.py`` re-runs it per trigger over the
    complete-mode aggregate state), so the two modes cannot drift."""
    grid = (
        hourly.groupBy("event_type")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select("event_type",
                F.explode(F.sequence(
                    "h0", "h1", F.expr("interval 1 hour"))).alias("hour")))
    dense = (grid.join(hourly, ["event_type", "hour"], "left")
             .select("event_type", "hour",
                     F.coalesce("n", F.lit(0)).alias("c")))
    w = (Window.partitionBy("event_type").orderBy("hour")
         .rowsBetween(-ANOM_LOOKBACK, -1))
    k = F.count(F.lit(1)).over(w)
    sum_c = F.sum("c").over(w)
    sum_c2 = F.sum(F.col("c") * F.col("c")).over(w)
    kd = k.cast("double")
    mean = sum_c.cast("double") / kd
    var = ((sum_c2.cast("double")
            - sum_c.cast("double") * sum_c.cast("double") / kd)
           / (kd - F.lit(1.0)))
    z = (F.col("c").cast("double") - mean) / F.sqrt(var)
    scored = dense.select(
        "event_type", F.unix_micros("hour").alias("hour_us"),
        F.col("c").alias("n_events"),
        F.when((k == ANOM_LOOKBACK) & (var > 0), F.round(z, 6))
        .alias("z"))
    return scored.withColumn(
        "is_anomaly",
        F.when(F.col("z").isNotNull() & (F.abs("z") > ANOM_Z), 1)
        .otherwise(0).cast("bigint"))


EVENT_RATE_ANOMALY_SQL = f"""
WITH hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
    FROM events GROUP BY 1, 2),
bounds AS (SELECT event_type, min(hour) AS h0, max(hour) AS h1
           FROM hourly GROUP BY 1),
grid AS (SELECT event_type,
                unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
         FROM bounds),
dense AS (
    SELECT g.event_type, g.hour, COALESCE(n, 0) AS c
    FROM grid g LEFT JOIN hourly h USING (event_type, hour)),
framed AS (
    SELECT event_type, hour, c,
           count(*) OVER w AS k,
           sum(c) OVER w AS sum_c,
           sum(c * c) OVER w AS sum_c2
    FROM dense
    WINDOW w AS (PARTITION BY event_type ORDER BY hour
                 ROWS BETWEEN {ANOM_LOOKBACK} PRECEDING AND 1 PRECEDING)),
scored AS (
    SELECT event_type, epoch_us(hour) AS hour_us, c AS n_events,
           CASE WHEN k = {ANOM_LOOKBACK}
                 AND (CAST(sum_c2 AS DOUBLE)
                      - CAST(sum_c AS DOUBLE) * CAST(sum_c AS DOUBLE)
                        / CAST(k AS DOUBLE))
                     / (CAST(k AS DOUBLE) - 1.0) > 0
                THEN round(
                    (CAST(c AS DOUBLE)
                     - CAST(sum_c AS DOUBLE) / CAST(k AS DOUBLE))
                    / sqrt((CAST(sum_c2 AS DOUBLE)
                            - CAST(sum_c AS DOUBLE) * CAST(sum_c AS DOUBLE)
                              / CAST(k AS DOUBLE))
                           / (CAST(k AS DOUBLE) - 1.0)), 6)
           END AS z
    FROM framed)
SELECT event_type, hour_us, n_events, z,
       CAST(CASE WHEN z IS NOT NULL AND abs(z) > {ANOM_Z!r}
                 THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
FROM scored
"""


def scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build from a change stream: collapse each
    user's event log into attribute-version rows with [valid_from,
    valid_to) intervals and a current flag — the standard warehouse
    history table, derived with two window passes over ONE shuffle
    (both windows share the user_id partitioning, so Catalyst plans a
    single exchange). Timestamps surface as epoch-µs integers per the
    cross-engine contract."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (ev
               .withColumn("prev_type", F.lag("event_type").over(w))
               .filter(F.col("prev_type").isNull()
                       | (F.col("prev_type") != F.col("event_type"))))
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (changes
            .withColumn("valid_to", F.lead("ts").over(w2))
            .select(
                "user_id",
                F.col("event_type").alias("attr"),
                F.unix_micros("ts").alias("valid_from_us"),
                F.unix_micros("valid_to").alias("valid_to_us"),
                F.col("valid_to").isNull().alias("is_current")))


SCD2_DIMENSION_SQL = """
WITH ordered AS (
    SELECT user_id, event_id, ts, event_type,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_type
    FROM events
), changes AS (
    SELECT user_id, event_id, ts, event_type
    FROM ordered
    WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id,
       event_type AS attr,
       epoch_us(ts) AS valid_from_us,
       epoch_us(lead(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id)) AS valid_to_us,
       (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        IS NULL) AS is_current
FROM changes
"""


def ordered_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step funnel (view → click → purchase): a user counts
    for step N only with an event strictly after their step-N-1 time —
    sequential pattern matching, the product-analytics op the flat
    event counts can't answer.

    Single-shuffle formulation: the sequential dependency (t2 needs t1,
    t3 needs t2) is expressed as THREE STACKED conditional window mins
    over the SAME ``user_id`` partitioning — Catalyst plans one hash
    exchange shared by all three Window operators, and events is
    scanned once. The earlier stepwise filter+agg+join version cost 6
    exchanges and 3 scans of the fact for identical results; at 100 TB
    the difference is the whole job. Per-user window state is bounded
    by that user's event count — no unbounded growth.

    Both engines compare microsecond timestamps (the loader truncates
    parquet nanos, DuckDB's native TIMESTAMP is µs), so strict-after
    semantics agree exactly.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    per = (
        ev.withColumn("t1", F.min(F.when(
            F.col("event_type") == "view", F.col("ts"))).over(w))
        .withColumn("t2", F.min(F.when(
            (F.col("event_type") == "click")
            & (F.col("ts") > F.col("t1")), F.col("ts"))).over(w))
        .withColumn("t3", F.min(F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("t2")), F.col("ts"))).over(w))
    )
    # one row per user (reuses the window's hash partitioning — no new
    # exchange), then a global 1-row reduction of non-null indicators
    users = per.groupBy("user_id").agg(
        F.first("t1").alias("t1"), F.first("t2").alias("t2"),
        F.first("t3").alias("t3"))
    counts = users.agg(
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_click"),
        F.count("t3").alias("n_purchase"))
    # The oracle's GROUP BY emits no row for an empty stage; stack()
    # would emit (stage, 0) — drop zero-count stages so both engines
    # agree even when a funnel stage has no qualifying users.
    return counts.selectExpr(
        "stack(3, 'view', n_view, 'view>click', n_click, "
        "'view>click>purchase', n_purchase) AS (stage, n_users)"
    ).filter(F.col("n_users") > 0)


ORDERED_FUNNEL_SQL = """
WITH t1 AS (
    SELECT user_id, min(ts) AS t1 FROM events
    WHERE event_type = 'view' GROUP BY user_id
), t2 AS (
    SELECT e.user_id, min(e.ts) AS t2
    FROM events e JOIN t1 USING (user_id)
    WHERE e.event_type = 'click' AND e.ts > t1.t1
    GROUP BY e.user_id
), t3 AS (
    SELECT e.user_id, min(e.ts) AS t3
    FROM events e JOIN t2 USING (user_id)
    WHERE e.event_type = 'purchase' AND e.ts > t2.t2
    GROUP BY e.user_id
)
SELECT stage, count(*) AS n_users FROM (
    SELECT 'view' AS stage, user_id FROM t1
    UNION ALL SELECT 'view>click', user_id FROM t2
    UNION ALL SELECT 'view>click>purchase', user_id FROM t3
) GROUP BY stage
"""


# --- exponentially-weighted moving average --------------------------------

EWMA_DEPTH = 8  # trailing events per user in the EWMA frame


def ewma_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event EWMA of ``value`` over each user's trailing 8 events
    (alpha = 1/2) — the streaming-dashboard smoother ("what is this
    user's activity level right now?") next to ``event_rate_anomaly``'s
    global z-score.

    ema_t = Σₖ 2⁻ᵏ·v_{t−k} / Σₖ 2⁻ᵏ over the lags that exist; a
    partial head window just renormalizes over the present terms.

    Exactness without decimals: every weight is a power of two, so each
    product w·v is an EXACT double scaling; the numerator/denominator
    are explicit k=0..7 left-associated chains — the identical
    correctly-rounded op sequence on both engines (no engine-chosen
    accumulation order, the hazard a plain windowed sum would have).

    Scale: one window partitioned by user ordered by time, 8 lag
    taps — no self-join, single exchange on user_id.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lags = [F.lag("value", k).over(w) for k in range(EWMA_DEPTH)]
    num = F.lit(0.0)
    den = F.lit(0.0)
    for k in range(EWMA_DEPTH):
        wt = 2.0 ** -k
        num = num + F.coalesce(lags[k], F.lit(0.0)) * F.lit(wt)
        den = den + F.when(lags[k].isNull(), 0.0).otherwise(wt)
    return ev.select(
        "event_id", "user_id",
        F.round(num / den, 6).alias("ema8"))


def _ewma_sql_terms() -> tuple[str, str]:
    nums, dens = [], []
    for k in range(EWMA_DEPTH):
        lag = (f"lag(value, {k}) OVER (PARTITION BY user_id "
               f"ORDER BY ts, event_id)")
        nums.append(f"COALESCE({lag}, 0.0) * {2.0 ** -k!r}")
        dens.append(f"CASE WHEN {lag} IS NULL THEN 0.0 "
                    f"ELSE {2.0 ** -k!r} END")
    return " + ".join(nums), " + ".join(dens)


EWMA_SQL = f"""
SELECT event_id, user_id,
       round(({_ewma_sql_terms()[0]})
             / ({_ewma_sql_terms()[1]}), 6) AS ema8
FROM events
"""


# --- median-absolute-deviation outliers -----------------------------------


def mad_outlier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen per event type: lower-median of ``value``,
    MAD (lower-median of |value − med|), and the count of events more
    than 3·MAD from the median — the heavy-tail filter quality
    pipelines run before trusting mean/stddev gates.

    Exactness: both "medians" are ORDER STATISTICS (the element at
    rank ⌊(n+1)/2⌋ under a total order with event_id tiebreak), never
    interpolated — Spark's and DuckDB's percentile interpolation
    formulas differ in ulps, but an element selected by rank is the
    same double bit-for-bit. |v − med| and the 3·MAD compare are
    fixed-order double ops.

    Scale: two rank windows partitioned by event_type plus broadcast
    joins of the 5-row median relations — no all-pairs, no sort of
    anything bigger than the per-type partition.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")
    w1 = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.withColumn("rn", F.row_number().over(w1)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("event_type")))
    med = (ranked.filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
           .select("event_type", F.col("value").alias("med")))
    diffs = (ev.join(F.broadcast(med), "event_type")
             .withColumn("adiff", F.abs(F.col("value") - F.col("med"))))
    w2 = Window.partitionBy("event_type").orderBy("adiff", "event_id")
    mad = (diffs.withColumn("rn", F.row_number().over(w2)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("event_type")))
        .filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .select("event_type", F.col("adiff").alias("mad")))
    return (diffs.join(F.broadcast(mad), "event_type")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.max("med").alias("med"),
                 F.max("mad").alias("mad"),
                 F.count(F.when(
                     F.col("adiff") > F.lit(3.0) * F.col("mad"), 1))
                 .alias("n_outliers"))
            .select("event_type", "n_events",
                    F.round("med", 6).alias("med"),
                    F.round("mad", 6).alias("mad"), "n_outliers"))


MAD_OUTLIER_SQL = """
WITH ranked AS (
    SELECT event_type, event_id, value,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM events
), med AS (
    SELECT event_type, value AS med FROM ranked
    WHERE rn = (n + 1) // 2
), diffs AS (
    SELECT e.event_type, e.event_id, abs(e.value - m.med) AS adiff,
           m.med
    FROM events e JOIN med m USING (event_type)
), ranked2 AS (
    SELECT event_type, adiff,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY adiff, event_id) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM diffs
), mad AS (
    SELECT event_type, adiff AS mad FROM ranked2
    WHERE rn = (n + 1) // 2
)
SELECT event_type, count(*) AS n_events,
       round(max(med), 6) AS med, round(max(mad), 6) AS mad,
       count(CASE WHEN adiff > 3.0 * mad THEN 1 END) AS n_outliers
FROM diffs JOIN mad USING (event_type)
GROUP BY event_type
"""


# --- association rules (market basket over event types) -------------------


def assoc_rules_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional association rules between event types at user
    granularity: for each ordered pair (antecedent → consequent),
    support = P(both), confidence = P(consequent | antecedent),
    lift = P(both) / (P(a)·P(c)) — the market-basket statistics
    ("users who click also purchase?") over behavioral event data.

    Exactness: all inputs are integer user counts; each metric is one
    or two double divisions in fixed order, rounded to 6 dp.

    Scale: the pair relation is the distinct (user, type) table
    self-joined on user_id — bounded by |types|² per user, with
    |types| a small vocabulary; per-type totals broadcast. One shuffle
    on user_id, one on the pair key. The basket relation feeds three
    consumers (both self-join sides + the marginals), so it is
    lineage-cut — without the cut each consumer replays the
    scan+distinct (audited round 5: 8 executed exchanges → 4).
    """
    from ..functions.lineage import truncate_lineage

    ev = load_table(spark, sf_dir, "events")
    ut = truncate_lineage(ev.select("user_id", "event_type").distinct())
    n_users = ev.agg(
        F.countDistinct("user_id").alias("n_users"))
    per_type = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_type"))
    pairs = (ut.alias("a")
             .join(ut.alias("b"), "user_id")
             .filter(F.col("a.event_type") != F.col("b.event_type"))
             .groupBy(F.col("a.event_type").alias("antecedent"),
                      F.col("b.event_type").alias("consequent"))
             .agg(F.count(F.lit(1)).alias("n_both")))
    return (pairs
            .join(F.broadcast(per_type.withColumnRenamed(
                "event_type", "antecedent")
                .withColumnRenamed("n_type", "n_ante")), "antecedent")
            .join(F.broadcast(per_type.withColumnRenamed(
                "event_type", "consequent")
                .withColumnRenamed("n_type", "n_cons")), "consequent")
            .crossJoin(n_users)
            .select(
                "antecedent", "consequent", "n_both",
                F.round(F.col("n_both") / F.col("n_users"), 6)
                .alias("support"),
                F.round(F.col("n_both") / F.col("n_ante"), 6)
                .alias("confidence"),
                F.round((F.col("n_both") * F.col("n_users")).cast("double")
                        / (F.col("n_ante") * F.col("n_cons")), 6)
                .alias("lift")))


ASSOC_RULES_SQL = """
WITH ut AS (
    SELECT DISTINCT user_id, event_type FROM events
), n_users AS (
    SELECT count(DISTINCT user_id) AS n_users FROM events
), per_type AS (
    SELECT event_type, count(*) AS n_type FROM ut GROUP BY 1
), pairs AS (
    SELECT a.event_type AS antecedent, b.event_type AS consequent,
           count(*) AS n_both
    FROM ut a JOIN ut b USING (user_id)
    WHERE a.event_type <> b.event_type
    GROUP BY 1, 2
)
SELECT antecedent, consequent, n_both,
       round(CAST(n_both AS DOUBLE) / n_users, 6) AS support,
       round(CAST(n_both AS DOUBLE) / ante.n_type, 6) AS confidence,
       round(CAST(n_both * n_users AS DOUBLE)
             / (ante.n_type * cons.n_type), 6) AS lift
FROM pairs
JOIN per_type ante ON ante.event_type = antecedent
JOIN per_type cons ON cons.event_type = consequent, n_users
"""


# --- user growth curve ----------------------------------------------------


def user_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily product growth: new users (first-ever event that day),
    active users, and the cumulative registered-user curve — the
    canonical DAU/growth dashboard panel, and the batch shape of a
    streaming first-seen dedup.

    Exactness: everything is an integer count over exact date
    truncation; the cumulative sum is an integer running total.

    Scale: first-seen is a per-user min (combinable); daily actives a
    distinct count per day; the running total a window over the
    DAY-level relation (time-span-sized, not event-sized).
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.date_format(F.col("ts"), "yyyy-MM-dd")
    first_seen = (ev.groupBy("user_id")
                  .agg(F.min(day).alias("day")))
    new_users = first_seen.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_new"))
    active = (ev.groupBy(day.alias("day"))
              .agg(F.countDistinct("user_id").alias("n_active")))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (active.join(new_users, "day", "left")
            .select("day", "n_active",
                    F.coalesce("n_new", F.lit(0)).alias("n_new"))
            .withColumn("cum_users", F.sum("n_new").over(w)))


USER_GROWTH_SQL = """
WITH first_seen AS (
    SELECT user_id, min(strftime(ts, '%Y-%m-%d')) AS day
    FROM events GROUP BY 1
), new_users AS (
    SELECT day, count(*) AS n_new FROM first_seen GROUP BY 1
), active AS (
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           count(DISTINCT user_id) AS n_active
    FROM events GROUP BY 1
)
SELECT day, n_active, COALESCE(n_new, 0) AS n_new,
       CAST(sum(COALESCE(n_new, 0)) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum_users
FROM active LEFT JOIN new_users USING (day)
"""


# --- winsorized statistics ------------------------------------------------


def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per event type: clamp ``value`` to the exact
    5th/95th order statistics before averaging — the robust-mean
    companion to ``mad_outlier_events`` (clamp instead of drop).

    Exactness: the clamp bounds are rank-SELECTED elements (rank
    ⌊n·5/100⌋⌈n·95/100⌉ with event_id tiebreak, never interpolated);
    clamped values are therefore raw input doubles, so the decimal-
    pinned mean (``davg``) is order-insensitive and engine-exact.

    Scale: one rank window per type, two 5-row bound relations
    broadcast back, one combinable aggregate.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("event_type")))
    lo = (ranked.filter(
        F.col("rn") == F.greatest(
            F.lit(1), F.floor(F.col("n") * 5 / 100)))
        .select("event_type", F.col("value").alias("lo")))
    hi = (ranked.filter(F.col("rn") == F.ceil(F.col("n") * 95 / 100))
          .select("event_type", F.col("value").alias("hi")))
    clamped = (ev.join(F.broadcast(lo), "event_type")
               .join(F.broadcast(hi), "event_type")
               .withColumn("wv", F.greatest(
                   "lo", F.least("hi", F.col("value")))))
    return (clamped.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.count(F.when(F.col("value") < F.col("lo"), 1))
                 .alias("n_clamped_lo"),
                 F.count(F.when(F.col("value") > F.col("hi"), 1))
                 .alias("n_clamped_hi"),
                 F.round(F.max("lo"), 6).alias("lo"),
                 F.round(F.max("hi"), 6).alias("hi"),
                 davg("value", "raw_mean"),
                 davg("wv", "winsorized_mean"))
            .select("event_type", "n_events", "n_clamped_lo",
                    "n_clamped_hi", "lo", "hi",
                    F.round("raw_mean", 6).alias("raw_mean"),
                    F.round("winsorized_mean", 6)
                    .alias("winsorized_mean")))


WINSORIZED_SQL = f"""
WITH ranked AS (
    SELECT event_type, event_id, value,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM events
), lo AS (
    SELECT event_type, value AS lo FROM ranked
    WHERE rn = greatest(1, floor(n * 5 / 100))
), hi AS (
    SELECT event_type, value AS hi FROM ranked
    WHERE rn = ceil(n * 95 / 100)
), clamped AS (
    SELECT e.event_type, e.value, lo.lo, hi.hi,
           greatest(lo.lo, least(hi.hi, e.value)) AS wv
    FROM events e JOIN lo USING (event_type) JOIN hi USING (event_type)
)
SELECT event_type, count(*) AS n_events,
       count(CASE WHEN value < lo THEN 1 END) AS n_clamped_lo,
       count(CASE WHEN value > hi THEN 1 END) AS n_clamped_hi,
       round(max(lo), 6) AS lo, round(max(hi), 6) AS hi,
       round(CAST(SUM(CAST(value AS {SQL_DEC})) AS DOUBLE)
             / COUNT(value), 6) AS raw_mean,
       round(CAST(SUM(CAST(wv AS {SQL_DEC})) AS DOUBLE)
             / COUNT(wv), 6) AS winsorized_mean
FROM clamped GROUP BY event_type
"""


# --- cohort LTV matrix ----------------------------------------------------


def cohort_ltv_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: users grouped by first-activity
    week, tracked across week offsets — active users, per-week value,
    and cumulative LTV per cohort member (the retention economics
    panel next to ``weekly_retention``'s pure activity matrix).

    Exactness: week truncation is Monday-aligned in both engines;
    value sums are decimal-pinned (``dsum``); the cumulative sum runs
    over exact decimals; per-user LTV is one rounded division.

    Scale: one (cohort, offset) aggregate over events, a broadcast of
    the cohort-size relation, and a running-total window over the
    matrix relation (weeks² rows, not events).
    """
    ev = load_table(spark, sf_dir, "events")
    week = F.date_trunc("week", "ts")
    cohorts = (ev.groupBy("user_id")
               .agg(F.min(week).alias("cohort_week")))
    sizes = cohorts.groupBy("cohort_week").agg(
        F.countDistinct("user_id").alias("cohort_size"))
    joined = (ev.join(cohorts, "user_id")
              .withColumn("week_offset",
                          F.floor(
                              (F.unix_micros(week)
                               - F.unix_micros("cohort_week"))
                              / F.lit(7 * 24 * 3600 * 1_000_000))
                          .cast("bigint")))
    cell = (joined.groupBy("cohort_week", "week_offset")
            .agg(F.countDistinct("user_id").alias("n_active"),
                 F.sum(F.col("value").cast(DEC))
                 .alias("dec_value")))
    w = (Window.partitionBy("cohort_week").orderBy("week_offset")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (cell.join(F.broadcast(sizes), "cohort_week")
            .withColumn("cum_value", F.sum("dec_value").over(w))
            .select(
                F.date_format("cohort_week", "yyyy-MM-dd")
                .alias("cohort_week"),
                "week_offset", "n_active", "cohort_size",
                F.round(F.col("dec_value").cast("double"), 6)
                .alias("week_value"),
                F.round(F.col("cum_value").cast("double")
                        / F.col("cohort_size"), 6)
                .alias("ltv_per_user")))


COHORT_LTV_SQL = f"""
WITH cohorts AS (
    SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
    FROM events GROUP BY 1
), sizes AS (
    SELECT cohort_week, count(DISTINCT user_id) AS cohort_size
    FROM cohorts GROUP BY 1
), cell AS (
    SELECT c.cohort_week,
           CAST(floor(epoch_us(date_trunc('week', e.ts))
                      - epoch_us(c.cohort_week))
                // 604800000000 AS BIGINT) AS week_offset,
           count(DISTINCT e.user_id) AS n_active,
           sum(CAST(e.value AS {SQL_DEC})) AS dec_value
    FROM events e JOIN cohorts c USING (user_id)
    GROUP BY 1, 2
)
SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
       week_offset, n_active, cohort_size,
       round(CAST(dec_value AS DOUBLE), 6) AS week_value,
       round(CAST(sum(dec_value) OVER (
                 PARTITION BY cohort_week ORDER BY week_offset
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE) / cohort_size, 6) AS ltv_per_user
FROM cell JOIN sizes USING (cohort_week)
"""


# --- A/B proportion test --------------------------------------------------


AB_CONV_MIN_PURCHASES = 14  # conversion = heavy purchaser (mixed rate)


def ab_test_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between deterministic user buckets
    (``user_id % 2``): does bucket A convert (≥ ``AB_CONV_MIN_PURCHASES``
    purchases) at a
    different rate than bucket B? The experimentation primitive every
    product analytics stack runs on event data.

    Exactness: user counts and conversion counts are integers; rates,
    the pooled rate, and the z statistic are a fixed order of double
    ops rounded to 6 dp.

    Scale: one distinct-user pass with conditional aggregation — two
    exchanges total, output is one row.
    """
    ev = load_table(spark, sf_dir, "events")
    users = (ev.groupBy("user_id")
             .agg(F.when(
                 F.count(F.when(F.col("event_type") == "purchase", 1))
                 >= AB_CONV_MIN_PURCHASES, 1).otherwise(0)
                 .alias("converted"))
             .withColumn("bucket", (F.col("user_id") % 2).cast("int")))
    agg = users.groupBy().agg(
        F.count(F.when(F.col("bucket") == 0, 1)).alias("n_a"),
        F.count(F.when(F.col("bucket") == 1, 1)).alias("n_b"),
        F.sum(F.when(F.col("bucket") == 0, F.col("converted"))
              .otherwise(0)).alias("conv_a"),
        F.sum(F.when(F.col("bucket") == 1, F.col("converted"))
              .otherwise(0)).alias("conv_b"))
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    pa = F.col("conv_a").cast("double") / na
    pb = F.col("conv_b").cast("double") / nb
    pp = (F.col("conv_a") + F.col("conv_b")).cast("double") / (na + nb)
    var = pp * (F.lit(1.0) - pp) * (F.lit(1.0) / na + F.lit(1.0) / nb)
    return agg.select(
        "n_a", "n_b", "conv_a", "conv_b",
        F.round(pa, 6).alias("rate_a"),
        F.round(pb, 6).alias("rate_b"),
        F.when(var > 0, F.round((pa - pb) / F.sqrt(var), 6))
        .alias("z_score"))


AB_TEST_SQL = f"""
WITH users AS (
    SELECT user_id, user_id % 2 AS bucket,
           CASE WHEN count(CASE WHEN event_type = 'purchase' THEN 1 END)
                     >= {AB_CONV_MIN_PURCHASES} THEN 1 ELSE 0 END
               AS converted
    FROM events GROUP BY 1
), agg AS (
    SELECT count(CASE WHEN bucket = 0 THEN 1 END) AS n_a,
           count(CASE WHEN bucket = 1 THEN 1 END) AS n_b,
           CAST(sum(CASE WHEN bucket = 0 THEN converted ELSE 0 END)
                AS BIGINT) AS conv_a,
           CAST(sum(CASE WHEN bucket = 1 THEN converted ELSE 0 END)
                AS BIGINT) AS conv_b
    FROM users
)
SELECT n_a, n_b, conv_a, conv_b,
       round(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS rate_a,
       round(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS rate_b,
       CASE WHEN (CAST(conv_a + conv_b AS DOUBLE)
                  / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                 * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                    / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                 * (1.0 / CAST(n_a AS DOUBLE)
                    + 1.0 / CAST(n_b AS DOUBLE)) > 0
       THEN round((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
              - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
             / sqrt((CAST(conv_a + conv_b AS DOUBLE)
                     / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                    * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                       / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                    * (1.0 / CAST(n_a AS DOUBLE)
                       + 1.0 / CAST(n_b AS DOUBLE))), 6)
       END AS z_score
FROM agg
"""


# --- burstiness (Fano factor) ---------------------------------------------


def burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic burstiness per event type: the Fano factor
    (variance / mean of hourly counts over the dense hour grid) —
    1 means Poisson-like arrivals, > 1 bursty, < 1 regular; the
    capacity-planning diagnostic next to ``event_rate_anomaly``.

    Exactness: hourly counts are integers over the dense grid (hours
    with no events count 0, which the grid join makes explicit);
    variance uses the integer moment identity
    n·Σx² − (Σx)² over exact sums, so the single division chain is
    fixed-order doubles rounded to 6 dp.

    Scale: one conditional aggregate to the (hour, type) relation,
    a grid fill, then per-type integer moments — never wider than
    hours × types.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (ev.groupBy(F.date_trunc("hour", "ts").alias("hour"),
                         "event_type")
              .agg(F.count(F.lit(1)).alias("x")))
    grid = (ev.agg(F.date_trunc("hour", F.min("ts")).alias("h0"),
                   F.date_trunc("hour", F.max("ts")).alias("h1"))
            .select(F.explode(F.sequence(
                "h0", "h1", F.expr("interval 1 hour"))).alias("hour"))
            .crossJoin(ev.select("event_type").distinct()))
    dense = (grid.join(hourly, ["hour", "event_type"], "left")
             .select("event_type",
                     F.coalesce("x", F.lit(0)).alias("x")))
    mom = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"))
    k = F.col("k").cast("double")
    sx = F.col("sx").cast("double")
    sx2 = F.col("sx2").cast("double")
    mean = sx / k
    var = (k * sx2 - sx * sx) / (k * k)
    return mom.select(
        "event_type", F.col("k").alias("n_hours"),
        F.col("sx").cast("bigint").alias("n_events"),
        F.round(mean, 6).alias("mean_per_hour"),
        F.round(var / mean, 6).alias("fano"))


BURSTINESS_SQL = """
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS x
    FROM events GROUP BY 1, 2
), bounds AS (
    SELECT date_trunc('hour', min(ts)) AS h0,
           date_trunc('hour', max(ts)) AS h1 FROM events
), grid AS (
    SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour, t.event_type
    FROM bounds, (SELECT DISTINCT event_type FROM events) t
), dense AS (
    SELECT g.event_type, COALESCE(h.x, 0) AS x
    FROM grid g LEFT JOIN hourly h
      ON h.hour = g.hour AND h.event_type = g.event_type
), mom AS (
    SELECT event_type, count(*) AS k,
           CAST(sum(x) AS BIGINT) AS sx,
           CAST(sum(x * x) AS BIGINT) AS sx2
    FROM dense GROUP BY 1
)
SELECT event_type, k AS n_hours, sx AS n_events,
       round(CAST(sx AS DOUBLE) / CAST(k AS DOUBLE), 6) AS mean_per_hour,
       round(((CAST(k AS DOUBLE) * CAST(sx2 AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE)))
             / (CAST(sx AS DOUBLE) / CAST(k AS DOUBLE)), 6) AS fano
FROM mom
"""


# --- time to convert ------------------------------------------------------


def time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: per user, the lag from first
    view to the first strictly-later purchase; reported as conversion
    rate plus rank-selected median and p90 latencies — the
    time-dimension companion of ``ordered_funnel``'s step counts.

    Exactness: latencies are integer microseconds; the median and p90
    are ORDER STATISTICS at ranks ⌊(n+1)/2⌋ and ⌈n·9/10⌉ under a
    (latency, user_id) total order — no interpolation, same element
    bit-for-bit on both engines; the rate is one rounded division.

    Scale: one per-user conditional aggregate (combinable min), one
    rank window over the CONVERTED-user relation, one global rollup.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = (ev.groupBy("user_id")
                .agg(F.min(F.when(F.col("event_type") == "view",
                                  F.col("ts"))).alias("first_view")))
    first_purch = (ev.filter(F.col("event_type") == "purchase")
                   .join(per_user, "user_id")
                   .filter(F.col("ts") > F.col("first_view"))
                   .groupBy("user_id")
                   .agg(F.min("ts").alias("first_purchase")))
    conv = (per_user.filter(F.col("first_view").isNotNull())
            .join(first_purch, "user_id", "left")
            .withColumn("delta_us",
                        F.unix_micros("first_purchase")
                        - F.unix_micros("first_view")))
    converted = conv.filter(F.col("delta_us").isNotNull())
    w = Window.orderBy("delta_us", "user_id")
    ranked = (converted
              .withColumn("rn", F.row_number().over(w))
              .withColumn("n", F.count(F.lit(1)).over(
                  Window.partitionBy())))
    # global AGGREGATES (one row even over an empty converted set —
    # a zero-conversion slice must report (n, 0, 0.0, NULL, NULL),
    # never silently vanish)
    med = ranked.agg(F.max(F.when(
        F.col("rn") == F.floor((F.col("n") + 1) / 2),
        F.col("delta_us"))).alias("median_us"))
    p90 = ranked.agg(F.max(F.when(
        F.col("rn") == F.ceil(F.col("n") * 9 / 10),
        F.col("delta_us"))).alias("p90_us"))
    totals = conv.agg(
        F.count(F.lit(1)).alias("n_viewed"),
        F.count("delta_us").alias("n_converted"))
    return (totals.crossJoin(med)
            .crossJoin(p90)
            .select("n_viewed", "n_converted",
                    F.round(F.col("n_converted").cast("double")
                            / F.col("n_viewed"), 6).alias("cvr"),
                    "median_us", "p90_us"))


TIME_TO_CONVERT_SQL = """
WITH per_user AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'view' THEN ts END) AS first_view
    FROM events GROUP BY 1
), first_purch AS (
    SELECT e.user_id, min(e.ts) AS first_purchase
    FROM events e JOIN per_user u USING (user_id)
    WHERE e.event_type = 'purchase' AND e.ts > u.first_view
    GROUP BY 1
), conv AS (
    SELECT u.user_id,
           epoch_us(p.first_purchase) - epoch_us(u.first_view)
               AS delta_us
    FROM per_user u LEFT JOIN first_purch p USING (user_id)
    WHERE u.first_view IS NOT NULL
), ranked AS (
    SELECT delta_us,
           row_number() OVER (ORDER BY delta_us, user_id) AS rn,
           count(*) OVER () AS n
    FROM conv WHERE delta_us IS NOT NULL
), med AS (SELECT max(CASE WHEN rn = (n + 1) // 2
                    THEN delta_us END) AS median_us FROM ranked),
p90 AS (SELECT max(CASE WHEN rn = CAST(ceil(n * 9 / 10.0) AS BIGINT)
                   THEN delta_us END) AS p90_us FROM ranked),
totals AS (
    SELECT count(*) AS n_viewed, count(delta_us) AS n_converted
    FROM conv
)
SELECT n_viewed, n_converted,
       round(CAST(n_converted AS DOUBLE) / n_viewed, 6) AS cvr,
       median_us, p90_us
FROM totals, med, p90
"""


RFM_Q = 5   # quintile segmentation on each RFM dimension


def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation over
    purchase events — the classic marketing-analytics operator: score
    every purchasing user 1..5 on each dimension (1 = best: most
    recent, most frequent, highest spend), then report the segment
    grid with member counts and total spend. Segments are EXPLICIT
    rank-derived quintiles, seg = (i−1)·5 // n + 1 over the ranked
    user list — deterministic and engine-exact, unlike ntile's
    remainder-distribution conventions; ties break on user_id after
    the dimension value (decimal-exact monetary comparison).

    Scale: events reduce to ONE row per purchasing user (combinable
    max/count/decimal-sum aggregation) before any ranking; the three
    rank windows run over that per-user relation — documented
    single-partition windows on an already-reduced relation (the
    ``quantile_normalize_scores`` convention); at cluster scale swap
    the explicit ranks for approx-percentile cutpoints + a CASE, the
    same swap note as ``unigram_logprob_filter``. Output is the ≤ 5³
    segment grid.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = (ev.filter(F.col("event_type") == "purchase")
                .groupBy("user_id")
                .agg(F.max(F.unix_micros("ts")).alias("last_us"),
                     F.count(F.lit(1)).alias("n_purchases"),
                     F.sum(F.col("value").cast(DEC)).alias("spend")))
    n = F.count(F.lit(1)).over(Window.partitionBy())
    ranked = per_user.select(
        "user_id", "spend", n.alias("n"),
        F.row_number().over(
            Window.orderBy(F.col("last_us").desc(), "user_id"))
        .alias("ir"),
        F.row_number().over(
            Window.orderBy(F.col("n_purchases").desc(), "user_id"))
        .alias("if_"),
        F.row_number().over(
            Window.orderBy(F.col("spend").desc(), "user_id"))
        .alias("im"))
    # `div` = true integer division (the oracle's `//`) — a double
    # `/`-then-cast can round up across an integer boundary at extreme
    # rank×n magnitudes
    scored = ranked.selectExpr(
        "user_id", "spend",
        f"(ir - 1) * {RFM_Q} div n + 1 AS r_seg",
        f"(if_ - 1) * {RFM_Q} div n + 1 AS f_seg",
        f"(im - 1) * {RFM_Q} div n + 1 AS m_seg")
    return (scored.groupBy("r_seg", "f_seg", "m_seg")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.sum("spend").cast("double").alias("total_spend")))


RFM_SQL = f"""
WITH per_user AS (
    SELECT user_id, max(epoch_us(ts)) AS last_us,
           count(*) AS n_purchases,
           sum(CAST(value AS {SQL_DEC})) AS spend
    FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
scored AS (
    SELECT user_id, spend,
           ((row_number() OVER (ORDER BY last_us DESC, user_id) - 1)
            * {RFM_Q}) // count(*) OVER () + 1 AS r_seg,
           ((row_number() OVER (ORDER BY n_purchases DESC, user_id) - 1)
            * {RFM_Q}) // count(*) OVER () + 1 AS f_seg,
           ((row_number() OVER (ORDER BY spend DESC, user_id) - 1)
            * {RFM_Q}) // count(*) OVER () + 1 AS m_seg
    FROM per_user
)
SELECT r_seg, f_seg, m_seg, count(*) AS n_users,
       CAST(sum(spend) AS DOUBLE) AS total_spend
FROM scored GROUP BY 1, 2, 3
"""


def watermark_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness profile of the event stream — the measurement
    that PICKS a watermark (`streaming/` hard-codes 10 minutes; this
    query is where such a number should come from): treating
    ``event_id`` as arrival order (the generator's write order), an
    event's lateness is how far its event-time sits behind the maximum
    event-time already arrived for that user. Per event_type: the
    share of late events, the max lateness, and the rank-exact p95
    lateness — set the watermark at/above the tail you are willing to
    drop.

    Exactness: lateness = greatest(0, running-max-µs − ts-µs), all
    integers; p95 is the order statistic at ascending rank
    ⌈0.95·n⌉ (never interpolated) — the smallest rank i with
    20·i ≥ 19·n, which at n = 1 picks the single event (no NULL).

    Scale: ONE user-keyed window pass over the stream computes the
    running max (the same single exchange the as-of family rides);
    the per-type ranking windows run on the (type, lateness) relation.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    ts_us = F.unix_micros("ts")
    late = F.greatest(
        F.lit(0).cast("long"),
        F.max(ts_us).over(w) - ts_us).alias("late_us")
    lates = ev.select("event_type", late).na.fill({"late_us": 0})
    wr = Window.partitionBy("event_type").orderBy("late_us")
    ranked = lates.select(
        "event_type", "late_us",
        F.row_number().over(wr).alias("i"),
        F.count(F.lit(1)).over(
            Window.partitionBy("event_type")).alias("n"))
    return (ranked.groupBy("event_type")
            .agg(F.max("n").alias("n_events"),
                 F.sum(F.when(F.col("late_us") > 0, 1).otherwise(0))
                 .cast("bigint").alias("n_late"),
                 F.max("late_us").alias("max_late_us"),
                 F.min(F.when(
                     F.col("i") * 20 >= F.col("n") * 19,
                     F.col("late_us"))).alias("p95_late_us"))
            .select("event_type", "n_events", "n_late",
                    F.round(F.col("n_late")
                            / F.col("n_events").cast("double"), 10)
                    .alias("late_share"),
                    "max_late_us", "p95_late_us"))


WATERMARK_LATENESS_SQL = """
WITH lates AS (
    SELECT event_type,
           greatest(0, COALESCE(max(epoch_us(ts)) OVER (
                           PARTITION BY user_id ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0)
                       - CASE WHEN max(epoch_us(ts)) OVER (
                                  PARTITION BY user_id ORDER BY event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING) IS NULL
                              THEN 0 ELSE epoch_us(ts) END) AS late_us
    FROM events
),
ranked AS (
    SELECT event_type, late_us,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY late_us) AS i,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM lates
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_late,
       round(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)
             / CAST(max(n) AS DOUBLE), 10) AS late_share,
       max(late_us) AS max_late_us,
       min(CASE WHEN i * 20 >= n * 19 THEN late_us END) AS p95_late_us
FROM ranked GROUP BY event_type
"""


def time_weighted_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP) of the event ``value`` per
    event_type — the aggregation finance/metering pipelines need when
    samples arrive irregularly: each observation is weighted by how
    long it REMAINED current (until the next same-type event), so a
    value that held for an hour counts 60× one that held a minute —
    versus the count-weighted mean every other aggregate here uses.
    Last observation carries no interval and is excluded (standard
    left-closed convention).

    Exactness (the ``token_entropy`` convention — ``value`` is an
    arbitrary double, so no cents trick applies): each interval's
    weighted term value·Δt_seconds is computed as doubles in ONE
    written order, round(·,4)-pinned to DECIMAL(25,4), and summed
    exactly — order-independent across engines; interval spans are
    exact integer µs; the final division is one correctly-rounded
    double op, round 6.

    Scale: ONE event_type-keyed window pass (lead) + one combinable
    aggregation. The window partitions by event_type — at 100 TB
    sub-partition by (event_type, day) and stitch boundaries, the
    standard interval-chunking move.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    ts_us = F.unix_micros("ts")
    nxt = F.lead(ts_us).over(w)
    seg = (ev.select("event_type", ts_us.alias("t"),
                     nxt.alias("t_next"), "value")
           .filter(F.col("t_next").isNotNull())
           .select("event_type",
                   (F.col("t_next") - F.col("t")).alias("dt"),
                   "value"))
    term = (F.round(F.col("value")
                    * (F.col("dt") / F.lit(1000000.0)), 4)
            .cast("decimal(25,4)"))
    return (seg.select("event_type", "dt", term.alias("term"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_intervals"),
                 F.sum("dt").alias("span_us"),
                 F.sum("term").alias("wsum"))
            .select("event_type", "n_intervals",
                    F.col("span_us").cast("bigint").alias("span_us"),
                    F.round(F.col("wsum").cast("double")
                            / (F.col("span_us").cast("double")
                               / 1000000.0), 6).alias("twap_value")))


TIME_WEIGHTED_AVG_SQL = """
WITH seg AS (
    SELECT event_type,
           lead(epoch_us(ts)) OVER (PARTITION BY event_type
                                    ORDER BY ts, event_id)
             - epoch_us(ts) AS dt,
           value
    FROM events
)
SELECT event_type,
       count(*) AS n_intervals,
       CAST(sum(dt) AS BIGINT) AS span_us,
       round(CAST(sum(CAST(round(value * (dt / 1000000.0), 4)
                           AS DECIMAL(25,4))) AS DOUBLE)
             / (CAST(sum(dt) AS DOUBLE) / 1000000.0), 6) AS twap_value
FROM seg WHERE dt IS NOT NULL
GROUP BY event_type
"""


# --- Holt linear-trend smoothing ------------------------------------------


def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend double exponential smoothing (Holt 1957;
    Hyndman & Athanasopoulos fpp3 §8.2) over each event type's DAILY
    count series, with alpha = beta = 1/2: level l_t = (y_t + l + b)/2,
    trend b_t = (l_t - l)/2 + b/2, initialized l = y_1, b = y_2 - y_1.
    Emits the final state and the h=1 / h=3 forecasts l + h·b — the
    capacity-planning companion of `event_rate_anomaly` (that one
    flags history, this one extrapolates it).

    Exactness: the smoothing recursion is evaluated as the IDENTICAL
    IEEE double expression tree in both engines — Spark folds the
    day-ordered series with `F.aggregate`, DuckDB with a recursive CTE
    over the day index; same operand order, same halvings, so every
    intermediate is bit-identical (the dyadic-coefficient trick
    `ewma_user_activity` pioneered, extended to two coupled states).
    Gap days count 0 via the per-type dense grid.

    Scale: the daily reduction is a combinable count; the fold runs
    over ONE array per event type whose length is the day span —
    time-bounded, not event-bounded (a year is 365 elements). The
    collect_list + sort_array materialization per group is the same
    bounded-series shape the gap-fill family uses; at 100 TB the state
    is still days × types.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.count(F.lit(1)).alias("n")))
    return holt_finish(daily)


def holt_finish(daily: DataFrame) -> DataFrame:
    """Dense-grid zero fill + the Holt fold over an (event_type, day,
    n) relation — shared verbatim by the batch operator above and the
    streaming twin (``streaming/foreach_batch.py`` runs it per trigger
    over the complete-mode daily aggregate state), so the two modes
    cannot drift."""
    grid = (daily.groupBy("event_type")
            .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
            .select("event_type",
                    F.explode(F.sequence(
                        "d0", "d1", F.expr("interval 1 day"))).alias("day")))
    filled = (grid.join(daily, ["event_type", "day"], "left")
              .select("event_type", "day",
                      F.coalesce("n", F.lit(0)).alias("y")))
    series = (filled.groupBy("event_type")
              .agg(F.transform(
                  F.sort_array(F.collect_list(F.struct("day", "y"))),
                  lambda s: s["y"].cast("double")).alias("arr")))

    def step(s, y):
        new_l = (y + s["l"] + s["b"]) / 2
        return F.struct(
            new_l.alias("l"),
            ((new_l - s["l"]) / 2 + s["b"] / 2).alias("b"))

    init = F.struct(
        F.element_at("arr", 1).alias("l"),
        (F.element_at("arr", 2) - F.element_at("arr", 1)).alias("b"))
    rest = F.slice("arr", 3, F.greatest(F.size("arr") - 2, F.lit(0)))
    return (series.filter(F.size("arr") >= 2)
            .withColumn("st", F.aggregate(rest, init, step))
            .select("event_type",
                    F.size("arr").alias("n_days"),
                    F.col("st")["l"].alias("level"),
                    F.col("st")["b"].alias("trend"),
                    (F.col("st")["l"] + F.col("st")["b"])
                    .alias("forecast_1"),
                    (F.col("st")["l"] + 3.0 * F.col("st")["b"])
                    .alias("forecast_3")))


HOLT_SQL = """
WITH RECURSIVE daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
    FROM events GROUP BY 1, 2
), span AS (
    SELECT event_type, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
), grid AS (
    SELECT event_type, CAST(gs AS DATE) AS day
    FROM span, unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                      CAST(d1 AS TIMESTAMP),
                                      INTERVAL 1 DAY)) AS t(gs)
), series AS (
    SELECT g.event_type,
           row_number() OVER (PARTITION BY g.event_type
                              ORDER BY g.day) AS t,
           CAST(COALESCE(d.n, 0) AS DOUBLE) AS y
    FROM grid g LEFT JOIN daily d
      ON g.event_type = d.event_type AND g.day = d.day
), nn AS (
    SELECT event_type, max(t) AS n_days FROM series GROUP BY 1
), rec AS (
    SELECT a.event_type, CAST(2 AS BIGINT) AS t,
           a.y AS l, b.y - a.y AS b
    FROM series a JOIN series b
      ON a.event_type = b.event_type AND a.t = 1 AND b.t = 2
    UNION ALL
    SELECT r.event_type, r.t + 1,
           (s.y + r.l + r.b) / 2 AS l,
           (((s.y + r.l + r.b) / 2) - r.l) / 2 + r.b / 2 AS b
    FROM rec r JOIN series s
      ON s.event_type = r.event_type AND s.t = r.t + 1
)
SELECT r.event_type, nn.n_days, r.l AS level, r.b AS trend,
       r.l + r.b AS forecast_1, r.l + 3.0 * r.b AS forecast_3
FROM rec r JOIN nn ON r.event_type = nn.event_type
WHERE r.t = nn.n_days AND nn.n_days >= 2
"""


# --- marketing attribution (first vs last touch) --------------------------

ATTR_WINDOW_US = 24 * 3600 * 1000000  # 24h lookback, microseconds


def attribution_first_last_touch(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """First-touch vs last-touch conversion attribution — the two
    classic (and deliberately disagreeing) marketing attribution
    rules computed side by side: for every purchase, the EARLIEST and
    the LATEST non-purchase event of the same user in the trailing
    24 h window is 'the' touch; per touch type, how many conversions
    each rule credits it. Product analytics runs exactly this pair to
    show stakeholders how rule choice moves budget.

    Exactness: touch selection is min/max over (ts, event_id) struct
    ordering — total and deterministic; outputs are integer counts.

    Scale: ONE user-keyed range window (RANGE BETWEEN 24h PRECEDING)
    computes both touches for every purchase in a single pass — no
    self-join, no per-purchase subquery; then a tiny per-type rollup.
    The window frame is time-bounded, so state per user is the 24 h
    event buffer — the streaming-equivalent retention.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    base = ev.select("user_id", "event_type", "event_id",
                     us.alias("us"))
    w = (Window.partitionBy("user_id").orderBy("us")
         .rangeBetween(-ATTR_WINDOW_US, -1))
    touch = F.struct("us", "event_id", "event_type")
    touchable = F.when(F.col("event_type") != "purchase", touch)
    first_t = F.min(touchable).over(w)
    last_t = F.max(touchable).over(w)
    purchases = (base
                 .withColumn("first_touch", first_t["event_type"])
                 .withColumn("last_touch", last_t["event_type"])
                 .filter(F.col("event_type") == "purchase"))
    ft = (purchases.filter(F.col("first_touch").isNotNull())
          .groupBy(F.col("first_touch").alias("touch_type"))
          .agg(F.count(F.lit(1)).alias("first_touch_conversions")))
    lt = (purchases.filter(F.col("last_touch").isNotNull())
          .groupBy(F.col("last_touch").alias("touch_type"))
          .agg(F.count(F.lit(1)).alias("last_touch_conversions")))
    return (ft.join(lt, "touch_type", "full_outer")
            .select("touch_type",
                    F.coalesce("first_touch_conversions", F.lit(0))
                    .alias("first_touch_conversions"),
                    F.coalesce("last_touch_conversions", F.lit(0))
                    .alias("last_touch_conversions")))


ATTRIBUTION_SQL = f"""
WITH base AS (
    SELECT user_id, event_type, event_id, epoch_us(ts) AS us
    FROM events
), touched AS (
    SELECT user_id, event_type,
           min(CASE WHEN event_type <> 'purchase'
                    THEN (us, event_id, event_type) END)
               OVER w AS first_t,
           max(CASE WHEN event_type <> 'purchase'
                    THEN (us, event_id, event_type) END)
               OVER w AS last_t
    FROM base
    WINDOW w AS (PARTITION BY user_id ORDER BY us
                 RANGE BETWEEN {ATTR_WINDOW_US} PRECEDING
                           AND 1 PRECEDING)
), purchases AS (
    SELECT first_t[3] AS first_touch, last_t[3] AS last_touch
    FROM touched WHERE event_type = 'purchase'
), ft AS (
    SELECT first_touch AS touch_type,
           count(*) AS first_touch_conversions
    FROM purchases WHERE first_touch IS NOT NULL GROUP BY 1
), lt AS (
    SELECT last_touch AS touch_type,
           count(*) AS last_touch_conversions
    FROM purchases WHERE last_touch IS NOT NULL GROUP BY 1
)
SELECT touch_type,
       COALESCE(first_touch_conversions, 0)
           AS first_touch_conversions,
       COALESCE(last_touch_conversions, 0) AS last_touch_conversions
FROM ft FULL OUTER JOIN lt USING (touch_type)
"""


# --- held-out Markov next-event accuracy ----------------------------------


def markov_heldout_accuracy(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Held-out evaluation of the first-order Markov next-event model
    — `session_path_transitions` builds the transition matrix; this
    measures whether it PREDICTS: train argmax(P(next | current)) on
    the md5 75 % of USERS (split by user so no user's history leaks
    across the boundary — the grouped-split discipline), score top-1
    accuracy on the held-out users' transitions, per current-event
    state. The `heldout_bigram_perplexity` discipline applied to the
    behavioral model.

    Exactness: transitions are lag pairs under the total (ts,
    event_id) order; the argmax rule is (count DESC, next ASC) —
    deterministic; outputs are integer counts and one safe-band
    round(·,10) ratio.

    Scale: one user-keyed window for transitions, one combinable
    (v, w) count on the train side collapsed to a 5-row broadcast
    rule table, one broadcast join + rollup on the test side.
    """
    ev = load_table(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (ev.select(
        "user_id", "event_type",
        F.lag("event_type").over(w_user).alias("prev"))
        .filter(F.col("prev").isNotNull())
        .select("user_id", F.col("prev").alias("v"),
                F.col("event_type").alias("w")))
    is_train = (F.conv(F.substring(
        F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 4) != 0
    train = trans.filter(is_train)
    test = trans.filter(~is_train)
    counts = train.groupBy("v", "w").agg(
        F.count(F.lit(1)).alias("c"))
    rule_rank = F.row_number().over(
        Window.partitionBy("v").orderBy(F.col("c").desc(), "w"))
    rules = (counts.withColumn("rnk", rule_rank)
             .filter(F.col("rnk") == 1)
             .select("v", F.col("w").alias("predicted")))
    return (test.join(F.broadcast(rules), "v", "left")
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("n_test"),
                 F.max("predicted").alias("predicted"),
                 F.sum(F.when(F.col("w") == F.col("predicted"), 1)
                       .otherwise(0)).alias("n_correct"))
            .select(F.col("v").alias("current_event"), "predicted",
                    "n_test", "n_correct",
                    F.round(F.col("n_correct") / F.col("n_test"), 10)
                    .alias("top1_accuracy")))


MARKOV_HELDOUT_SQL = """
WITH trans AS (
    SELECT user_id,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS v,
           event_type AS w
    FROM events
), t2 AS (
    SELECT user_id, v, w,
           ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
               ::BIGINT % 4 <> 0 AS is_train
    FROM trans WHERE v IS NOT NULL
), rules AS (
    SELECT v, w AS predicted FROM (
        SELECT v, w,
               row_number() OVER (PARTITION BY v
                                  ORDER BY count(*) DESC, w) AS rnk
        FROM t2 WHERE is_train GROUP BY v, w
    ) WHERE rnk = 1
)
SELECT t.v AS current_event, max(r.predicted) AS predicted,
       count(*) AS n_test,
       CAST(sum(CASE WHEN t.w = r.predicted THEN 1 ELSE 0 END)
           AS BIGINT) AS n_correct,
       round(CAST(sum(CASE WHEN t.w = r.predicted THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 10) AS top1_accuracy
FROM t2 t LEFT JOIN rules r ON t.v = r.v
WHERE NOT t.is_train
GROUP BY t.v
"""


# --- seasonal-naive forecast skill (MASE) -----------------------------------

MASE_SEASON_H = 24  # daily seasonality on the hourly grid


def hourly_counts(ev: DataFrame) -> DataFrame:
    """(event_type, h, c) hourly event counts on the integer
    epoch-hour grid key — the shared corpus-collapsing stage of the
    hourly family (``seasonal_naive_mase``, its streaming twin, and
    ``hourly_seasonality_strength``). Works identically on a batch or
    streaming events relation."""
    return (ev.select("event_type",
                      F.expr("unix_micros(ts) div 3600000000")
                      .alias("h"))
            .groupBy("event_type", "h")
            .agg(F.count(F.lit(1)).alias("c")))


def dense_hourly(counts: DataFrame) -> DataFrame:
    """Densify (event_type, h, c) onto the global (min, max) hour
    bounds: (event_type, h, hmax, y) with zero-count hours explicit —
    zeros carry real signal for both the lag-24 diffs and the
    variance decomposition. Bounds attach as a broadcast 1-row
    relation; the grid is manifest-sized (|types| × |hours|)."""
    bounds = counts.agg(F.min("h").alias("hmin"), F.max("h").alias("hmax"))
    types = counts.select("event_type").distinct()
    grid = (types.crossJoin(bounds)
            .select("event_type", "hmax",
                    F.explode(F.sequence("hmin", "hmax")).alias("h")))
    return (grid.join(counts, ["event_type", "h"], "left")
            .select("event_type", "h", "hmax",
                    F.coalesce("c", F.lit(0)).alias("y")))


def seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-skill readout per event_type: MASE (Hyndman & Koehler
    2006) of the 24-hour-seasonal-naive forecast ŷ_t = y_{t-24} on the
    LAST day of hourly event counts, scaled by the same forecaster's
    in-sample MAE on all prior days. MASE < 1 means the series carries
    exploitable structure beyond daily repetition; it is the
    scale-free gate a pipeline runs before paying for a real model
    (the Holt op here is one) — and the denominator convention makes
    types with wildly different volumes comparable.

    Exactness: the hourly grid is integer epoch-hours (``epoch_us div
    3600e6``), densified from each engine's identical (min, max) hour
    bounds; counts and |y_t − y_{t-24}| are exact integers, each MAE is
    ONE division of exact-integer operands, and MASE is one division
    of those two bit-identical doubles — no decimal pin needed.

    Scale: one combinable (event_type, hour) count — the only
    corpus-sized stage — then every window/join runs on the dense grid
    (|types| × |hours|: manifest-sized, 3.6 K cells here, ~1e6 at a
    century of hours). The lag-24 window partitions by event_type over
    that grid; the (min, max) bounds attach as a broadcast 1-row
    relation. At 100 TB nothing changes: the grid stays tiny while the
    count stage scales linearly with one exchange.
    """
    ev = load_table(spark, sf_dir, "events")
    return mase_finish(hourly_counts(ev))


def mase_finish(counts: DataFrame) -> DataFrame:
    """Dense-grid lag-24 MASE over an (event_type, h, c) relation —
    shared verbatim by the batch operator above and the foreachBatch
    streaming twin (``streaming/foreach_batch.run_seasonal_mase_stream``),
    the repo's "streaming ingest, batch finish per trigger" pattern."""
    dense = dense_hourly(counts)
    w = Window.partitionBy("event_type").orderBy("h")
    lagged = dense.select(
        "event_type", "h", "hmax", "y",
        F.lag("y", MASE_SEASON_H).over(w).alias("y_prev"))
    diff = lagged.filter(F.col("y_prev").isNotNull()).select(
        "event_type",
        F.abs(F.col("y") - F.col("y_prev")).alias("ad"),
        (F.col("h") > F.col("hmax") - F.lit(MASE_SEASON_H))
        .alias("is_test"))
    agg = (diff.groupBy("event_type")
           .agg(F.sum(F.when(~F.col("is_test"), 1).otherwise(0))
                .alias("n_train"),
                F.sum(F.when(~F.col("is_test"), F.col("ad"))
                      .otherwise(0)).alias("sad_train"),
                F.sum(F.when(F.col("is_test"), 1).otherwise(0))
                .alias("n_test"),
                F.sum(F.when(F.col("is_test"), F.col("ad"))
                      .otherwise(0)).alias("sad_test")))
    mae_train = (F.col("sad_train").cast("double")
                 / F.col("n_train").cast("double"))
    mae_test = (F.col("sad_test").cast("double")
                / F.col("n_test").cast("double"))
    return agg.select("event_type", "n_train", "n_test",
                      mae_train.alias("mae_insample"),
                      mae_test.alias("mae_test"),
                      (mae_test / mae_train).alias("mase"))


SEASONAL_NAIVE_MASE_SQL = f"""
WITH counts AS (
    SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*) AS c
    FROM events GROUP BY 1, 2
), bounds AS (
    SELECT min(h) AS hmin, max(h) AS hmax FROM counts
), grid AS (
    SELECT t.event_type, b.hmax, g.h
    FROM (SELECT DISTINCT event_type FROM counts) t,
         bounds b,
         LATERAL (SELECT unnest(generate_series(b.hmin, b.hmax)) AS h) g
), dense AS (
    SELECT g.event_type, g.h, g.hmax, COALESCE(c.c, 0) AS y
    FROM grid g LEFT JOIN counts c
      ON g.event_type = c.event_type AND g.h = c.h
), lagged AS (
    SELECT event_type, h, hmax, y,
           lag(y, {MASE_SEASON_H}) OVER (PARTITION BY event_type
                                         ORDER BY h) AS y_prev
    FROM dense
), diff AS (
    SELECT event_type, abs(y - y_prev) AS ad,
           h > hmax - {MASE_SEASON_H} AS is_test
    FROM lagged WHERE y_prev IS NOT NULL
), agg AS (
    SELECT event_type,
           sum(CASE WHEN NOT is_test THEN 1 ELSE 0 END) AS n_train,
           sum(CASE WHEN NOT is_test THEN ad ELSE 0 END) AS sad_train,
           sum(CASE WHEN is_test THEN 1 ELSE 0 END) AS n_test,
           sum(CASE WHEN is_test THEN ad ELSE 0 END) AS sad_test
    FROM diff GROUP BY event_type
)
SELECT event_type,
       CAST(n_train AS BIGINT) AS n_train,
       CAST(n_test AS BIGINT) AS n_test,
       CAST(sad_train AS DOUBLE) / CAST(n_train AS DOUBLE) AS mae_insample,
       CAST(sad_test AS DOUBLE) / CAST(n_test AS DOUBLE) AS mae_test,
       (CAST(sad_test AS DOUBLE) / CAST(n_test AS DOUBLE))
           / (CAST(sad_train AS DOUBLE) / CAST(n_train AS DOUBLE)) AS mase
FROM agg
"""


# --- bucketed interval-overlap join ----------------------------------------

OVL_GAP_US = 1_800_000_000   # 30 min: session gap AND activity tail
OVL_HOUR_US = 3_600_000_000  # bucket width of the interval join


def session_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-user concurrency: which user sessions OVERLAP in wall
    time, per day — the interval self-join Spark has no native range
    operator for (co-browsing/fraud rings, concurrency licensing,
    load attribution all ask it). Sessions are the engine's standard
    30-min-gap intervals, held active for one gap past their last
    event ([first_event, last_event + 30 min)); a pair overlaps iff
    max(starts) < min(ends), and the report is per-day overlapping
    pair counts with mean overlap seconds.

    The join is the public bucketed-range-join technique (what
    Flink's interval join and warehouse range-join hints do under the
    hood): each interval explodes to the hour buckets it touches,
    candidates pair WITHIN a bucket only, and a pair is kept exactly
    once — by the bucket that contains its overlap START — so no
    distinct pass is needed. Bucket width is the fan-out knob: it
    bounds candidates to |bucket|² per hour instead of |day|² per
    day, and at 100 TB you narrow it (minutes) to keep per-bucket
    membership flat while the exploded relation grows only by
    interval_length/width per row. Session build: one user-keyed
    window + one combinable agg; no stage is ever corpus².

    Exactness: all boundaries are exact integer epoch-µs; overlap
    spans are integer µs; the mean is one division of exact-integer
    operands then one division by the 1e6 literal — bit-identical on
    identical trees, no decimal pin.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros("ts")
    flagged = ev.select(
        "user_id", "event_id", t.alias("t"),
        F.when(F.lag(t).over(w).isNull()
               | ((t - F.lag(t).over(w)) > OVL_GAP_US), 1)
        .otherwise(0).alias("new_s"))
    cw = Window.partitionBy("user_id").orderBy("t", "event_id")
    sids = flagged.select(
        "user_id", "t",
        F.sum("new_s").over(
            cw.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("sid"))
    sess = (sids.groupBy("user_id", "sid")
            .agg(F.min("t").alias("s"),
                 (F.max("t") + F.lit(OVL_GAP_US)).alias("e")))
    spans = sess.select(
        "user_id", "sid", "s", "e",
        F.explode(F.sequence(
            F.expr(f"s div {OVL_HOUR_US}"),
            F.expr(f"(e - 1) div {OVL_HOUR_US}"))).alias("hb"))
    a, b = spans.alias("a"), spans.alias("b")
    ovl_start = F.greatest(F.col("a.s"), F.col("b.s"))
    ovl_end = F.least(F.col("a.e"), F.col("b.e"))
    pairs = (a.join(b, (F.col("a.hb") == F.col("b.hb"))
                    & (F.col("a.user_id") < F.col("b.user_id"))
                    & (ovl_start < ovl_end)
                    & (F.expr(f"a.hb = (greatest(a.s, b.s) div "
                              f"{OVL_HOUR_US})")))
             .select(F.expr("a.hb div 24").alias("day_idx"),
                     (ovl_end - ovl_start).alias("ovl_us")))
    return (pairs.groupBy("day_idx")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.sum("ovl_us").alias("sum_us"))
            .select(F.date_from_unix_date(
                        F.col("day_idx").cast("int")).alias("day"),
                    "n_pairs",
                    (F.col("sum_us").cast("double")
                     / F.col("n_pairs").cast("double")
                     / F.lit(1000000.0)).alias("avg_overlap_s")))


SESSION_OVERLAP_SQL = f"""
WITH flagged AS (
    SELECT user_id, event_id, epoch_us(ts) AS t,
           CASE WHEN lag(epoch_us(ts)) OVER uw IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER uw
                       > {OVL_GAP_US}
                THEN 1 ELSE 0 END AS new_s
    FROM events
    WINDOW uw AS (PARTITION BY user_id ORDER BY ts, event_id)
), sids AS (
    SELECT user_id, t,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
), sess AS (
    SELECT user_id, sid, min(t) AS s, max(t) + {OVL_GAP_US} AS e
    FROM sids GROUP BY user_id, sid
), spans AS (
    SELECT user_id, sid, s, e, g.hb
    FROM sess, LATERAL (SELECT unnest(generate_series(
        s // {OVL_HOUR_US}, (e - 1) // {OVL_HOUR_US})) AS hb) g
), pairs AS (
    SELECT a.hb // 24 AS day_idx,
           least(a.e, b.e) - greatest(a.s, b.s) AS ovl_us
    FROM spans a JOIN spans b
      ON a.hb = b.hb
     AND a.user_id < b.user_id
     AND greatest(a.s, b.s) < least(a.e, b.e)
     AND a.hb = greatest(a.s, b.s) // {OVL_HOUR_US}
)
SELECT DATE '1970-01-01' + CAST(day_idx AS INTEGER) AS day,
       count(*) AS n_pairs,
       CAST(sum(ovl_us) AS DOUBLE) / CAST(count(*) AS DOUBLE)
           / 1000000.0 AS avg_overlap_s
FROM pairs GROUP BY day_idx
"""


# --- sessionization gap-parameter sensitivity --------------------------------

SESS_GAPS_MIN = (15, 30, 60)  # candidate inactivity thresholds


def sessionization_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameter-sensitivity audit for the engine's session family:
    how many sessions, events-per-session, and broken-gap share the
    corpus yields under a 15/30/60-minute inactivity threshold — the
    table you read BEFORE hard-coding a session gap (every session
    operator here uses 30 min; this op shows whether that constant
    sits on a plateau or a cliff of the gap-distribution CDF).

    Session count needs NO per-session grouping: sessions(T) =
    n_users + #{consecutive same-user gaps > T}, so ONE user-keyed
    lag pass serves every threshold simultaneously — three conditional
    sums into one aggregate row, which then EXPLODES into the
    per-threshold table (not a union of per-threshold selects, which
    would re-plan the corpus pass per branch).

    Exactness: all counts are exact integers; the two ratios are one
    exact-operand division each — no decimal pin.

    Scale: one window exchange (user_id) + one combinable global
    aggregate; adding thresholds is free (another conditional sum over
    the same pass). At 100 TB this is the cheapest member of the
    session family — no session state is ever materialized.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros("ts")
    gaps = ev.select("user_id", (t - F.lag(t).over(w)).alias("gap_us"))
    aggs = [F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.count("gap_us").alias("n_gaps")]
    for m in SESS_GAPS_MIN:
        aggs.append(F.sum(
            F.when(F.col("gap_us") > m * 60_000_000, 1).otherwise(0))
            .alias(f"b{m}"))
    tot = gaps.agg(*aggs)

    def branch(m: int):
        n_sessions = F.col("n_users") + F.col(f"b{m}")
        return F.struct(
            F.lit(m).cast("bigint").alias("gap_minutes"),
            n_sessions.alias("n_sessions"),
            (F.col("n_events").cast("double")
             / n_sessions.cast("double")).alias("events_per_session"),
            (F.col(f"b{m}").cast("double")
             / F.col("n_gaps").cast("double")).alias("break_share"))

    # ONE aggregate row explodes into the per-threshold table — the
    # corpus pass is genuinely shared (a union of selects over `tot`
    # would re-plan the window+aggregate once per threshold branch)
    return (tot.select(F.explode(F.array(
                *[branch(m) for m in SESS_GAPS_MIN])).alias("r"))
            .select("r.*"))


def _sess_branch_sql(m: int) -> str:
    return f"""
    SELECT CAST({m} AS BIGINT) AS gap_minutes,
           n_users + b{m} AS n_sessions,
           CAST(n_events AS DOUBLE) / CAST(n_users + b{m} AS DOUBLE)
               AS events_per_session,
           CAST(b{m} AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS break_share
    FROM tot"""


SESSIONIZATION_SENSITIVITY_SQL = (
    """
WITH gaps AS (
    SELECT user_id,
           epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS gap_us
    FROM events
), tot AS (
    SELECT count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           count(gap_us) AS n_gaps,
"""
    + ",\n".join(
        f"           CAST(sum(CASE WHEN gap_us > {m * 60_000_000} "
        f"THEN 1 ELSE 0 END) AS BIGINT) AS b{m}"
        for m in SESS_GAPS_MIN)
    + "\n    FROM gaps\n)"
    + "\nUNION ALL".join(_sess_branch_sql(m) for m in SESS_GAPS_MIN))


# --- hour-of-day seasonality strength ----------------------------------------

def hourly_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-strength feature per event_type (the tsfeatures /
    Hyndman "seasonal strength" readout, computed on the hour-of-day
    factor): the share of hourly-count variance explained by the
    24-slot hour-of-day profile, strength = 1 − SS_within/SS_tot — the
    companion number to ``seasonal_naive_mase`` (MASE says whether the
    naive seasonal forecast is beatable; this says how much of the
    signal IS the season) and to ``burstiness_fano`` (which measures
    dispersion without attributing it to a cycle). Zero-count hours
    carry real seasonal information, so the series is densified on the
    engine's (min, max)-bounded hour grid first.

    Exactness: via the moment identities SS_tot = Σy² − (Σy)²/n and
    SS_within = Σy² − Σ_slot S²/n (all of Σy, Σy², S_slot, n_slot
    exact integers). The 24 per-slot means-model terms S²/n are each
    one exact-operand division, round(·,4)-pinned to DECIMAL(25,4) and
    summed exactly (the ``time_weighted_avg_value`` convention —
    order-insensitive); the final strength is arithmetic over those
    bit-identical scalars.

    Scale: the corpus collapses to the dense (type × hour) grid in one
    combinable count; both moment passes aggregate that grid (per type
    and per (type, slot) — 24 rows), so everything after the first
    exchange is manifest-sized at any corpus size.
    """
    ev = load_table(spark, sf_dir, "events")
    dense = (dense_hourly(hourly_counts(ev))
             .select("event_type", (F.col("h") % 24).alias("slot"), "y"))
    slot = (dense.groupBy("event_type", "slot")
            .agg(F.sum("y").alias("s"), F.count(F.lit(1)).alias("m"))
            .select("event_type",
                    F.round(F.col("s").cast("double")
                            * F.col("s").cast("double")
                            / F.col("m").cast("double"), 4)
                    .cast("decimal(25,4)").alias("term"),
                    "s", "m"))
    per_type = (slot.groupBy("event_type")
                .agg(F.sum("term").alias("a_dec"),
                     F.sum("s").alias("sy"),
                     F.sum("m").alias("n")))
    sq = (dense.groupBy("event_type")
          .agg(F.sum(F.col("y") * F.col("y")).alias("syy")))
    a = F.col("a_dec").cast("double")
    b = (F.col("sy").cast("double") * F.col("sy").cast("double")
         / F.col("n").cast("double"))
    c = F.col("syy").cast("double")
    return (per_type.join(sq, "event_type")
            .select("event_type", F.col("n").alias("n_hours"),
                    (c - b).alias("ss_tot"),
                    (c - a).alias("ss_within"),
                    ((a - b) / (c - b)).alias("strength")))


HOURLY_SEASONALITY_SQL = """
WITH counts AS (
    SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*) AS c
    FROM events GROUP BY 1, 2
), bounds AS (
    SELECT min(h) AS hmin, max(h) AS hmax FROM counts
), grid AS (
    SELECT t.event_type, g.h
    FROM (SELECT DISTINCT event_type FROM counts) t,
         bounds b,
         LATERAL (SELECT unnest(generate_series(b.hmin, b.hmax)) AS h) g
), dense AS (
    SELECT g.event_type, g.h % 24 AS slot, COALESCE(c.c, 0) AS y
    FROM grid g LEFT JOIN counts c
      ON g.event_type = c.event_type AND g.h = c.h
), slot AS (
    SELECT event_type,
           CAST(round(CAST(sum(y) AS DOUBLE) * CAST(sum(y) AS DOUBLE)
                      / CAST(count(*) AS DOUBLE), 4)
                AS DECIMAL(25,4)) AS term,
           sum(y) AS s, count(*) AS m
    FROM dense GROUP BY event_type, slot
), per_type AS (
    SELECT event_type, sum(term) AS a_dec,
           CAST(sum(s) AS BIGINT) AS sy, CAST(sum(m) AS BIGINT) AS n
    FROM slot GROUP BY event_type
), sq AS (
    SELECT event_type, CAST(sum(y * y) AS BIGINT) AS syy
    FROM dense GROUP BY event_type
)
SELECT p.event_type, p.n AS n_hours,
       CAST(q.syy AS DOUBLE)
           - CAST(p.sy AS DOUBLE) * CAST(p.sy AS DOUBLE)
             / CAST(p.n AS DOUBLE) AS ss_tot,
       CAST(q.syy AS DOUBLE) - CAST(p.a_dec AS DOUBLE) AS ss_within,
       (CAST(p.a_dec AS DOUBLE)
           - CAST(p.sy AS DOUBLE) * CAST(p.sy AS DOUBLE)
             / CAST(p.n AS DOUBLE))
           / (CAST(q.syy AS DOUBLE)
              - CAST(p.sy AS DOUBLE) * CAST(p.sy AS DOUBLE)
                / CAST(p.n AS DOUBLE)) AS strength
FROM per_type p JOIN sq q ON p.event_type = q.event_type
"""


# --- temporal-split Markov holdout -------------------------------------------

TEMPORAL_TRAIN_DAYS = 24  # of the corpus's 30-day span


def markov_temporal_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TIME-based twin of ``markov_heldout_accuracy``: train the
    first-order next-event argmax rule on the first
    ``TEMPORAL_TRAIN_DAYS`` days of transitions, score top-1 accuracy
    on everything after — the split production actually deploys under
    (predict the future from the past; no event after the cutoff can
    influence the rule). The md5-user split estimates generalization
    to UNSEEN USERS under stationarity; this one detects
    NON-STATIONARITY — a rule that aces the random split and fails
    here means the behavior drifted, which no amount of user-grouped
    cross-validation can see.

    A transition belongs to a side by the timestamp of its TARGET
    event (the prediction moment); the cutoff is derived from the
    data's own min event day, so the split is identical at every SF.

    Exactness: the cutoff is integer epoch-day arithmetic; transitions
    are lag pairs under the total (ts, event_id) order; the argmax
    rule is (count DESC, next ASC) — deterministic; outputs are
    integer counts and one safe-band round(·,10) ratio.

    Scale: one user-keyed window for transitions, one combinable
    (v, w) count on the train side collapsed to a |types|-row
    broadcast rule table, one broadcast join + rollup on the test
    side; the 1-row day bound attaches as a broadcast relation.
    """
    ev = load_table(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (ev.select(
        "user_id", "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        F.lag("event_type").over(w_user).alias("prev"))
        .filter(F.col("prev").isNotNull())
        .select("day", F.col("prev").alias("v"),
                F.col("event_type").alias("w")))
    bounds = ev.agg(F.min(F.expr("unix_micros(ts) div 86400000000"))
                    .alias("dmin"))
    t2 = (trans.crossJoin(bounds)
          .select("v", "w",
                  (F.col("day") < F.col("dmin")
                   + F.lit(TEMPORAL_TRAIN_DAYS)).alias("is_train")))
    counts = (t2.filter(F.col("is_train"))
              .groupBy("v", "w").agg(F.count(F.lit(1)).alias("c")))
    rule_rank = F.row_number().over(
        Window.partitionBy("v").orderBy(F.col("c").desc(), "w"))
    rules = (counts.withColumn("rnk", rule_rank)
             .filter(F.col("rnk") == 1)
             .select("v", F.col("w").alias("predicted")))
    return (t2.filter(~F.col("is_train"))
            .join(F.broadcast(rules), "v", "left")
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("n_test"),
                 F.max("predicted").alias("predicted"),
                 F.sum(F.when(F.col("w") == F.col("predicted"), 1)
                       .otherwise(0)).alias("n_correct"))
            .select(F.col("v").alias("current_event"), "predicted",
                    "n_test", "n_correct",
                    F.round(F.col("n_correct") / F.col("n_test"), 10)
                    .alias("top1_accuracy")))


MARKOV_TEMPORAL_SQL = f"""
WITH trans AS (
    SELECT epoch_us(ts) // 86400000000 AS day,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS v,
           event_type AS w
    FROM events
), bounds AS (
    SELECT min(epoch_us(ts) // 86400000000) AS dmin FROM events
), t2 AS (
    SELECT v, w,
           day < dmin + {TEMPORAL_TRAIN_DAYS} AS is_train
    FROM trans, bounds WHERE v IS NOT NULL
), rules AS (
    SELECT v, w AS predicted FROM (
        SELECT v, w, row_number() OVER (
            PARTITION BY v ORDER BY count(*) DESC, w) AS rnk
        FROM t2 WHERE is_train GROUP BY v, w
    ) WHERE rnk = 1
)
SELECT t.v AS current_event,
       max(r.predicted) AS predicted,
       count(*) AS n_test,
       CAST(sum(CASE WHEN t.w = r.predicted THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       round(CAST(sum(CASE WHEN t.w = r.predicted THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 10) AS top1_accuracy
FROM t2 t LEFT JOIN rules r ON t.v = r.v
WHERE NOT t.is_train
GROUP BY t.v
"""


# --- autocorrelation correlogram ----------------------------------------------

ACF_MAX_LAG = 24  # one daily cycle on the hourly grid


def acf_correlogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic ACF correlogram per event_type: the autocorrelation
    r_k of the dense hourly count series at every lag k = 1..24,
    using the standard biased estimator r_k = Σ_t (y_t − ȳ)(y_{t+k} −
    ȳ) / Σ_t (y_t − ȳ)² (Box & Jenkins). The correlogram is the
    diagnostic that DECOMPOSES what ``hourly_seasonality_strength``
    summarizes: a spike at k = 24 is daily seasonality, slow decay is
    trend, white noise dies inside the confidence band — the plot an
    analyst reads before choosing the Holt vs seasonal-naive vs Markov
    model families that live beside this operator.

    Exactness: no float accumulation anywhere. Expanding the products
    gives num_k = C_k − ȳ·(H_k + T_k) + m_k·ȳ², den = Σy² − (Σy)²/n
    with C_k = Σ y_t·y_{t+k}, H_k/T_k the head/tail partial sums and
    m_k = n − k ALL exact integers; ȳ is ONE division of exact-integer
    operands, so num/den are fixed arithmetic over bit-identical
    scalars — the ``seasonal_naive_mase`` convention, no decimal pin
    needed.

    Scale: the corpus collapses to the dense (type × hour) grid in one
    combinable count (the only corpus-sized stage). The lag expansion
    is grid × 24 — manifest-sized — and the self-join is an equi-join
    on (type, h+k), so every post-collapse stage shuffles only the
    grid. At 100 TB: identical shape, grid ~1e6 rows.
    """
    from ..functions.lineage import truncate_lineage

    ev = load_table(spark, sf_dir, "events")
    dense = truncate_lineage(
        dense_hourly(hourly_counts(ev)).select("event_type", "h", "y"))
    mom = (dense.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("sy"),
                F.sum(F.col("y") * F.col("y")).alias("syy")))
    a = (dense.select("event_type", "h", F.col("y").alias("ya"))
         .withColumn("lag", F.explode(F.sequence(
             F.lit(1), F.lit(ACF_MAX_LAG)))))
    b = dense.select(F.col("event_type").alias("et_b"),
                     F.col("h").alias("hb"), F.col("y").alias("yb"))
    lagged = (a.join(b, (F.col("event_type") == F.col("et_b"))
                     & (F.col("hb") == F.col("h") + F.col("lag")))
              .groupBy("event_type", "lag")
              .agg(F.sum(F.col("ya") * F.col("yb")).alias("cross"),
                   F.sum("ya").alias("head"), F.sum("yb").alias("tail"),
                   F.count(F.lit(1)).alias("m")))
    ybar = F.col("sy").cast("double") / F.col("n").cast("double")
    den = (F.col("syy").cast("double")
           - F.col("sy").cast("double") * F.col("sy").cast("double")
           / F.col("n").cast("double"))
    num = (F.col("cross").cast("double")
           - ybar * (F.col("head") + F.col("tail")).cast("double")
           + F.col("m").cast("double") * ybar * ybar)
    return (lagged.join(F.broadcast(mom), "event_type")
            .select("event_type", "lag", F.col("m").alias("n_pairs"),
                    (num / den).alias("acf")))


ACF_SQL = f"""
WITH counts AS (
    SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*) AS c
    FROM events GROUP BY 1, 2
), bounds AS (
    SELECT min(h) AS hmin, max(h) AS hmax FROM counts
), dense AS (
    SELECT g.event_type, g.h, COALESCE(c.c, 0) AS y
    FROM (SELECT t.event_type, u.h
          FROM (SELECT DISTINCT event_type FROM counts) t,
               bounds b,
               LATERAL (SELECT unnest(generate_series(b.hmin, b.hmax))
                        AS h) u) g
    LEFT JOIN counts c ON g.event_type = c.event_type AND g.h = c.h
), mom AS (
    SELECT event_type, count(*) AS n, sum(y) AS sy, sum(y * y) AS syy
    FROM dense GROUP BY event_type
), lagged AS (
    SELECT a.event_type, l.lag,
           sum(a.y * b.y) AS cross_k,
           sum(a.y) AS head, sum(b.y) AS tail, count(*) AS m
    FROM dense a,
         LATERAL (SELECT unnest(generate_series(1, {ACF_MAX_LAG}))
                  AS lag) l
    JOIN dense b
      ON b.event_type = a.event_type AND b.h = a.h + l.lag
    GROUP BY a.event_type, l.lag
)
SELECT g.event_type, g.lag, g.m AS n_pairs,
       (CAST(g.cross_k AS DOUBLE)
        - CAST(m.sy AS DOUBLE) / CAST(m.n AS DOUBLE)
          * CAST(g.head + g.tail AS DOUBLE)
        + CAST(g.m AS DOUBLE)
          * (CAST(m.sy AS DOUBLE) / CAST(m.n AS DOUBLE))
          * (CAST(m.sy AS DOUBLE) / CAST(m.n AS DOUBLE)))
       / (CAST(m.syy AS DOUBLE)
          - CAST(m.sy AS DOUBLE) * CAST(m.sy AS DOUBLE)
            / CAST(m.n AS DOUBLE)) AS acf
FROM lagged g JOIN mom m ON g.event_type = m.event_type
"""


# --- CUSUM changepoint scan ---------------------------------------------------

CUSUM_K_HALF_SIGMA = True  # textbook allowance k = 0.5σ
CUSUM_H_SIGMA = 4.0        # textbook decision interval h = 4σ
CUSUM_DEC = "decimal(25,6)"


def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM changepoint scan (Page 1954) over each
    event_type's dense hourly count series: the upward scheme
    C_t = max(0, C_{t−1} + (y_t − μ − 0.5σ)) with alarm when C_t
    exceeds the textbook decision interval h = 4σ — the
    level-SHIFT detector that complements ``event_rate_anomaly``'s
    per-hour z-scores (a z-score flags one bad hour; CUSUM
    accumulates many small drifts no single hour would trip).

    The max(0, ·) recursion is not a window frame, but its closed
    form is: with prefix sums P_t of the allowance-adjusted
    deviations z_t, C_t = P_t − min(0, min_{s≤t} P_s) — two standard
    running-window passes, fully distributed (per-type partitions).

    Exactness: μ and σ are exact-integer-moment arithmetic (one
    division / one sqrt → bit-identical); each z_t is pinned
    round(·,6) → DECIMAL(25,6) BEFORE the running sum because DuckDB's
    segment-tree window aggregation adds in a different order than
    Spark's running frame — decimal sums are order-exact. The peak
    hour tie-breaks to the earliest hour via a rank window.

    Scale: one combinable (type, hour) count collapses the corpus;
    both window passes run on the dense manifest-sized grid,
    partitioned by event_type (24 types × hours — never wider than the
    grid). At 100 TB: identical shape.
    """
    ev = load_table(spark, sf_dir, "events")
    return cusum_finish(hourly_counts(ev))


def cusum_finish(counts: DataFrame) -> DataFrame:
    """Dense-grid CUSUM scan over an (event_type, h, c) relation —
    shared verbatim by the batch operator above and the foreachBatch
    streaming twin (``streaming/foreach_batch.run_cusum_stream``),
    the repo's "streaming ingest, batch finish per trigger" pattern
    (the running statistics depend on the CURRENT global μ/σ, so the
    scan must be recomputed per trigger from the accumulated series
    state — exactly what a live drift monitor does)."""
    from ..functions.lineage import truncate_lineage

    dense = truncate_lineage(
        dense_hourly(counts).select("event_type", "h", "y"))
    mom = (dense.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("sy"),
                F.sum(F.col("y") * F.col("y")).alias("syy")))
    mu = F.col("sy").cast("double") / F.col("n").cast("double")
    sigma = F.sqrt((F.col("syy").cast("double")
                    - F.col("sy").cast("double") * F.col("sy").cast("double")
                    / F.col("n").cast("double"))
                   / F.col("n").cast("double"))
    stats = mom.select("event_type", F.col("n").alias("n_hours"),
                       mu.alias("mu"), sigma.alias("sigma"))
    z = (dense.join(F.broadcast(stats), "event_type")
         .select("event_type", "h", "n_hours", "mu", "sigma",
                 F.round(F.col("y").cast("double") - F.col("mu")
                         - F.lit(0.5) * F.col("sigma"), 6)
                 .cast(CUSUM_DEC).alias("zt")))
    w = (Window.partitionBy("event_type").orderBy("h")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    prefix = z.select("event_type", "h", "n_hours", "mu", "sigma",
                      F.sum("zt").over(w).alias("pt"))
    run = prefix.select(
        "event_type", "h", "n_hours", "mu", "sigma",
        (F.col("pt") - F.least(F.lit(0).cast(CUSUM_DEC),
                               F.min("pt").over(w))).alias("ct"))
    pk = Window.partitionBy("event_type").orderBy(
        F.col("ct").desc(), F.col("h").asc())
    return (run.withColumn("rnk", F.row_number().over(pk))
            .filter(F.col("rnk") == 1)
            .select("event_type", "n_hours", "mu", "sigma",
                    F.col("ct").cast("double").alias("peak_cusum"),
                    F.col("h").alias("peak_hour"),
                    (F.col("ct").cast("double")
                     > F.lit(CUSUM_H_SIGMA) * F.col("sigma"))
                    .alias("alarm")))


CUSUM_SQL = f"""
WITH counts AS (
    SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*) AS c
    FROM events GROUP BY 1, 2
), bounds AS (
    SELECT min(h) AS hmin, max(h) AS hmax FROM counts
), dense AS (
    SELECT g.event_type, g.h, COALESCE(c.c, 0) AS y
    FROM (SELECT t.event_type, u.h
          FROM (SELECT DISTINCT event_type FROM counts) t,
               bounds b,
               LATERAL (SELECT unnest(generate_series(b.hmin, b.hmax))
                        AS h) u) g
    LEFT JOIN counts c ON g.event_type = c.event_type AND g.h = c.h
), stats AS (
    SELECT event_type, count(*) AS n_hours,
           CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu,
           sqrt((CAST(sum(y * y) AS DOUBLE)
                 - CAST(sum(y) AS DOUBLE) * CAST(sum(y) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE))
                / CAST(count(*) AS DOUBLE)) AS sigma
    FROM dense GROUP BY event_type
), z AS (
    SELECT d.event_type, d.h, s.n_hours, s.mu, s.sigma,
           CAST(round(CAST(d.y AS DOUBLE) - s.mu - 0.5 * s.sigma, 6)
                AS DECIMAL(25,6)) AS zt
    FROM dense d JOIN stats s ON d.event_type = s.event_type
), prefix AS (
    SELECT event_type, h, n_hours, mu, sigma,
           sum(zt) OVER (PARTITION BY event_type ORDER BY h
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS pt
    FROM z
), runmin AS (
    -- CASE, not least(): DuckDB's least() promotes DECIMAL args to
    -- DOUBLE, which would reintroduce the order-dependent float sum
    -- the decimal pin exists to kill.
    SELECT *, min(pt) OVER (PARTITION BY event_type ORDER BY h
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS mn
    FROM prefix
), run AS (
    SELECT event_type, h, n_hours, mu, sigma,
           pt - (CASE WHEN mn < 0 THEN mn
                      ELSE CAST(0 AS DECIMAL(38,6)) END) AS ct
    FROM runmin
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY event_type ORDER BY ct DESC, h ASC) AS rnk
    FROM run
)
SELECT event_type, n_hours, mu, sigma,
       CAST(ct AS DOUBLE) AS peak_cusum, h AS peak_hour,
       CAST(ct AS DOUBLE) > {CUSUM_H_SIGMA} * sigma AS alarm
FROM ranked WHERE rnk = 1
"""


# --- Kaplan-Meier survival + log-rank test ------------------------------------

KM_HOUR_US = 3_600_000_000


def _censored_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, h, event) — hour-bucketed first-view→first-purchase
    conversion latency per user, RIGHT-CENSORED at the corpus horizon:
    a user with a first view and no later purchase contributes their
    observed (horizon − first_view) exposure with event = 0. This is
    the survival-analysis view of ``time_to_convert`` (which reports
    order statistics over CONVERTED users only — the estimate KM
    exists to de-bias, since dropping censored users overstates
    conversion speed)."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (ev.groupBy("user_id")
                .agg(F.min(F.when(F.col("event_type") == "view",
                                  F.col("ts"))).alias("first_view")))
    first_purch = (ev.filter(F.col("event_type") == "purchase")
                   .join(per_user, "user_id")
                   .filter(F.col("ts") > F.col("first_view"))
                   .groupBy("user_id")
                   .agg(F.min("ts").alias("first_purchase")))
    horizon = ev.agg(F.max("ts").alias("horizon"))
    return (per_user.filter(F.col("first_view").isNotNull())
            .join(first_purch, "user_id", "left")
            .crossJoin(horizon)
            .select(
                "user_id",
                (F.when(F.col("first_purchase").isNotNull(),
                        F.unix_micros("first_purchase")
                        - F.unix_micros("first_view"))
                 .otherwise(F.unix_micros("horizon")
                            - F.unix_micros("first_view"))
                 / F.lit(KM_HOUR_US)).cast("bigint").alias("h"),
                F.col("first_purchase").isNotNull().cast("long")
                .alias("event")))


_CENSORED_DUR_SQL = f"""
WITH per_user AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'view' THEN ts END) AS first_view
    FROM events GROUP BY user_id
), first_purch AS (
    SELECT e.user_id, min(e.ts) AS first_purchase
    FROM events e JOIN per_user u ON e.user_id = u.user_id
    WHERE e.event_type = 'purchase' AND e.ts > u.first_view
    GROUP BY e.user_id
), horizon AS (SELECT max(ts) AS horizon FROM events
), dur AS (
    SELECT u.user_id,
           CAST((CASE WHEN p.first_purchase IS NOT NULL
                      THEN epoch_us(p.first_purchase)
                           - epoch_us(u.first_view)
                      ELSE epoch_us(h.horizon) - epoch_us(u.first_view)
                 END) // {KM_HOUR_US} AS BIGINT) AS h,
           CASE WHEN p.first_purchase IS NOT NULL THEN 1 ELSE 0 END
               AS event
    FROM per_user u
    LEFT JOIN first_purch p ON u.user_id = p.user_id, horizon h
    WHERE u.first_view IS NOT NULL
)"""


def kaplan_meier_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve (Kaplan & Meier 1958) of the
    view→purchase conversion process, right-censored at the corpus
    horizon: at each event hour, Ŝ(t) = Π_{t_i ≤ t} (1 − d_i/n_i)
    with d_i conversions and n_i the at-risk count — the estimator
    that uses censored users' partial exposure instead of dropping
    them (``time_to_convert``'s converted-only order statistics are
    the biased view this corrects). Output rows are the event times;
    censor-only hours participate through the at-risk accounting.

    Exactness: d_i, c_i and the at-risk prefix sums are exact
    integers; each factor is one exact-operand division; ln(factor)
    is round(·,10)-pinned → DECIMAL(25,10) so the cumulative log-sum
    is order-exact, and the final exp is rounded to 6 (absorbing any
    last-ulp libm exp divergence — the fleet ln/exp convention). A
    time where d_i = n_i (everyone at risk converts) drives survival
    exactly to 0 via a cumulative flag, never through ln(0).

    Scale: one per-user conditional aggregate collapses the corpus;
    everything after runs on the |distinct hours|-bounded life table
    (the documented reduced-relation window class) — at any corpus
    size the life table is horizon-bounded, not user-bounded.
    """
    from ..functions.lineage import truncate_lineage

    dur = _censored_durations(spark, sf_dir)
    # MATERIALIZED: the horizon-bounded life table feeds two branches
    # (the total and the at-risk window) — without the cut each branch
    # re-plans the whole per-user collapse.
    lt = truncate_lineage(
        dur.groupBy("h")
        .agg(F.sum("event").alias("d"),
             F.sum(F.lit(1) - F.col("event")).alias("c")))
    total = lt.agg(F.sum(F.col("d") + F.col("c")).alias("n_total"))
    w = Window.orderBy("h")
    before = w.rowsBetween(Window.unboundedPreceding, -1)
    upto = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    risk = (lt.crossJoin(total)
            .withColumn("n_risk",
                        F.col("n_total")
                        - F.coalesce(F.sum(F.col("d") + F.col("c"))
                                     .over(before), F.lit(0))))
    lf = F.when(F.col("d") < F.col("n_risk"),
                F.round(F.log(F.lit(1.0)
                              - F.col("d").cast("double")
                              / F.col("n_risk").cast("double")), 10)
                .cast("decimal(25,10)")) \
        .otherwise(F.lit(0).cast("decimal(25,10)"))
    curve = (risk.withColumn("lf", lf)
             .withColumn("dead", (F.col("d") == F.col("n_risk"))
                         .cast("int"))
             .withColumn("logsum", F.sum("lf").over(upto))
             .withColumn("anydead", F.max("dead").over(upto)))
    surv = F.when(F.col("anydead") == 1, F.lit(0.0)) \
        .otherwise(F.exp(F.col("logsum").cast("double")))
    return (curve.filter(F.col("d") >= 1)
            .select(F.col("h").alias("duration_h"), "n_risk",
                    F.col("d").alias("n_events"),
                    F.col("c").alias("n_censored"),
                    F.round(surv, 6).alias("survival")))


KAPLAN_MEIER_SQL = f"""{_CENSORED_DUR_SQL},
lt AS (
    SELECT h, CAST(sum(event) AS BIGINT) AS d,
           CAST(sum(1 - event) AS BIGINT) AS c
    FROM dur GROUP BY h
), total AS (SELECT CAST(sum(d + c) AS BIGINT) AS n_total FROM lt
), risk AS (
    SELECT lt.*, CAST(t.n_total
           - COALESCE(sum(d + c) OVER (ORDER BY h ROWS BETWEEN
                      UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS n_risk
    FROM lt, total t
), curve AS (
    SELECT *,
           sum(CASE WHEN d < n_risk
                    THEN CAST(round(ln(1.0 - CAST(d AS DOUBLE)
                                          / CAST(n_risk AS DOUBLE)), 10)
                              AS DECIMAL(25,10))
                    ELSE CAST(0 AS DECIMAL(25,10)) END)
               OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS logsum,
           max(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
               OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS anydead
    FROM risk
)
SELECT h AS duration_h, n_risk, d AS n_events, c AS n_censored,
       round(CASE WHEN anydead = 1 THEN 0.0
                  ELSE exp(CAST(logsum AS DOUBLE)) END, 6) AS survival
FROM curve WHERE d >= 1
"""


def logrank_conversion_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test (Mantel 1966) comparing the conversion survival
    curves of the deterministic md5 50/50 user split — the CENSORED-
    data A/B test that ``ab_split_welch_ttest`` (means) and
    ``mann_whitney_auc`` (ranks) cannot run, because a user who
    hasn't converted yet is information, not a missing value. At each
    event hour: observed arm-A conversions vs the hypergeometric
    expectation d·n₁/n given the at-risk sets, variance
    d·(n₁/n)(1−n₁/n)(n−d)/(n−1); z = (O−E)/√ΣV.

    Exactness: every count and at-risk prefix sum is an exact
    integer; each E/V term is fixed arithmetic over them,
    round(·,6)-pinned → DECIMAL(25,6) for the order-insensitive sums;
    z rounds at 6. No ln, no exp — the statistic is rational.

    Scale: same corpus collapse as the KM curve; the life table is
    horizon-bounded and the test a 1-row reduction over it.
    """
    dur = _censored_durations(spark, sf_dir)
    arm_a = F.substring(
        F.md5(F.col("user_id").cast("string").cast("binary")), 1, 1) \
        .isin(*list("01234567"))
    from ..functions.lineage import truncate_lineage

    tagged = dur.select("h", "event", arm_a.cast("long").alias("a"))
    lt = truncate_lineage(
        tagged.groupBy("h")
        .agg(F.sum(F.col("a") * F.col("event")).alias("d1"),
               F.sum(F.col("a") * (F.lit(1) - F.col("event")))
               .alias("c1"),
               F.sum((F.lit(1) - F.col("a")) * F.col("event"))
               .alias("d2"),
               F.sum((F.lit(1) - F.col("a"))
                     * (F.lit(1) - F.col("event"))).alias("c2")))
    tot = lt.agg(F.sum(F.col("d1") + F.col("c1")).alias("t1"),
                 F.sum(F.col("d2") + F.col("c2")).alias("t2"))
    w = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, -1)
    risk = (lt.crossJoin(tot)
            .withColumn("n1", F.col("t1")
                        - F.coalesce(F.sum(F.col("d1") + F.col("c1"))
                                     .over(w), F.lit(0)))
            .withColumn("n2", F.col("t2")
                        - F.coalesce(F.sum(F.col("d2") + F.col("c2"))
                                     .over(w), F.lit(0))))
    n = F.col("n1") + F.col("n2")
    d = F.col("d1") + F.col("d2")
    e1 = d.cast("double") * F.col("n1").cast("double") / n.cast("double")
    v = (d.cast("double")
         * (F.col("n1").cast("double") / n.cast("double"))
         * (F.lit(1.0) - F.col("n1").cast("double") / n.cast("double"))
         * (n - d).cast("double") / (n - F.lit(1)).cast("double"))
    dec6 = "decimal(25,6)"
    terms = (risk.filter((d >= 1) & (n > 1))
             .select("d1",
                     F.round(e1, 6).cast(dec6).alias("e1"),
                     F.round(v, 6).cast(dec6).alias("v")))
    agg = terms.agg(F.sum("d1").alias("o_a"),
                    F.sum("e1").cast("double").alias("e_a"),
                    F.sum("v").cast("double").alias("var_a"))
    z = (F.col("o_a").cast("double") - F.col("e_a")) / F.sqrt("var_a")
    return (agg.crossJoin(tot)
            .select(F.col("t1").alias("n_users_a"),
                    F.col("t2").alias("n_users_b"),
                    "o_a", F.round("e_a", 6).alias("e_a"),
                    F.round("var_a", 6).alias("var_a"),
                    F.round(z, 6).alias("z_score")))


LOGRANK_SQL = f"""{_CENSORED_DUR_SQL},
tagged AS (
    SELECT h, event,
           CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                     IN ('0','1','2','3','4','5','6','7')
                THEN 1 ELSE 0 END AS a
    FROM dur
), lt AS (
    SELECT h,
           CAST(sum(a * event) AS BIGINT) AS d1,
           CAST(sum(a * (1 - event)) AS BIGINT) AS c1,
           CAST(sum((1 - a) * event) AS BIGINT) AS d2,
           CAST(sum((1 - a) * (1 - event)) AS BIGINT) AS c2
    FROM tagged GROUP BY h
), tot AS (
    SELECT CAST(sum(d1 + c1) AS BIGINT) AS t1,
           CAST(sum(d2 + c2) AS BIGINT) AS t2
    FROM lt
), risk AS (
    SELECT lt.*, t.t1, t.t2,
           t.t1 - COALESCE(sum(d1 + c1) OVER (ORDER BY h ROWS BETWEEN
                           UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n1,
           t.t2 - COALESCE(sum(d2 + c2) OVER (ORDER BY h ROWS BETWEEN
                           UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n2
    FROM lt, tot t
), terms AS (
    SELECT d1,
           CAST(round(CAST(d1 + d2 AS DOUBLE) * CAST(n1 AS DOUBLE)
                      / CAST(n1 + n2 AS DOUBLE), 6)
                AS DECIMAL(25,6)) AS e1,
           CAST(round(CAST(d1 + d2 AS DOUBLE)
                      * (CAST(n1 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                      * (1.0 - CAST(n1 AS DOUBLE)
                               / CAST(n1 + n2 AS DOUBLE))
                      * CAST(n1 + n2 - d1 - d2 AS DOUBLE)
                      / CAST(n1 + n2 - 1 AS DOUBLE), 6)
                AS DECIMAL(25,6)) AS v
    FROM risk
    WHERE d1 + d2 >= 1 AND n1 + n2 > 1
)
SELECT t.t1 AS n_users_a, t.t2 AS n_users_b,
       CAST(x.o_a AS BIGINT) AS o_a,
       round(x.e_a, 6) AS e_a, round(x.var_a, 6) AS var_a,
       round((CAST(x.o_a AS DOUBLE) - x.e_a) / sqrt(x.var_a), 6)
           AS z_score
FROM (SELECT sum(d1) AS o_a, CAST(sum(e1) AS DOUBLE) AS e_a,
             CAST(sum(v) AS DOUBLE) AS var_a
      FROM terms) x, tot t
"""


# --- Mann-Kendall trend + Theil-Sen slope --------------------------------------


def trend_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust trend readout per event_type over DAILY counts: the
    Mann-Kendall S statistic and tie-corrected z (the nonparametric
    is-there-a-monotone-trend test hydrology ships), plus the
    Theil-Sen slope (median of all pairwise slopes — up to 29% of
    points can be corrupted before it breaks, vs 0% for OLS). The
    robust companion to ``holt_linear_forecast``'s level/trend fit
    and ``user_growth_curve``'s raw dailies.

    Exactness: S, the tie term and var(S) are exact integer sums;
    each pairwise slope is ONE exact-operand division; the Theil-Sen
    slope is selected by RANK over (slope, i, j) — a total order, no
    interpolation; z applies the standard ±1 continuity correction
    via integer CASE.

    Scale: one combinable (type, day) count collapses the corpus; the
    pairwise self-join runs on the dense manifest-sized daily grid
    (30 days → 435 pairs per type), never the corpus.
    """
    from ..functions.lineage import truncate_lineage

    ev = load_table(spark, sf_dir, "events")
    daily = truncate_lineage(
        ev.select("event_type",
                  F.expr("unix_micros(ts) div 86400000000").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).alias("y")))
    a = daily.select("event_type", F.col("d").alias("di"),
                     F.col("y").alias("yi"))
    b = daily.select(F.col("event_type").alias("et_b"),
                     F.col("d").alias("dj"), F.col("y").alias("yj"))
    pairs = (a.join(b, (F.col("event_type") == F.col("et_b"))
                    & (F.col("dj") > F.col("di")))
             .select("event_type", "di", "dj", "yi", "yj",
                     F.signum((F.col("yj") - F.col("yi"))
                              .cast("double")).cast("int").alias("sgn"),
                     ((F.col("yj") - F.col("yi")).cast("double")
                      / (F.col("dj") - F.col("di")).cast("double"))
                     .alias("slope")))
    w = Window.partitionBy("event_type").orderBy("slope", "di", "dj")
    med = (pairs.withColumn("rn", F.row_number().over(w))
           .withColumn("np", F.count(F.lit(1)).over(
               Window.partitionBy("event_type"))))
    ts_slope = (med.filter(F.col("rn")
                           == F.floor((F.col("np") + 1) / 2))
                .select("event_type", F.col("slope").alias("ts_slope")))
    s_stat = (pairs.groupBy("event_type")
              .agg(F.sum("sgn").alias("s"),
                   F.count(F.lit(1)).alias("n_pairs")))
    ties = (daily.groupBy("event_type", "y")
            .agg(F.count(F.lit(1)).alias("t"))
            .groupBy("event_type")
            .agg(F.sum("t").alias("n_days"),
                 F.sum(F.col("t") * (F.col("t") - 1)
                       * (F.lit(2) * F.col("t") + 5)).alias("tt")))
    nd = F.col("n_days").cast("double")
    var_s = (nd * (nd - 1) * (F.lit(2.0) * nd + 5)
             - F.col("tt").cast("double")) / F.lit(18.0)
    z = (F.when(F.col("s") > 0, (F.col("s") - F.lit(1)).cast("double"))
         .when(F.col("s") < 0, (F.col("s") + F.lit(1)).cast("double"))
         .otherwise(F.lit(0.0))) / F.sqrt(var_s)
    return (s_stat.join(ties, "event_type")
            .join(ts_slope, "event_type")
            .select("event_type", "n_days", "s",
                    F.round(z, 6).alias("mk_z"),
                    F.round("ts_slope", 6).alias("theil_sen_slope")))


MANN_KENDALL_SQL = """
WITH daily AS (
    SELECT event_type, epoch_us(ts) // 86400000000 AS d,
           count(*) AS y
    FROM events GROUP BY 1, 2
), pairs AS (
    SELECT a.event_type, a.d AS di, b.d AS dj, a.y AS yi, b.y AS yj,
           CAST(sign(CAST(b.y - a.y AS DOUBLE)) AS INT) AS sgn,
           CAST(b.y - a.y AS DOUBLE) / CAST(b.d - a.d AS DOUBLE)
               AS slope
    FROM daily a JOIN daily b
      ON b.event_type = a.event_type AND b.d > a.d
), med AS (
    SELECT event_type, slope,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY slope, di, dj) AS rn,
           count(*) OVER (PARTITION BY event_type) AS np
    FROM pairs
), ts_slope AS (
    -- lower median at rank (np+1)//2, matching the Spark floor()
    SELECT event_type, slope AS ts_slope FROM med
    WHERE rn = (np + 1) // 2
), s_stat AS (
    SELECT event_type, CAST(sum(sgn) AS BIGINT) AS s,
           count(*) AS n_pairs
    FROM pairs GROUP BY event_type
), ties AS (
    SELECT event_type, CAST(sum(t) AS BIGINT) AS n_days,
           CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tt
    FROM (SELECT event_type, y, count(*) AS t
          FROM daily GROUP BY event_type, y)
    GROUP BY event_type
)
SELECT s.event_type, t.n_days, s.s,
       round((CASE WHEN s.s > 0 THEN CAST(s.s - 1 AS DOUBLE)
                   WHEN s.s < 0 THEN CAST(s.s + 1 AS DOUBLE)
                   ELSE 0.0 END)
             / sqrt((CAST(t.n_days AS DOUBLE)
                     * (CAST(t.n_days AS DOUBLE) - 1)
                     * (2.0 * CAST(t.n_days AS DOUBLE) + 5)
                     - CAST(t.tt AS DOUBLE)) / 18.0), 6) AS mk_z,
       round(x.ts_slope, 6) AS theil_sen_slope
FROM s_stat s
JOIN ties t ON s.event_type = t.event_type
JOIN ts_slope x ON s.event_type = x.event_type
"""


# --- Gumbel block-maxima return levels ------------------------------------------

GUMBEL_SQRT6_PI = 0.779696801233676     # sqrt(6)/pi, frozen literal
GUMBEL_GAMMA = 0.5772156649015329       # Euler-Mascheroni, frozen
GUMBEL_K30 = 3.3842944934992527         # -ln(-ln(1 - 1/30)), frozen
GUMBEL_K365 = 5.8985259242227315        # -ln(-ln(1 - 1/365)), frozen


def gumbel_return_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value capacity planning per event_type: fit a Gumbel
    distribution to the DAILY MAXIMA of hourly event counts by the
    method of moments (β̂ = s·√6/π, μ̂ = m̄ − γβ̂ — the classical
    block-maxima recipe from Gumbel 1958) and report the 30-day and
    365-day return levels x_T = μ̂ + β̂·(−ln(−ln(1−1/T))) — "the
    hourly load exceeded once a month / once a year", the number a
    capacity planner provisions against, which mean+kσ under-states
    because extremes aren't Gaussian. Every transcendental constant
    (√6/π, γ, the two −ln(−ln·) factors) is a FROZEN Python literal
    inlined into both engines — the statistic itself is moment
    arithmetic plus one sqrt.

    Exactness: daily maxima, Σm and Σm² are exact integers; mean and
    the sample variance are exact-operand arithmetic; s is one sqrt;
    everything after is fixed-order doubles with frozen literals,
    round 6 on display.

    Scale: the corpus collapses to the dense (type, hour) grid, then
    to |types|×|days| maxima, then to |types| moment rows — each step
    one combinable aggregation.
    """
    ev = load_table(spark, sf_dir, "events")
    dense = dense_hourly(hourly_counts(ev)).select(
        "event_type", (F.col("h") / 24).cast("bigint").alias("day"), "y")
    daily_max = (dense.groupBy("event_type", "day")
                 .agg(F.max("y").alias("m")))
    mom = (daily_max.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n_days"),
                F.sum("m").alias("sm"),
                F.sum(F.col("m") * F.col("m")).alias("smm")))
    nd = F.col("n_days").cast("double")
    mean = F.col("sm").cast("double") / nd
    var = (F.col("smm").cast("double")
           - F.col("sm").cast("double") * F.col("sm").cast("double")
           / nd) / (nd - F.lit(1.0))
    beta = F.sqrt(var) * F.lit(GUMBEL_SQRT6_PI)
    mu = mean - F.lit(GUMBEL_GAMMA) * beta
    return mom.select(
        "event_type", "n_days",
        F.round(mu, 6).alias("loc_mu"),
        F.round(beta, 6).alias("scale_beta"),
        F.round(mu + beta * F.lit(GUMBEL_K30), 6).alias("rl_30d"),
        F.round(mu + beta * F.lit(GUMBEL_K365), 6).alias("rl_365d"))


GUMBEL_SQL = f"""
WITH counts AS (
    SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*) AS c
    FROM events GROUP BY 1, 2
), bounds AS (
    SELECT min(h) AS hmin, max(h) AS hmax FROM counts
), dense AS (
    SELECT g.event_type, g.h // 24 AS day, COALESCE(c.c, 0) AS y
    FROM (SELECT t.event_type, u.h
          FROM (SELECT DISTINCT event_type FROM counts) t,
               bounds b,
               LATERAL (SELECT unnest(generate_series(b.hmin, b.hmax))
                        AS h) u) g
    LEFT JOIN counts c ON g.event_type = c.event_type AND g.h = c.h
), daily_max AS (
    SELECT event_type, day, max(y) AS m
    FROM dense GROUP BY event_type, day
), mom AS (
    SELECT event_type, count(*) AS n_days,
           CAST(sum(m) AS BIGINT) AS sm,
           CAST(sum(m * m) AS BIGINT) AS smm
    FROM daily_max GROUP BY event_type
)
SELECT event_type, n_days,
       round(CAST(sm AS DOUBLE) / CAST(n_days AS DOUBLE)
             - {GUMBEL_GAMMA!r}
               * (sqrt((CAST(smm AS DOUBLE)
                        - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
                          / CAST(n_days AS DOUBLE))
                       / (CAST(n_days AS DOUBLE) - 1.0))
                  * {GUMBEL_SQRT6_PI!r}), 6) AS loc_mu,
       round(sqrt((CAST(smm AS DOUBLE)
                   - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
                     / CAST(n_days AS DOUBLE))
                  / (CAST(n_days AS DOUBLE) - 1.0))
             * {GUMBEL_SQRT6_PI!r}, 6) AS scale_beta,
       round(CAST(sm AS DOUBLE) / CAST(n_days AS DOUBLE)
             - {GUMBEL_GAMMA!r}
               * (sqrt((CAST(smm AS DOUBLE)
                        - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
                          / CAST(n_days AS DOUBLE))
                       / (CAST(n_days AS DOUBLE) - 1.0))
                  * {GUMBEL_SQRT6_PI!r})
             + sqrt((CAST(smm AS DOUBLE)
                     - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
                       / CAST(n_days AS DOUBLE))
                    / (CAST(n_days AS DOUBLE) - 1.0))
               * {GUMBEL_SQRT6_PI!r} * {GUMBEL_K30!r}, 6) AS rl_30d,
       round(CAST(sm AS DOUBLE) / CAST(n_days AS DOUBLE)
             - {GUMBEL_GAMMA!r}
               * (sqrt((CAST(smm AS DOUBLE)
                        - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
                          / CAST(n_days AS DOUBLE))
                       / (CAST(n_days AS DOUBLE) - 1.0))
                  * {GUMBEL_SQRT6_PI!r})
             + sqrt((CAST(smm AS DOUBLE)
                     - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
                       / CAST(n_days AS DOUBLE))
                    / (CAST(n_days AS DOUBLE) - 1.0))
               * {GUMBEL_SQRT6_PI!r} * {GUMBEL_K365!r}, 6) AS rl_365d
FROM mom
"""


# --- sliding-window DAU/WAU ----------------------------------------------

DAU_WINDOW_DAYS = 7


def sliding_window_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct active users per day (WAU) beside the
    daily actives (DAU) and the DAU/WAU "stickiness" ratio — the
    canonical engagement panel. Windowed COUNT(DISTINCT) is not
    expressible as a window function in either engine, so this uses
    the scale-correct expand-to-bucket plan: dedup to (user, day)
    FIRST, then each user-day contributes to the ≤7 window-end days it
    can be visible in (a map-side explode whose fan-out is the window
    length, NOT a self-join), dedup contributions, and count per end
    day.

    Exactness: day is the integer epoch-day; everything is exact
    integer counts; the one ratio is a single division, round 10.

    Scale: the explode factor is the constant window length — the
    standard sliding-distinct recipe (used over sessions instead of a
    user_id×day range join whose fan-out would be data-dependent);
    both aggregations are hash-partitioned on their group keys and
    map-side combinable after the first dedup.
    """
    ev = load_table(spark, sf_dir, "events")
    user_days = (ev.select(
        "user_id",
        F.expr("unix_micros(ts) div 86400000000").alias("day"))
        .distinct())
    return dau_finish(user_days)


def dau_finish(user_days: DataFrame) -> DataFrame:
    """DAU/WAU finishing over a distinct (user_id, day) relation —
    shared verbatim by the batch operator above and the streaming twin
    (``streaming/foreach_batch.run_sliding_dau_stream`` runs it per
    trigger over the accumulated complete-mode user-day state)."""
    days = user_days.select("day").distinct()
    contribs = (user_days.select(
        "user_id",
        F.explode(F.sequence(
            F.col("day"),
            F.col("day") + F.lit(DAU_WINDOW_DAYS - 1))).alias("d"))
        .distinct())
    dau7 = (contribs.join(days.withColumnRenamed("day", "d"), "d")
            .groupBy("d").agg(F.count(F.lit(1)).alias("dau7"))
            .withColumnRenamed("d", "day"))
    dau1 = user_days.groupBy("day").agg(
        F.count(F.lit(1)).alias("dau1"))
    return (dau1.join(dau7, "day")
            .select("day", "dau1", "dau7",
                    F.round(F.col("dau1") / F.col("dau7"), 10)
                    .alias("stickiness")))


SLIDING_DAU_SQL = f"""
WITH user_days AS (
    SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
    FROM events
), days AS (SELECT DISTINCT day FROM user_days
), contribs AS (
    SELECT DISTINCT user_id, day + o AS d
    FROM user_days, unnest(generate_series(0, {DAU_WINDOW_DAYS - 1}))
         AS t(o)
), dau7 AS (
    SELECT d.day, count(*) AS dau7
    FROM contribs c JOIN days d ON c.d = d.day
    GROUP BY d.day
), dau1 AS (
    SELECT day, count(*) AS dau1 FROM user_days GROUP BY day
)
SELECT day, dau1, dau7,
       round(CAST(dau1 AS DOUBLE) / dau7, 10) AS stickiness
FROM dau1 JOIN dau7 USING (day)
"""


# --- Nelson-Aalen cumulative hazard ---------------------------------------


def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator (Nelson 1972, Aalen
    1978) over the same right-censored view→purchase life table as
    `kaplan_meier_conversion`: Ĥ(t) = Σ_{tᵢ≤t} dᵢ/nᵢ, with the
    Fleming-Harrington survival Ŝ = exp(−Ĥ) beside it — the additive
    companion to KM's product-limit curve (hazard increments ADD, so
    this is the form you difference to read instantaneous risk, and
    the one that stays stable when at-risk counts get small).

    Exactness: each increment dᵢ/nᵢ is one exact integer division,
    pinned at round 10 and cumulated as a DECIMAL(25,10) running
    window sum (DuckDB's segment-tree window order never matters on
    exact decimals); exp is applied to identical doubles.

    Scale: identical to KM — one combinable life-table aggregation,
    one ordered window over the |distinct hours| relation.
    """
    dur = _censored_durations(spark, sf_dir)
    lt = (dur.groupBy("h")
          .agg(F.sum("event").alias("d"),
               F.sum(F.lit(1) - F.col("event")).alias("c")))
    total = lt.agg(F.sum(F.col("d") + F.col("c")).alias("n_total"))
    w = Window.orderBy("h")
    before = w.rowsBetween(Window.unboundedPreceding, -1)
    upto = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    risk = (lt.crossJoin(total)
            .withColumn("n_risk",
                        F.col("n_total")
                        - F.coalesce(F.sum(F.col("d") + F.col("c"))
                                     .over(before), F.lit(0))))
    inc = F.round(F.col("d").cast("double")
                  / F.col("n_risk").cast("double"), 10) \
        .cast("decimal(25,10)")
    curve = (risk.withColumn("inc", inc)
             .withColumn("cum", F.sum("inc").over(upto)))
    return (curve.filter(F.col("d") >= 1)
            .select(F.col("h").alias("duration_h"), "n_risk",
                    F.col("d").alias("n_events"),
                    F.col("inc").cast("double").alias("hazard_inc"),
                    F.col("cum").cast("double").alias("cum_hazard"),
                    F.round(F.exp(-F.col("cum").cast("double")), 6)
                    .alias("na_survival")))


NELSON_AALEN_SQL = f"""{_CENSORED_DUR_SQL},
lt AS (
    SELECT h, CAST(sum(event) AS BIGINT) AS d,
           CAST(sum(1 - event) AS BIGINT) AS c
    FROM dur GROUP BY h
), total AS (SELECT CAST(sum(d + c) AS BIGINT) AS n_total FROM lt
), risk AS (
    SELECT lt.*, CAST(t.n_total
           - COALESCE(sum(d + c) OVER (ORDER BY h ROWS BETWEEN
                      UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS n_risk
    FROM lt, total t
), curve AS (
    SELECT *,
           CAST(round(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE), 10)
                AS DECIMAL(25,10)) AS inc,
           sum(CAST(round(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE),
                          10) AS DECIMAL(25,10)))
               OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS cum
    FROM risk
)
SELECT h AS duration_h, n_risk, d AS n_events,
       CAST(inc AS DOUBLE) AS hazard_inc,
       CAST(cum AS DOUBLE) AS cum_hazard,
       round(exp(-CAST(cum AS DOUBLE)), 6) AS na_survival
FROM curve
WHERE d >= 1
"""


# --- Wald-Wolfowitz runs test ---------------------------------------------


def runs_test_updown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test (1940) for randomness of each event
    type's daily-count movements: successive days are classified
    up/down (ties dropped, the standard treatment), the number of
    sign RUNS is counted, and z = (R − E[R])/√V[R] with the exact
    two-category moments E = 1 + 2n₁n₂/n and V = 2n₁n₂(2n₁n₂ − n)/
    (n²(n−1)) — too FEW runs means trending/sticky days, too many
    means oscillation; |z| ≲ 2 is consistent with random. The
    nonparametric cousin of `acf_correlogram`'s lag-1 reading and the
    sign-based complement to `trend_mann_kendall`.

    Exactness: run counting is integer window arithmetic over total
    orders; E and V are fixed-shape double expressions of exact
    integers; z is one division + sqrt, round 6.

    Scale: the corpus collapses to the per-(type, day) grid in one
    combinable aggregation; both windows are PARTITIONED BY
    event_type over the manifest-sized daily relation.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.select(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("y")))
    return runs_finish(daily)


def runs_finish(daily: DataFrame) -> DataFrame:
    """Runs-test finishing over a (event_type, day, y) relation —
    shared verbatim by the batch operator above and the streaming twin
    (``streaming/foreach_batch.run_runs_test_stream`` re-runs it per
    trigger over the accumulated complete-mode daily counts)."""
    w = Window.partitionBy("event_type").orderBy("day")
    signs = (daily.withColumn(
        "s", F.signum(F.col("y") - F.lag("y").over(w)))
        .filter(F.col("s").isNotNull() & (F.col("s") != 0)))
    w2 = Window.partitionBy("event_type").orderBy("day")
    runs = signs.withColumn(
        "new_run",
        F.when(F.lag("s").over(w2).isNull()
               | (F.lag("s").over(w2) != F.col("s")), 1).otherwise(0))
    agg = runs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_moves"),
        F.sum(F.when(F.col("s") > 0, 1).otherwise(0)).alias("n_up"),
        F.sum(F.when(F.col("s") < 0, 1).otherwise(0)).alias("n_down"),
        F.sum("new_run").alias("n_runs"))
    n1 = F.col("n_up").cast("double")
    n2 = F.col("n_down").cast("double")
    n = n1 + n2
    e_r = F.lit(1.0) + 2.0 * n1 * n2 / n
    v_r = (2.0 * n1 * n2 * (2.0 * n1 * n2 - n)) / (n * n * (n - 1.0))
    return agg.select(
        "event_type", "n_moves", "n_up", "n_down", "n_runs",
        F.when((F.col("n_up") > 0) & (F.col("n_down") > 0)
               & (F.col("n_moves") > 1),
               F.round((F.col("n_runs") - e_r) / F.sqrt(v_r), 6))
        .alias("z"))


RUNS_TEST_SQL = """
WITH daily AS (
    SELECT event_type, epoch_us(ts) // 86400000000 AS day,
           count(*) AS y
    FROM events GROUP BY 1, 2
), signs AS (
    SELECT * FROM (
        SELECT event_type, day,
               sign(y - lag(y) OVER (PARTITION BY event_type
                                     ORDER BY day)) AS s
        FROM daily)
    WHERE s IS NOT NULL AND s <> 0
), runs AS (
    SELECT event_type, s,
           CASE WHEN lag(s) OVER (PARTITION BY event_type
                                  ORDER BY day) IS NULL
                  OR lag(s) OVER (PARTITION BY event_type
                                  ORDER BY day) <> s
                THEN 1 ELSE 0 END AS new_run
    FROM signs
), agg AS (
    SELECT event_type, count(*) AS n_moves,
           CAST(sum(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_up,
           CAST(sum(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_down,
           CAST(sum(new_run) AS BIGINT) AS n_runs
    FROM runs GROUP BY event_type
)
SELECT event_type, n_moves, n_up, n_down, n_runs,
       CASE WHEN n_up > 0 AND n_down > 0 AND n_moves > 1 THEN
         round((n_runs - (1.0 + 2.0 * CAST(n_up AS DOUBLE)
                          * CAST(n_down AS DOUBLE)
                          / (CAST(n_up AS DOUBLE)
                             + CAST(n_down AS DOUBLE))))
               / sqrt((2.0 * CAST(n_up AS DOUBLE)
                       * CAST(n_down AS DOUBLE)
                       * (2.0 * CAST(n_up AS DOUBLE)
                          * CAST(n_down AS DOUBLE)
                          - (CAST(n_up AS DOUBLE)
                             + CAST(n_down AS DOUBLE))))
                      / ((CAST(n_up AS DOUBLE)
                          + CAST(n_down AS DOUBLE))
                         * (CAST(n_up AS DOUBLE)
                            + CAST(n_down AS DOUBLE))
                         * (CAST(n_up AS DOUBLE)
                            + CAST(n_down AS DOUBLE) - 1.0))), 6)
       END AS z
FROM agg
"""


# --- Markov entropy rate --------------------------------------------------


def entropy_rate_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the within-session clickstream (Shannon 1948):
    H = −Σ_ij π̂_i P̂_ij ln P̂_ij = −Σ_ij (n_ij/N)·ln(n_ij/n_i) over
    the SAME session transition counts `session_path_transitions`
    reports, with π̂ the empirical from-state distribution — one
    number (nats/step, with its perplexity twin exp(H)) for "how
    predictable is the next user action", the summary the per-cell
    transition matrix decomposes. Alongside: the maximum ln|S| for
    the observed state count, and the predictability ratio
    1 − H/ln|S|.

    Exactness: every term is (n_ij/N)·ln(n_ij/n_i) — two exact
    integer divisions, one ln, one product, fixed shape — pinned at
    round 10 and summed as DECIMAL(25,10); the scalars after are
    fixed-order doubles, round 6.

    Scale: the transition-count relation is ≤ |event_type|² rows
    after one user_id-partitioned window pass (the proven
    session-family single exchange); everything downstream is
    manifest-sized.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(w)
    new_sess = F.when(
        prev_ts.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)
           >= 30 * 60 * 1_000_000), 1).otherwise(0)
    sessioned = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.sum(new_sess).over(wc).alias("session_id"))
    trans = (
        sessioned
        .withColumn("to_type", F.lead("event_type").over(w))
        .withColumn("to_sess", F.lead("session_id").over(w))
        .filter(F.col("to_sess") == F.col("session_id"))
        .select(F.col("event_type").alias("from_type"), "to_type"))
    counts = trans.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_ij"))
    row_tot = F.sum("n_ij").over(Window.partitionBy("from_type"))
    terms = counts.select(
        "from_type", "to_type", "n_ij",
        F.round((F.col("n_ij").cast("double")
                 / F.sum("n_ij").over(Window.partitionBy(F.lit(1)))
                 .cast("double"))
                * F.log(F.col("n_ij").cast("double")
                        / row_tot.cast("double")), 10)
        .cast("decimal(25,10)").alias("t"))
    agg = terms.agg(
        F.sum("n_ij").alias("n_transitions"),
        F.countDistinct("from_type").alias("n_states"),
        F.sum("t").alias("s"))
    h = -F.col("s").cast("double")
    hmax = F.log(F.col("n_states").cast("double"))
    return agg.select(
        "n_transitions", "n_states",
        F.round(h, 6).alias("entropy_rate_nats"),
        F.round(F.exp(h), 6).alias("perplexity"),
        F.round(F.lit(1.0) - h / hmax, 6).alias("predictability"))


ENTROPY_RATE_SQL = """
WITH flagged AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                     >= 30 * 60 * 1000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessioned AS (
    SELECT user_id, ts, event_id, event_type,
           SUM(new_session) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING)
               AS session_id
    FROM flagged
), trans AS (
    SELECT event_type AS from_type,
           lead(event_type) OVER w AS to_type,
           lead(session_id) OVER w AS to_sess, session_id
    FROM sessioned
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), counts AS (
    SELECT from_type, to_type, count(*) AS n_ij
    FROM trans WHERE to_sess = session_id
    GROUP BY 1, 2
), terms AS (
    SELECT n_ij,
           from_type,
           CAST(round((CAST(n_ij AS DOUBLE)
                       / CAST(sum(n_ij) OVER () AS DOUBLE))
                      * ln(CAST(n_ij AS DOUBLE)
                           / CAST(sum(n_ij) OVER (
                                 PARTITION BY from_type) AS DOUBLE)),
                      10) AS DECIMAL(25,10)) AS t
    FROM counts
), agg AS (
    SELECT CAST(sum(n_ij) AS BIGINT) AS n_transitions,
           count(DISTINCT from_type) AS n_states,
           sum(t) AS s
    FROM terms
)
SELECT n_transitions, n_states,
       round(-CAST(s AS DOUBLE), 6) AS entropy_rate_nats,
       round(exp(-CAST(s AS DOUBLE)), 6) AS perplexity,
       round(1.0 - (-CAST(s AS DOUBLE))
                   / ln(CAST(n_states AS DOUBLE)), 6)
           AS predictability
FROM agg
"""


# --- Wald SPRT sequential A/B ---------------------------------------------

# Wald (1945) SPRT of H1: p = 0.25 vs H0: p = 0.20 at alpha = beta =
# 0.05. The per-trial log-likelihood increments ln(p1/p0) and
# ln((1-p1)/(1-p0)) and the boundary ln(19) are FROZEN 10-dp decimal
# string literals (HALF_UP of the exact values), so the running LLR is
# EXACT integer-scaled decimal arithmetic in both engines — no float
# accumulates anywhere.
SPRT_LA = "0.2231435513"     # success increment,  ln(0.25/0.20)
SPRT_LB = "-0.0645385211"    # failure increment,  ln(0.75/0.80)
SPRT_BOUND = "2.9444389792"  # ln((1-beta)/alpha) = ln(19)


def sprt_sequential_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test (Wald 1945) run over
    each md5 arm's event stream in arrival order: every event is a
    Bernoulli trial (purchase = success), the running LLR walks up by
    ln(p1/p0) per success and down by |ln((1−p1)/(1−p0))| per
    failure, and the test STOPS at the first crossing of ±ln(19) —
    the early-stopping design that needs ~half the samples of the
    fixed-n z-test (`ab_test_proportions`) at the same error rates.
    Output per arm: trials, successes, the final LLR, the first
    crossing index and the decision — 'accept_h1' / 'accept_h0' /
    'continue'.

    Exactness: the LLR is a running DECIMAL(25,10) sum of two frozen
    decimal literals — exact integer arithmetic end-to-end; crossing
    detection compares exact decimals; only the displayed final LLR
    is cast to double.

    Scale: one window pass PARTITIONED BY arm in event-time order
    (the sequential semantics ARE per-arm ordered — same shape as the
    session family's per-user windows), then a 2-row rollup joined
    back to the crossing trial.
    """
    ev = load_table(spark, sf_dir, "events")
    arm = (F.conv(F.substring(
        F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint") % 2).alias("arm")
    x = (F.col("event_type") == "purchase").cast("int").alias("x")
    trials = ev.select(arm, x, "ts", "event_id")
    w = Window.partitionBy("arm").orderBy("ts", "event_id")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    la = F.lit(SPRT_LA).cast("decimal(25,10)")
    lb = F.lit(SPRT_LB).cast("decimal(25,10)")
    bound = F.lit(SPRT_BOUND).cast("decimal(25,10)")
    walked = (trials
              .withColumn("idx", F.row_number().over(w).cast("bigint"))
              .withColumn("llr", F.sum(
                  F.when(F.col("x") == 1, la).otherwise(lb)).over(wc)))
    crossed = walked.withColumn(
        "cross_idx",
        F.when((F.col("llr") >= bound) | (F.col("llr") <= -bound),
               F.col("idx")))
    summary = crossed.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_trials"),
        F.sum("x").alias("n_success"),
        F.min("cross_idx").alias("first_cross_idx"))
    final_llr = (walked.groupBy("arm")
                 .agg(F.max(F.struct("idx", "llr")).alias("last"))
                 .select("arm", F.col("last.llr").alias("llr_final")))
    at_cross = (crossed.select(F.col("arm").alias("c_arm"),
                               F.col("idx").alias("c_idx"),
                               F.col("llr").alias("c_llr")))
    return (summary
            .join(final_llr, "arm")
            .join(at_cross,
                  (F.col("arm") == F.col("c_arm"))
                  & (F.col("first_cross_idx") == F.col("c_idx")),
                  "left")
            .select(
                "arm", "n_trials", "n_success",
                F.round(F.col("llr_final").cast("double"), 10)
                .alias("llr_final"),
                "first_cross_idx",
                F.when(F.col("c_llr") >= bound, "accept_h1")
                .when(F.col("c_llr") <= -bound, "accept_h0")
                .otherwise("continue").alias("decision")))


SPRT_SQL = f"""
WITH trials AS (
    SELECT ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
               ::BIGINT % 2 AS arm,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x,
           ts, event_id
    FROM events
), walked AS (
    SELECT arm, x,
           row_number() OVER w AS idx,
           sum(CASE WHEN x = 1
                    THEN CAST('{SPRT_LA}' AS DECIMAL(25,10))
                    ELSE CAST('{SPRT_LB}' AS DECIMAL(25,10)) END)
               OVER (PARTITION BY arm ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS llr
    FROM trials
    WINDOW w AS (PARTITION BY arm ORDER BY ts, event_id)
), crossed AS (
    SELECT *,
           CASE WHEN llr >= CAST('{SPRT_BOUND}' AS DECIMAL(25,10))
                  OR llr <= -CAST('{SPRT_BOUND}' AS DECIMAL(25,10))
                THEN idx END AS cross_idx
    FROM walked
), summary AS (
    SELECT arm, count(*) AS n_trials,
           CAST(sum(x) AS BIGINT) AS n_success,
           min(cross_idx) AS first_cross_idx
    FROM crossed GROUP BY arm
), final_llr AS (
    SELECT arm, llr AS llr_final
    FROM (SELECT arm, llr, row_number() OVER (
              PARTITION BY arm ORDER BY idx DESC) AS rn FROM walked)
    WHERE rn = 1
)
SELECT s.arm, s.n_trials, s.n_success,
       round(CAST(f.llr_final AS DOUBLE), 10) AS llr_final,
       s.first_cross_idx,
       CASE WHEN c.llr >= CAST('{SPRT_BOUND}' AS DECIMAL(25,10))
            THEN 'accept_h1'
            WHEN c.llr <= -CAST('{SPRT_BOUND}' AS DECIMAL(25,10))
            THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM summary s
JOIN final_llr f ON s.arm = f.arm
LEFT JOIN crossed c
  ON s.arm = c.arm AND s.first_cross_idx = c.idx
"""
