"""End-to-end corpus-curation funnel — the composed query that ties
the LLM-data-pipeline operators together (C4/RefinedWeb-style): raw →
quality gate → exact dedup → near-dup canonical → per-lang manifest.

The reference engine (mapreduce.c) answers one composed question
(inverted index, R1→R11); this module is the analogous "one query that
exercises the whole pipeline" for the north-star curation surface.
Each stage reuses the SAME definitions as its standalone operator
(quality thresholds ↔ ``doc_quality_stats``, fingerprint ↔
``exact_dedup``, cluster canonical ↔ ``connected_components_dedup``),
so the funnel is a consistency proof across operators, not a parallel
implementation.

Scale notes (100 TB):
- stage flags are computed as COLUMNS and aggregated with conditional
  sums — the funnel is ONE pass over the corpus plus two key-only
  joins (exact-dedup survivors and near-dup canonicals are (bigint)
  id sets, never full documents);
- the survivor set shuffles md5 fingerprints (16 bytes), not text;
- counts are map-side combinable; the per-lang rollup is tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.lineage import truncate_lineage
from ..sources.tables import load_table
from .iterative import connected_components_dedup, CONNECTED_COMPONENTS_SQL

MIN_TOKENS = 10
MIN_DISTINCT_RATIO = 0.5


def _funnel_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared per-doc stage flags (lang, doc_id, n_tokens,
    pass_quality, is_exact_survivor, kept) — the funnel's stage
    definitions, factored so composed reports reuse them verbatim."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    base = docs.select(
        "lang", "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        (F.size(F.array_distinct(toks)) / F.size(toks))
        .alias("distinct_ratio"),
        F.md5("text").alias("fingerprint"),
    ).withColumn(
        "pass_quality",
        (F.col("n_tokens") >= MIN_TOKENS)
        & (F.col("distinct_ratio") >= MIN_DISTINCT_RATIO))

    exact_surv = (
        base.filter("pass_quality")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .withColumn("is_exact_survivor", F.lit(True))
    )
    canon = (connected_components_dedup(spark, sf_dir)
             .filter("is_canonical").select("doc_id")
             .withColumn("is_cluster_canonical", F.lit(True)))

    return (
        base.join(exact_surv, "doc_id", "left")
        .join(canon, "doc_id", "left")
        .withColumn("is_exact_survivor",
                    F.col("pass_quality")
                    & F.coalesce("is_exact_survivor", F.lit(False)))
        .withColumn("kept",
                    F.col("is_exact_survivor")
                    & F.coalesce("is_cluster_canonical", F.lit(False)))
    )


def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang manifest with stage-by-stage survivor counts.

    Stages compose by intersection:
      raw            — every document;
      quality        — ≥ MIN_TOKENS tokens and distinct-token ratio
                       ≥ MIN_DISTINCT_RATIO (repetition filter);
      exact survivor — lowest doc_id per md5(text) among quality docs;
      kept           — additionally the canonical member of its
                       near-dup cluster (``connected_components_dedup``).
    """
    flagged = _funnel_flags(spark, sf_dir)
    cnt_if = lambda c: F.sum(F.when(F.col(c), 1).otherwise(0))
    return (
        flagged.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_raw"),
             cnt_if("pass_quality").alias("n_quality"),
             cnt_if("is_exact_survivor").alias("n_exact_unique"),
             cnt_if("kept").alias("n_kept"),
             F.sum(F.when(F.col("kept"), F.col("n_tokens"))
                   .otherwise(0)).alias("tokens_kept"))
    )


CURATION_FUNNEL_SQL = f"""
WITH base AS (
    SELECT lang, doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' ')))
               / CAST(len(string_split(text, ' ')) AS DOUBLE)
               AS distinct_ratio,
           md5(text) AS fingerprint
    FROM documents
),
flagged AS (
    SELECT *,
           n_tokens >= {MIN_TOKENS}
           AND distinct_ratio >= {MIN_DISTINCT_RATIO} AS pass_quality
    FROM base
),
exact_surv AS (
    SELECT min(doc_id) AS doc_id
    FROM flagged WHERE pass_quality GROUP BY fingerprint
),
canon AS (
    SELECT doc_id FROM ({CONNECTED_COMPONENTS_SQL}) WHERE is_canonical
)
SELECT lang,
       count(*) AS n_raw,
       CAST(sum(CASE WHEN pass_quality THEN 1 ELSE 0 END)
            AS BIGINT) AS n_quality,
       CAST(sum(CASE WHEN pass_quality AND e.doc_id IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_unique,
       CAST(sum(CASE WHEN pass_quality AND e.doc_id IS NOT NULL
                     AND c.doc_id IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN pass_quality AND e.doc_id IS NOT NULL
                     AND c.doc_id IS NOT NULL
                THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
FROM flagged f
LEFT JOIN exact_surv e ON e.doc_id = f.doc_id
LEFT JOIN canon c ON c.doc_id = f.doc_id
GROUP BY lang
"""




def pretrain_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL modern pretraining-curation recipe as ONE composed
    per-lang report — ``curation_funnel`` extended with the semantic
    and selection stages the round-4 operators added:

      raw → quality → exact survivor → near-dup canonical (the funnel
      stages, reused verbatim via ``_funnel_flags``) →
      **semantic** (drop docs whose embedding ``semdedup_prune``
      marks as a within-cluster duplicate; docs without an embedding
      row cannot be semantically deduped and pass through) →
      **selected** (docs in ``dsir_importance_weights``' top-N
      importance resample), with the final stage's token total.

    Like the funnel, every stage reuses its standalone operator's
    exact definition — the report is a cross-operator consistency
    proof, and its oracle composes the same standalone SQL twins as
    subqueries.

    Scale: stage flags stay per-doc columns aggregated with
    conditional sums; the semantic and selection stages join (bigint)
    id sets, never documents or vectors.
    """
    from .quantizer import semdedup_prune

    flagged = _funnel_flags(spark, sf_dir)
    sem_pruned = (semdedup_prune(spark, sf_dir)
                  .filter(F.col("pruned") == 1)
                  .select(F.col("vec_id").alias("doc_id"))
                  .withColumn("sem_pruned", F.lit(True)))
    selected = (dsir_importance_weights(spark, sf_dir)
                .filter(F.col("selected") == 1)
                .select("doc_id")
                .withColumn("dsir_selected", F.lit(True)))
    full = (
        flagged.join(sem_pruned, "doc_id", "left")
        .join(selected, "doc_id", "left")
        .withColumn("semantic",
                    F.col("kept")
                    & ~F.coalesce("sem_pruned", F.lit(False)))
        .withColumn("final",
                    F.col("semantic")
                    & F.coalesce("dsir_selected", F.lit(False))))
    cnt_if = lambda c: F.sum(F.when(F.col(c), 1).otherwise(0))
    return (
        full.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_raw"),
             cnt_if("pass_quality").alias("n_quality"),
             cnt_if("is_exact_survivor").alias("n_exact_unique"),
             cnt_if("kept").alias("n_kept"),
             cnt_if("semantic").alias("n_semantic"),
             cnt_if("final").alias("n_selected"),
             F.sum(F.when(F.col("final"), F.col("n_tokens"))
                   .otherwise(0)).alias("tokens_selected"))
    )




def _pretrain_report_sql() -> str:
    from .quantizer import SEMDEDUP_SQL

    return f"""
WITH base AS (
    SELECT lang, doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' ')))
               / CAST(len(string_split(text, ' ')) AS DOUBLE)
               AS distinct_ratio,
           md5(text) AS fingerprint
    FROM documents
),
flagged AS (
    SELECT *,
           n_tokens >= {MIN_TOKENS}
           AND distinct_ratio >= {MIN_DISTINCT_RATIO} AS pass_quality
    FROM base
),
exact_surv AS (
    SELECT min(doc_id) AS doc_id
    FROM flagged WHERE pass_quality GROUP BY fingerprint
),
canon AS (
    SELECT doc_id FROM ({CONNECTED_COMPONENTS_SQL}) WHERE is_canonical
),
sem AS (
    SELECT vec_id AS doc_id FROM ({SEMDEDUP_SQL}) WHERE pruned = 1
),
dsel AS (
    SELECT doc_id FROM ({DSIR_SQL}) WHERE selected = 1
),
staged AS (
    SELECT f.lang, f.n_tokens, f.pass_quality,
           f.pass_quality AND e.doc_id IS NOT NULL AS is_exact,
           f.pass_quality AND e.doc_id IS NOT NULL
               AND c.doc_id IS NOT NULL AS kept,
           f.pass_quality AND e.doc_id IS NOT NULL
               AND c.doc_id IS NOT NULL AND s.doc_id IS NULL AS semantic,
           f.pass_quality AND e.doc_id IS NOT NULL
               AND c.doc_id IS NOT NULL AND s.doc_id IS NULL
               AND d.doc_id IS NOT NULL AS final
    FROM flagged f
    LEFT JOIN exact_surv e ON e.doc_id = f.doc_id
    LEFT JOIN canon c ON c.doc_id = f.doc_id
    LEFT JOIN sem s ON s.doc_id = f.doc_id
    LEFT JOIN dsel d ON d.doc_id = f.doc_id
)
SELECT lang, count(*) AS n_raw,
       CAST(sum(CASE WHEN pass_quality THEN 1 ELSE 0 END) AS BIGINT)
           AS n_quality,
       CAST(sum(CASE WHEN is_exact THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exact_unique,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN semantic THEN 1 ELSE 0 END) AS BIGINT)
           AS n_semantic,
       CAST(sum(CASE WHEN final THEN 1 ELSE 0 END) AS BIGINT)
           AS n_selected,
       CAST(sum(CASE WHEN final THEN n_tokens ELSE 0 END) AS BIGINT)
           AS tokens_selected
FROM staged GROUP BY lang
"""




SAMPLE_FRACTIONS = {"en": 0.5, "de": 0.3, "es": 0.3, "fr": 0.2, "zh": 0.1}
SAMPLE_SEED = 42
SAMPLE_SIGMA_BAND = 6.0  # ±6σ binomial audit band on the realized rate
SAMPLE_K = 25


def stratified_sample_fractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stratified sampling via the native ``sampleBy``
    (Bernoulli per stratum, seeded). The language-rebalancing primitive
    of corpus curation: downsample over-represented languages at scan
    time — sampling is a zero-shuffle map-side filter, so at 100 TB
    it prunes before any expensive downstream op.

    Reported as a BOUNDED-ERROR AUDIT (VERDICT r8 item 7, rows-only →
    driver-adjudicated): Spark's stratified RNG is engine-internal (a
    DuckDB twin can never reproduce the drawn rows), so the OUTPUT is
    the per-stratum census — stratum size, requested fraction, and a
    flag asserting the realized sample count lands within ±6σ of the
    binomial expectation n·f (σ = sqrt(n·f·(1−f)), the unit test's
    band) — which the oracle pins exactly (counts, fraction literals,
    flags=1). Deterministic: ``sampleBy`` with a fixed seed draws the
    same rows every run, so the flag is stable; the drawn rows
    themselves stay pinned by the subset/determinism unit test.
    """
    docs = load_table(spark, sf_dir, "documents")
    langs = sorted(SAMPLE_FRACTIONS)
    sampled = (docs.sampleBy("lang", SAMPLE_FRACTIONS, seed=SAMPLE_SEED)
               .groupBy("lang").agg(F.count(F.lit(1)).alias("n_sampled")))
    frac = F.element_at(
        F.create_map(*[F.lit(x) for lang in langs
                       for x in (lang, SAMPLE_FRACTIONS[lang])]),
        F.col("lang"))
    totals = (docs.filter(F.col("lang").isin(langs))
              .groupBy("lang").agg(F.count(F.lit(1)).alias("n_stratum")))
    j = totals.join(sampled, "lang", "left").select(
        "lang", "n_stratum", frac.alias("sample_frac"),
        F.coalesce(F.col("n_sampled"), F.lit(0)).alias("n_s"))
    mu = F.col("n_stratum").cast("double") * F.col("sample_frac")
    sigma = F.sqrt(mu * (F.lit(1.0) - F.col("sample_frac")))
    return j.select(
        "lang", "n_stratum", "sample_frac",
        (F.abs(F.col("n_s").cast("double") - mu)
         <= F.lit(float(SAMPLE_SIGMA_BAND)) * sigma + F.lit(1.0))
        .cast("long").alias("rate_within_6sigma"))


STRATIFIED_SAMPLE_SQL = f"""
SELECT lang, count(*) AS n_stratum,
       CAST(CASE lang {' '.join(
           f"WHEN '{lang}' THEN {SAMPLE_FRACTIONS[lang]}"
           for lang in sorted(SAMPLE_FRACTIONS))} END AS DOUBLE)
           AS sample_frac,
       CAST(1 AS BIGINT) AS rate_within_6sigma
FROM documents
WHERE lang IN ({', '.join(f"'{lang}'" for lang in sorted(SAMPLE_FRACTIONS))})
GROUP BY lang
"""


def deterministic_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size per-stratum sample with a DETERMINISTIC pseudo-random
    order: rank docs inside each language by md5(doc_id) and keep the
    first ``SAMPLE_K``. Unlike ``sampleBy`` this is reproducible across
    engines and releases (the md5 order is a pure function of the
    data), gives exact stratum sizes, and is oracle-checkable. At
    scale this is one window over one shuffle per stratum — and for
    top-k per group Spark plans a partial (map-side) rank, never a
    global sort."""
    from pyspark.sql import Window
    docs = load_table(spark, sf_dir, "documents")
    rnd = F.md5(F.col("doc_id").cast("string").cast("binary"))
    w = Window.partitionBy("lang").orderBy(rnd, "doc_id")
    return (docs.withColumn("rnk", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rnk") <= SAMPLE_K)
            .select("doc_id", "lang", "rnk"))


DETERMINISTIC_SAMPLE_SQL = f"""
SELECT doc_id, lang, rnk FROM (
    SELECT doc_id, lang,
           row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
    FROM documents
)
WHERE rnk <= {SAMPLE_K}
"""


MIX_TOKEN_BUDGET = 1_000_000  # documents drawn for the training mix


def mixture_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based multilingual mixture weights (the XLM-R /
    mT5 sampling recipe, p_l ∝ n_l^α): per language, the corpus size,
    the α-damped weight, its share of the mix, and the document quota
    a ``MIX_TOKEN_BUDGET``-draw training mix would allocate.
    Temperature sampling keeps head languages from drowning tail ones
    — the knob every multilingual corpus mix is tuned with.

    α is fixed at 0.5 so the damped weight is ``sqrt(n_l)`` — a single
    correctly-rounded IEEE op, bit-identical in any engine, where a
    general ``pow(x, 0.3)`` is libm-dependent and would break the
    exact-hash oracle contract. The mix denominator Σ sqrt(n_l) is a
    float sum, so it is built as a RUNNING sum in lang order (the
    sequential left fold both engines implement for running frames —
    the `running_customer_spend` precedent) and the total is taken as
    ``max(cum)`` (exact, order-independent) rather than a full-frame
    float sum whose combine order is engine-internal.

    Scale: one map-side-combinable aggregation over the corpus to
    K ≈ #languages rows, then windows over the K-row relation — the
    single-partition window is bounded by language count, not corpus
    size.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"))
    weight = F.sqrt(F.col("n_docs").cast("double"))
    w_run = (Window.orderBy("lang")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = (Window.orderBy("lang")
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    with_cum = (per_lang.withColumn("weight", weight)
                .withColumn("cum", F.sum("weight").over(w_run)))
    total = F.max("cum").over(w_all)
    return with_cum.select(
        "lang", "n_docs", "n_tokens", "weight",
        (F.col("weight") / total).alias("mix_prob"),
        F.floor(F.lit(float(MIX_TOKEN_BUDGET)) * F.col("weight") / total)
        .cast("bigint").alias("doc_quota"))


MIXTURE_WEIGHTS_SQL = f"""
WITH per_lang AS (
    SELECT lang, count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents GROUP BY lang
), with_cum AS (
    SELECT lang, n_docs, n_tokens,
           sqrt(CAST(n_docs AS DOUBLE)) AS weight,
           sum(sqrt(CAST(n_docs AS DOUBLE))) OVER (
               ORDER BY lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM per_lang
)
SELECT lang, n_docs, n_tokens, weight,
       weight / max(cum) OVER () AS mix_prob,
       CAST(floor({float(MIX_TOKEN_BUDGET)} * weight / max(cum) OVER ())
            AS BIGINT) AS doc_quota
FROM with_cum
"""


def soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup (He et al. 2024, arXiv:2407.06654): instead of
    DELETING near-duplicates, reweight them — every document gets
    sampling weight 1/commonness, where commonness = the size of its
    transitive near-dup cluster (``connected_components_dedup``'s
    Hash-Min closure over the Jaccard similarity graph; singletons get
    weight 1.0). A dup cluster of size k contributes total mass 1
    instead of k, so the EXPECTED training mix equals the
    hard-dedup'd one while keeping every surface form available —
    the paper's argument for why soft beats hard dedup at equal
    compute.

    Reuses the shipped cluster assignment verbatim (a consistency
    proof across operators, like ``curation_funnel``): the weight
    column is the only new math, and 1/int is one correctly-rounded
    division, identical cross-engine.

    Scale: cluster sizes are one count window over the cluster key —
    a single shuffle of (doc_id, cluster_id) pairs, no join back.
    """
    cc = connected_components_dedup(spark, sf_dir)
    commonness = F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
    return (
        cc.withColumn("commonness", commonness)
        .select("doc_id", "cluster_id", "commonness",
                (F.lit(1.0) / F.col("commonness")).alias("weight")))


SOFT_DEDUP_SQL = f"""
WITH cc AS (SELECT * FROM ({CONNECTED_COMPONENTS_SQL})),
sizes AS (
    SELECT cluster_id, count(*) AS commonness FROM cc GROUP BY cluster_id
)
SELECT c.doc_id, c.cluster_id, s.commonness,
       CAST(1 AS DOUBLE) / s.commonness AS weight
FROM cc c JOIN sizes s USING (cluster_id)
"""


DSIR_K = 256            # hashed n-gram feature buckets
DSIR_TARGET_LANG = "en"  # deterministic "target domain" subset
DSIR_SELECT_N = 100      # resample budget (top-N by importance)


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023, arXiv:2302.03169): score every raw document by how
    target-domain-like it is under hashed n-gram bag-of-words language
    models, then keep the top of the importance ranking. Features are
    word unigrams AND bigrams hashed into ``DSIR_K`` buckets (the
    paper's hashed n-gram trick — fixed feature space regardless of
    vocabulary); the target distribution is trained on the
    ``lang = DSIR_TARGET_LANG`` slice, the source on the full corpus; both
    are add-one smoothed. Per document,
    ``log w(d) = Σ_k c_k(d) · ln(p_tgt[k] / p_src[k])`` — the
    importance log-weight — and ``selected`` marks the top
    ``DSIR_SELECT_N`` by (weight, doc_id). Where
    ``unigram_logprob_filter`` ranks by fluency under ONE corpus LM,
    DSIR ranks by the LIKELIHOOD RATIO between a target and a source
    LM — the paper's point is that the ratio, not the absolute
    probability, is what matters for domain-matched selection.

    Exactness: bucket ids use the md5→conv identity (count_min's
    proven contract); each bucket's log-ratio is one libm ln pinned
    via round(·,10)→DECIMAL(25,10) (the ``unigram_logprob_filter``
    trick; the probability RATIO itself is exact-int casts and two
    correctly-rounded divisions, identical cross-engine); per-doc
    weights are exact integer-count × decimal products summed in
    decimal.

    Scale: feature hashing is per-row expressions; both LMs are ONE
    map-side-combinable aggregation into ≤ DSIR_K groups off the
    shared (doc, bucket) counts; the ≤ DSIR_K-row log-ratio table is
    a broadcast join; scoring is one combinable per-doc sum. The
    selection rank is a global window over the doc-score manifest —
    at 100 TB swap it for an approx_percentile cutoff + map-side CASE
    (same documented swap as ``unigram_logprob_filter``'s tercile).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    pair_len = F.greatest(n - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, pair_len), F.slice(toks, 2, pair_len),
        lambda x, y: F.concat(x, F.lit(" "), y))
    grams = docs.select(
        "doc_id", "lang",
        F.explode(F.concat(toks, bigrams)).alias("gram"))
    bucket = (F.conv(F.substring(F.md5(F.col("gram")), 1, 15), 16, 10)
              .cast("long") % DSIR_K)
    pd_ = (grams.select("doc_id", "lang", bucket.alias("bucket"))
           .groupBy("doc_id", "lang", "bucket")
           .agg(F.count(F.lit(1)).alias("c")))
    src = pd_.groupBy("bucket").agg(F.sum("c").alias("c_src"))
    tgt = (pd_.filter(F.col("lang") == DSIR_TARGET_LANG)
           .groupBy("bucket").agg(F.sum("c").alias("c_tgt")))
    tot = (src.agg(F.sum("c_src").alias("t_src"))
           .join(tgt.agg(F.sum("c_tgt").alias("t_tgt"))))
    p_tgt = ((F.coalesce(F.col("c_tgt"), F.lit(0)) + 1).cast("double")
             / (F.col("t_tgt") + DSIR_K).cast("double"))
    p_src = ((F.col("c_src") + 1).cast("double")
             / (F.col("t_src") + DSIR_K).cast("double"))
    ratios = (
        src.join(tgt, "bucket", "left").join(tot)
        .select("bucket",
                F.round(F.log(p_tgt / p_src), 10)
                .cast("decimal(25,10)").alias("lr")))
    scored = (
        pd_.join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_grams"),
             F.sum(F.col("c").cast("decimal(10,0)")
                   * F.col("lr")).alias("lw")))
    from pyspark.sql import Window
    w = Window.orderBy(F.col("lw").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .select("doc_id", F.col("n_grams").cast("bigint").alias("n_grams"),
                F.round(F.col("lw").cast("double"), 6).alias("log_weight"),
                F.when(F.col("rnk") <= DSIR_SELECT_N, 1).otherwise(0)
                .cast("bigint").alias("selected")))


DSIR_SQL = f"""
WITH toks AS (
    SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
), grams AS (
    SELECT doc_id, lang,
           unnest(list_concat(t,
               list_transform(range(1, greatest(len(t), 1)),
                              i -> t[i] || ' ' || t[i + 1]))) AS gram
    FROM toks
), b AS (
    SELECT doc_id, lang,
           ('0x' || substr(md5(gram), 1, 15))::BIGINT % {DSIR_K} AS bucket
    FROM grams
), pd AS (
    SELECT doc_id, lang, bucket, count(*) AS c FROM b GROUP BY 1, 2, 3
), src AS (
    SELECT bucket, CAST(sum(c) AS BIGINT) AS c_src FROM pd GROUP BY bucket
), tgt AS (
    SELECT bucket, CAST(sum(c) AS BIGINT) AS c_tgt FROM pd
    WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY bucket
), tot AS (
    SELECT (SELECT CAST(sum(c_src) AS BIGINT) FROM src) AS t_src,
           (SELECT CAST(sum(c_tgt) AS BIGINT) FROM tgt) AS t_tgt
), ratios AS (
    SELECT s.bucket,
           CAST(round(ln(
               (CAST(COALESCE(t.c_tgt, 0) + 1 AS DOUBLE)
                / CAST(tot.t_tgt + {DSIR_K} AS DOUBLE))
               / (CAST(s.c_src + 1 AS DOUBLE)
                  / CAST(tot.t_src + {DSIR_K} AS DOUBLE))), 10)
                AS DECIMAL(25,10)) AS lr
    FROM src s LEFT JOIN tgt t ON s.bucket = t.bucket CROSS JOIN tot
), scored AS (
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
           sum(CAST(c AS DECIMAL(10,0)) * r.lr) AS lw
    FROM pd JOIN ratios r USING (bucket)
    GROUP BY doc_id
)
SELECT doc_id, n_grams, round(CAST(lw AS DOUBLE), 6) AS log_weight,
       CAST(CASE WHEN rnk <= {DSIR_SELECT_N} THEN 1 ELSE 0 END AS BIGINT)
           AS selected
FROM (SELECT *, row_number() OVER (ORDER BY lw DESC, doc_id) AS rnk
      FROM scored)
"""


def integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-gate integrity checks in ONE pass shape (dbt-style
    assertions as a query, not a framework): FK orphans, key
    uniqueness, null/blank rates. Output = one row per check with its
    violation count, so `violations == 0` is the gate.

    Scale notes: each check is a combinable aggregate or an anti join
    with the smaller side broadcast; nothing collects. At 100 TB these
    run as one scheduled audit job whose output table is the freshness/
    quality dashboard.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")

    def check(name: str, df: DataFrame) -> DataFrame:
        return df.select(F.lit(name).alias("check"),
                         F.col("violations").cast("bigint")
                         .alias("violations"))

    orphan_orders = check(
        "orders_custkey_fk",
        o.join(c.select("c_custkey"),
               o.o_custkey == F.col("c_custkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("violations")))
    dup_custkeys = check(
        "customer_key_unique",
        c.groupBy("c_custkey").agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.count(F.lit(1)).alias("violations")))
    null_shipdate = check(
        "lineitem_shipdate_not_null",
        li.agg(F.sum(F.when(F.col("l_shipdate").isNull(), 1)
                     .otherwise(0)).alias("violations")))
    nonpos_qty = check(
        "lineitem_quantity_positive",
        li.agg(F.sum(F.when(F.col("l_quantity") <= 0, 1)
                     .otherwise(0)).alias("violations")))
    orphan_lines = check(
        "lineitem_orderkey_fk",
        li.select("l_orderkey").join(
            o.select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("violations")))
    return (orphan_orders.unionByName(dup_custkeys)
            .unionByName(null_shipdate).unionByName(nonpos_qty)
            .unionByName(orphan_lines))


INTEGRITY_AUDIT_SQL = """
SELECT 'orders_custkey_fk' AS check, count(*) AS violations
FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
UNION ALL
SELECT 'customer_key_unique', count(*) FROM (
    SELECT c_custkey FROM customer GROUP BY c_custkey HAVING count(*) > 1)
UNION ALL
SELECT 'lineitem_shipdate_not_null',
       CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem_quantity_positive',
       CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem_orderkey_fk', count(*)
FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
"""


# Defined at module end: the composed oracle needs DSIR_SQL, declared below
# the funnel section.
PRETRAIN_REPORT_SQL = _pretrain_report_sql()


# --- k-anonymity audit ----------------------------------------------------

K_ANON = 5
LEN_BUCKET = 100  # n_chars bucket width for the quasi-identifier


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over release-style quasi-identifiers: bucket
    every document by (lang, source, length-bucket) and report, per
    language, how many QI groups fall below k=5 members and what
    fraction of documents sit in those re-identifiable groups — the
    privacy gate a corpus release runs next to ``pii_scrub``'s
    content-level scan.

    Exactness: counts and one rounded division.

    Scale: one combinable group count over the QI key, then a tiny
    per-lang rollup — never wider than the QI-group relation.
    """
    docs = load_table(spark, sf_dir, "documents")
    qi = docs.select(
        "lang", "source",
        (F.floor(F.length("text") / LEN_BUCKET)).alias("len_bucket"))
    groups = (qi.groupBy("lang", "source", "len_bucket")
              .agg(F.count(F.lit(1)).alias("cnt")))
    return (groups.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_groups"),
                 F.sum("cnt").alias("n_docs"),
                 F.count(F.when(F.col("cnt") < K_ANON, 1))
                 .alias("n_small_groups"),
                 F.sum(F.when(F.col("cnt") < K_ANON, F.col("cnt"))
                       .otherwise(0)).alias("n_risky_docs"))
            .withColumn("risk_rate",
                        F.round(F.col("n_risky_docs").cast("double")
                                / F.col("n_docs"), 6)))


K_ANONYMITY_SQL = f"""
WITH groups AS (
    SELECT lang, source, floor(length(text) / {LEN_BUCKET}) AS len_bucket,
           count(*) AS cnt
    FROM documents GROUP BY 1, 2, 3
)
SELECT lang, count(*) AS n_groups,
       CAST(sum(cnt) AS BIGINT) AS n_docs,
       count(CASE WHEN cnt < {K_ANON} THEN 1 END) AS n_small_groups,
       CAST(sum(CASE WHEN cnt < {K_ANON} THEN cnt ELSE 0 END) AS BIGINT)
           AS n_risky_docs,
       round(CAST(sum(CASE WHEN cnt < {K_ANON} THEN cnt ELSE 0 END)
                  AS DOUBLE) / sum(cnt), 6) AS risk_rate
FROM groups GROUP BY lang
"""


# --- quantile normalization across sources --------------------------------


def quantile_normalize_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of a per-document quality score (text
    length) ACROSS sources: each doc's within-source rank is mapped to
    the pooled corpus distribution's order statistic at the equivalent
    quantile — the score-calibration step that makes per-source
    quality gates comparable before corpus mixing (a crawl that skews
    short must not be over-pruned by a global length threshold).

    Exactness: everything is ranks and rank-selected elements —
    target_rank = ⌈r·N/n_s⌉ via exact integer arithmetic (the
    numerator stays far inside 2⁵³, so the floored double division
    equals the integer formula on both engines); the normalized score
    is the pooled element AT that rank, bit-for-bit.

    Scale: the pooled distribution is NEVER per-row-ranked (a global
    row_number would funnel the whole corpus through one task) — it
    reduces to the distinct-SCORE relation (value-domain-sized) with
    cumulative rank intervals [start, end] per score, and the lookup
    is a broadcast interval probe. The only big-relation window is
    the per-source rank, partitioned by source.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").alias("score"))
    ws = Window.partitionBy("source").orderBy("score", "doc_id")
    ranked = (docs.withColumn("r", F.row_number().over(ws))
              .withColumn("n_s", F.count(F.lit(1)).over(
                  Window.partitionBy("source"))))
    # pooled order statistics via the distinct-score interval relation:
    # score s covers pooled ranks [cum_end - cnt + 1, cum_end]
    score_counts = docs.groupBy("score").agg(
        F.count(F.lit(1)).alias("cnt"))
    wsc = (Window.orderBy("score")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    intervals = (score_counts
                 .withColumn("rank_end", F.sum("cnt").over(wsc))
                 .select((F.col("rank_end") - F.col("cnt") + 1)
                         .alias("rank_start"), "rank_end",
                         F.col("score").alias("normalized_score")))
    n_total = docs.agg(F.count(F.lit(1)).alias("n_total"))
    with_target = (ranked.crossJoin(n_total)
                   .withColumn(
                       "target_rank",
                       F.floor((F.col("r") * F.col("n_total")
                                + F.col("n_s") - 1) / F.col("n_s"))
                       .cast("bigint")))
    return (with_target.join(
        F.broadcast(intervals),
        (F.col("target_rank") >= F.col("rank_start"))
        & (F.col("target_rank") <= F.col("rank_end")))
        .select("doc_id", "source", "score", "r",
                F.col("n_s").cast("bigint").alias("n_source"),
                "target_rank", "normalized_score"))


QUANTILE_NORMALIZE_SQL = """
WITH scored AS (
    SELECT doc_id, source, length(text) AS score FROM documents
), ranked AS (
    SELECT doc_id, source, score,
           row_number() OVER (PARTITION BY source
                              ORDER BY score, doc_id) AS r,
           count(*) OVER (PARTITION BY source) AS n_s
    FROM scored
), intervals AS (
    SELECT rank_end - cnt + 1 AS rank_start, rank_end,
           score AS normalized_score
    FROM (SELECT score, count(*) AS cnt,
                 sum(count(*)) OVER (ORDER BY score
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS rank_end
          FROM scored GROUP BY score)
), n_total AS (SELECT count(*) AS n_total FROM scored)
SELECT doc_id, source, score, r, n_s AS n_source,
       CAST((r * n_total + n_s - 1) // n_s AS BIGINT) AS target_rank,
       normalized_score
FROM ranked, n_total
JOIN intervals
  ON (r * n_total + n_s - 1) // n_s BETWEEN rank_start AND rank_end
"""


# --- shard routing + balance manifest -----------------------------------

N_SHARDS = 16


def shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard routing + the balance manifest a pipeline
    checks BEFORE writing training shards: every document routes to
    ``shard = md5(doc_id)[:15hex] % N_SHARDS`` (a pure function of the
    id — stable across runs, machines and engines, no seed
    bookkeeping, the `hash_train_test_split` contract applied to
    output partitioning), and the report shows what each shard would
    receive: doc count, token/char totals, language spread, and the
    load factor versus a perfectly even split (the number that
    decides whether the shard count or the key needs changing before
    the expensive write).

    Scale: assignment is a per-row projection (zero shuffle — at
    write time it becomes ``repartition(N, shard)``, this query IS
    the pre-flight audit of that partitioning); the manifest is one
    combinable aggregation into ≤ N_SHARDS groups plus a broadcast
    1-row total.

    Exactness: the md5→conv bucket identity is the count_min-proven
    contract; all sums are integers; the load factor is one
    correctly-rounded double division.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    shard = (F.conv(F.substring(h, 1, 15), 16, 10)
             .cast("long") % N_SHARDS)
    per = (docs.withColumn("shard", shard)
           .groupBy("shard")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.size(F.split("text", " ")))
                .alias("total_tokens"),
                F.sum("n_chars").alias("total_chars"),
                F.countDistinct("lang").alias("n_langs")))
    total = docs.agg(F.count(F.lit(1)).alias("n_total"))
    return (per.crossJoin(total)
            .select("shard", "n_docs", "total_tokens", "total_chars",
                    "n_langs",
                    F.round(F.col("n_docs")
                            * F.lit(N_SHARDS).cast("double")
                            / F.col("n_total"), 6)
                    .alias("load_factor")))


SHARD_ASSIGNMENT_SQL = f"""
WITH assigned AS (
    SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % {N_SHARDS} AS shard,
           len(string_split(text, ' ')) AS n_tokens,
           n_chars, lang
    FROM documents
), per AS (
    SELECT shard, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM assigned GROUP BY shard
), total AS (SELECT count(*) AS n_total FROM documents)
SELECT shard, n_docs, total_tokens, total_chars, n_langs,
       round(n_docs * CAST({N_SHARDS} AS DOUBLE) / n_total, 6)
           AS load_factor
FROM per, total
"""


# --- per-source distribution-drift audit (two-sample KS) ------------------

def ks_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift audit, each source vs the
    rest of the corpus, over the document-length distribution — the
    "which ingest shard drifted?" monitor a training-data pipeline
    runs per delivery (the KS statistic is THE standard distribution-
    drift test precisely because it is rank-based: no binning
    choices, no moment assumptions).

    D_s = max_x |F_s(x) − F_rest(x)| evaluated on the observed
    support, computed EXACTLY in integers: |c_s·n_rest − c_rest·n_s|
    carried in DECIMAL(38,0) (cross-engine exact far past int64; the
    count products overflow int64 at ~3×10⁹ docs per side), divided
    once at the end. Argmax ties break on the smallest length.

    Scale: one combinable (source, len) count over the corpus; the
    dense source×support grid is VALUE-DOMAIN-sized (|sources| ×
    |distinct lengths|, independent of row count), so the per-source
    cumulative windows run over bounded partitions. The corpus is
    scanned once and shuffled never (the counts agg is the only
    exchange of corpus-derived data).
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (docs.groupBy("source", "n_chars")
              .agg(F.count(F.lit(1)).alias("c")))
    support = docs.select("n_chars").distinct()
    sources = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    glob = docs.groupBy("n_chars").agg(F.count(F.lit(1)).alias("gc"))
    total = docs.agg(F.count(F.lit(1)).alias("n_total"))

    grid = (sources.crossJoin(F.broadcast(support))
            .join(counts, ["source", "n_chars"], "left")
            .join(F.broadcast(glob), "n_chars")
            .crossJoin(total)
            .withColumn("c", F.coalesce("c", F.lit(0))))
    w = Window.partitionBy("source").orderBy("n_chars")
    dec = "decimal(38,0)"
    g = (grid
         .withColumn("cum_s", F.sum("c").over(w))
         .withColumn("cum_all", F.sum("gc").over(w))
         .withColumn("cum_rest", F.col("cum_all") - F.col("cum_s"))
         .withColumn("n_rest", F.col("n_total") - F.col("n_s"))
         .withColumn("num",
                     F.abs(F.col("cum_s").cast(dec) * F.col("n_rest")
                           - F.col("cum_rest").cast(dec) * F.col("n_s"))))
    pick = Window.partitionBy("source").orderBy(
        F.col("num").desc(), F.col("n_chars"))
    return (g.withColumn("rn", F.row_number().over(pick))
            .filter(F.col("rn") == 1)
            .select("source", "n_s",
                    F.round(F.col("num").cast("double")
                            / (F.col("n_s") * F.col("n_rest"))
                            .cast("double"), 10).alias("ks_stat"),
                    F.col("n_chars").alias("ks_at_len")))


KS_DRIFT_SQL = """
WITH counts AS (
    SELECT source, n_chars, count(*) AS c
    FROM documents GROUP BY 1, 2
),
support AS (SELECT DISTINCT n_chars FROM documents),
sources AS (SELECT source, count(*) AS n_s FROM documents GROUP BY 1),
gdist AS (SELECT n_chars, count(*) AS gc FROM documents GROUP BY 1),
total AS (SELECT count(*) AS n_total FROM documents),
grid AS (
    SELECT s.source, s.n_s, p.n_chars,
           COALESCE(c.c, 0) AS c, g.gc, t.n_total
    FROM sources s CROSS JOIN support p
    LEFT JOIN counts c ON c.source = s.source AND c.n_chars = p.n_chars
    JOIN gdist g ON g.n_chars = p.n_chars
    CROSS JOIN total t
),
cums AS (
    SELECT source, n_s, n_chars,
           sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum_s,
           sum(gc) OVER (PARTITION BY source ORDER BY n_chars) AS cum_all,
           n_total - n_s AS n_rest
    FROM grid
),
nums AS (
    SELECT source, n_s, n_chars, n_rest,
           abs(CAST(cum_s AS DECIMAL(38,0)) * n_rest
               - CAST(cum_all - cum_s AS DECIMAL(38,0)) * n_s) AS num
    FROM cums
)
SELECT source, n_s,
       round(CAST(num AS DOUBLE)
             / CAST(n_s * n_rest AS DOUBLE), 10) AS ks_stat,
       n_chars AS ks_at_len
FROM (
    SELECT *, row_number() OVER (PARTITION BY source
                                 ORDER BY num DESC, n_chars) AS rn
    FROM nums
) WHERE rn = 1
"""


WINSOR_TAIL_PCT10 = 1   # winsorize n//10 values at each tail (10 %)


def winsorized_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source robust location/scale profile of document lengths —
    the outlier-resistant complement of ``stats_moments`` (a handful
    of truncated or concatenated crawl records move a mean/stddev
    arbitrarily; they barely move these): lower median, 10 %-winsorized
    mean, and MAD (median absolute deviation, the robust sigma).

    All three are RANK-SELECTED order statistics (the repo's float-
    exactness convention — Spark and DuckDB interpolate percentiles
    differently, order statistics are engine-exact): median = value at
    ascending rank ⌈n/2⌉; the winsorized sum clamps the k = n//10
    smallest values to x_(k+1) and the k largest to x_(n-k), computed
    WITHOUT a clamp-join as mid_sum + k·x_(k+1) + k·x_(n-k) from one
    conditional aggregation; MAD re-ranks |x − median| per source.

    Scale: two window passes over the corpus partitioned BY SOURCE
    (each a real parallel key, never a single global partition) + one
    broadcast of the per-source medians; every aggregation is
    combinable. At 100 TB the same shape holds — the per-source
    partitions are the natural delivery shards.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "source", "doc_id", "n_chars",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n"))
    k = F.floor(F.col("n") / 10).cast("long")
    m = F.floor((F.col("n") + 1) / 2).cast("long")
    base = (ranked
            .groupBy("source")
            .agg(F.max("n").alias("n_docs"),
                 F.max(F.when(F.col("i") <= m, F.col("n_chars")))
                 .alias("median_chars"),
                 F.max(F.when(F.col("i") <= k + 1, F.col("n_chars")))
                 .alias("lo_val"),
                 F.min(F.when(F.col("i") >= F.col("n") - k,
                              F.col("n_chars"))).alias("hi_val"),
                 F.sum(F.when((F.col("i") > k)
                              & (F.col("i") <= F.col("n") - k),
                              F.col("n_chars")).otherwise(F.lit(0)))
                 .alias("mid_sum")))
    kk = F.floor(F.col("n_docs") / 10).cast("long")
    stats = base.select(
        "source", "n_docs", "median_chars",
        F.round((F.col("mid_sum") + kk * F.col("lo_val")
                 + kk * F.col("hi_val"))
                / F.col("n_docs").cast("double"), 10)
        .alias("winsor_mean_chars"))
    devs = docs.join(
        F.broadcast(stats.select("source", "median_chars")), "source")
    wd = Window.partitionBy("source").orderBy("dev", "doc_id")
    mad = (devs.select(
        "source",
        F.abs(F.col("n_chars") - F.col("median_chars")).alias("dev"),
        "doc_id")
        .select("source", "dev", F.row_number().over(wd).alias("i"),
                F.count(F.lit(1)).over(
                    Window.partitionBy("source")).alias("n"))
        .groupBy("source")
        .agg(F.max(F.when(
            F.col("i") <= F.floor((F.col("n") + 1) / 2).cast("long"),
            F.col("dev"))).alias("mad_chars")))
    return stats.join(mad, "source")


WINSORIZED_STATS_SQL = """
WITH ranked AS (
    SELECT source, doc_id, n_chars,
           row_number() OVER (PARTITION BY source
                              ORDER BY n_chars, doc_id) AS i,
           count(*) OVER (PARTITION BY source) AS n
    FROM documents
),
base AS (
    SELECT source,
           max(n) AS n_docs,
           max(CASE WHEN i <= (n + 1) // 2 THEN n_chars END)
               AS median_chars,
           max(CASE WHEN i <= n // 10 + 1 THEN n_chars END) AS lo_val,
           min(CASE WHEN i >= n - n // 10 THEN n_chars END) AS hi_val,
           sum(CASE WHEN i > n // 10 AND i <= n - n // 10
                    THEN n_chars ELSE 0 END) AS mid_sum
    FROM ranked GROUP BY source
),
stats AS (
    SELECT source, n_docs, median_chars,
           round((mid_sum + (n_docs // 10) * lo_val
                  + (n_docs // 10) * hi_val)
                 / CAST(n_docs AS DOUBLE), 10) AS winsor_mean_chars
    FROM base
),
devr AS (
    SELECT d.source, abs(d.n_chars - s.median_chars) AS dev,
           row_number() OVER (
               PARTITION BY d.source
               ORDER BY abs(d.n_chars - s.median_chars), d.doc_id) AS i,
           count(*) OVER (PARTITION BY d.source) AS n
    FROM documents d JOIN stats s ON s.source = d.source
),
mad AS (
    SELECT source,
           max(CASE WHEN i <= (n + 1) // 2 THEN dev END) AS mad_chars
    FROM devr GROUP BY source
)
SELECT s.source, s.n_docs, s.median_chars, s.winsor_mean_chars,
       m.mad_chars
FROM stats s JOIN mad m ON m.source = s.source
"""


def kl_divergence_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary drift: KL(P_source ‖ P_corpus) over the
    word distribution — the TOKEN-level drift monitor beside
    ``ks_drift_by_source``'s length-level KS (a delivery can keep its
    length profile while its vocabulary shifts; this catches that).
    P_corpus is the all-sources mixture, so every source word has
    corpus support and the divergence is finite.

    Exactness (the ``token_entropy`` convention): each p·ln(p/q) term
    is computed as doubles in ONE written order, round(·,10)-pinned to
    DECIMAL(25,10), and summed exactly — float accumulation order can
    never flip the result across engines.

    Scale: ONE combinable (source, word) count over the token
    explosion; the per-source totals, global word counts, and grand
    total are windows over that aggregated |sources|×|vocab| relation
    — no second pass over the corpus, no joins.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split("text", " ")).alias("word"))
    counts = tok.groupBy("source", "word").agg(
        F.count(F.lit(1)).alias("c"))
    n_s = F.sum("c").over(Window.partitionBy("source"))
    c_g = F.sum("c").over(Window.partitionBy("word"))
    n_g = F.sum("c").over(Window.partitionBy())
    p_s = F.col("c").cast("double") / F.col("n_s")
    p_g = F.col("c_g").cast("double") / F.col("n_g")
    terms = (counts
             .select("source", "word", "c",
                     n_s.alias("n_s"), c_g.alias("c_g"), n_g.alias("n_g"))
             .select("source", "c", "n_s",
                     F.round(p_s * F.log(p_s / p_g), 10)
                     .cast("decimal(25,10)").alias("term")))
    return (terms.groupBy("source")
            .agg(F.max("n_s").alias("n_tokens"),
                 F.count(F.lit(1)).alias("n_words"),
                 F.sum("term").alias("kl_dec"))
            .select("source",
                    F.col("n_tokens").cast("bigint").alias("n_tokens"),
                    "n_words",
                    F.round(F.col("kl_dec").cast("double"), 6)
                    .alias("kl_to_corpus")))


KL_DRIFT_SQL = """
WITH counts AS (
    SELECT source, word, count(*) AS c
    FROM (SELECT source, unnest(string_split(text, ' ')) AS word
          FROM documents)
    GROUP BY source, word
),
terms AS (
    SELECT source, c,
           sum(c) OVER (PARTITION BY source) AS n_s,
           CAST(round((CAST(c AS DOUBLE)
                       / sum(c) OVER (PARTITION BY source))
                      * ln((CAST(c AS DOUBLE)
                            / sum(c) OVER (PARTITION BY source))
                           / (CAST(sum(c) OVER (PARTITION BY word)
                                   AS DOUBLE)
                              / sum(c) OVER ())), 10)
                AS DECIMAL(25,10)) AS term
    FROM counts
)
SELECT source, CAST(max(n_s) AS BIGINT) AS n_tokens,
       count(*) AS n_words,
       round(CAST(sum(term) AS DOUBLE), 6) AS kl_to_corpus
FROM terms GROUP BY source
"""


def forget_customer_purge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten purge PRE-FLIGHT: given a deterministic
    tombstone set (customers whose md5 starts with hex 'f' — the same
    reproducible md5 bucketing the sampling operators use, ≈ 1/16 of
    customers standing in for a real deletion-request list), the
    cascade impact across every table that carries the key: customer
    rows directly, orders via c_custkey, lineitem via the tombstoned
    orders — one row per table with exact purge counts and share.
    This is the audit a compliance pipeline runs BEFORE the
    destructive pass (beside ``k_anonymity_audit``'s release gate).

    Scale: the tombstone key set is a broadcast id relation; each
    table contributes ONE combinable conditional count — the cascade
    is two semi-join-shaped flag joins, never a row-level delete
    simulation; output is 3 rows.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    is_tomb = F.substring(
        F.md5(F.col("c_custkey").cast("string").cast("binary")), 1, 1) == "f"
    tomb = cust.filter(is_tomb).select(F.col("c_custkey").alias("k"))

    def audit(df: DataFrame, table: str, key: str) -> DataFrame:
        return (df.join(tomb.withColumn("hit", F.lit(1)),
                        df[key] == F.col("k"), "left")
                .agg(F.lit(table).alias("table_name"),
                     F.count(F.lit(1)).alias("n_rows"),
                     F.sum(F.coalesce("hit", F.lit(0))).cast("bigint")
                     .alias("n_purged")))

    ord_tomb = (orders.join(tomb,
                            orders.o_custkey == F.col("k"), "left_semi")
                .select(F.col("o_orderkey").alias("k")))
    per_table = (
        audit(cust, "customer", "c_custkey")
        .unionByName(audit(orders, "orders", "o_custkey"))
        .unionByName(
            li.join(ord_tomb.withColumn("hit", F.lit(1)),
                    li.l_orderkey == F.col("k"), "left")
            .agg(F.lit("lineitem").alias("table_name"),
                 F.count(F.lit(1)).alias("n_rows"),
                 F.sum(F.coalesce("hit", F.lit(0))).cast("bigint")
                 .alias("n_purged"))))
    return per_table.select(
        "table_name", "n_rows", "n_purged",
        F.round(F.col("n_purged") / F.col("n_rows").cast("double"), 10)
        .alias("purge_share"))


FORGET_PURGE_SQL = """
WITH tomb AS (
    SELECT c_custkey AS k FROM customer
    WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) = 'f'
),
ord_tomb AS (
    SELECT o_orderkey AS k FROM orders
    WHERE o_custkey IN (SELECT k FROM tomb)
),
per_table AS (
    SELECT 'customer' AS table_name, count(*) AS n_rows,
           CAST(sum(CASE WHEN c_custkey IN (SELECT k FROM tomb)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_purged
    FROM customer
    UNION ALL
    SELECT 'orders', count(*),
           CAST(sum(CASE WHEN o_custkey IN (SELECT k FROM tomb)
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem', count(*),
           CAST(sum(CASE WHEN l_orderkey IN (SELECT k FROM ord_tomb)
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
)
SELECT table_name, n_rows, n_purged,
       round(n_purged / CAST(n_rows AS DOUBLE), 10) AS purge_share
FROM per_table
"""


RESHARD_FROM = N_SHARDS        # 16 -> 17: the classic +1 rebalance
RESHARD_TO = N_SHARDS + 1


def reshard_movement_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resharding-cost audit: when the shard count grows 16 → 17, what
    fraction of documents MOVE under (a) mod-hash routing — the
    ``shard_assignment`` scheme — versus (b) rendezvous (highest-
    random-weight) hashing, where each doc goes to the shard whose
    md5(doc_id ‖ shard) is largest. The textbook result this measures:
    mod moves ≈ 16/17 of all keys (every bucket relabels), rendezvous
    moves ≈ 1/17 (only keys whose new shard wins) — the reason
    consistent-hashing schemes exist. Run this before growing a
    sharded corpus store; the two rows ARE the migration bill.

    Exactness: both schemes are pure md5 functions of the id —
    bit-identical across engines (the ``shard_assignment`` /
    ``hash_train_test_split`` contract); movement flags are integer
    compares; the share is one correctly-rounded division.

    Scale: per-row expressions only (the rendezvous argmax is a
    greatest-of-K struct comparison over K ≤ 17 md5 literals-per-row,
    no explode) + ONE 2-group combinable aggregation. Zero joins.
    """
    docs = load_table(spark, sf_dir, "documents")

    def mod_shard(n: int) -> F.Column:
        return (F.conv(F.substring(
            F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 15),
            16, 10).cast("long") % n)

    def rdv_shard(n: int) -> F.Column:
        scores = F.array(*[
            F.struct(
                F.md5(F.concat(F.col("doc_id").cast("string"),
                               F.lit(f"|{s}")).cast("binary"))
                .alias("w"),
                F.lit(s).alias("shard"))
            for s in range(n)
        ])
        return F.array_max(scores)["shard"]

    flags = docs.select(
        (mod_shard(RESHARD_FROM) != mod_shard(RESHARD_TO))
        .cast("int").alias("mod_moved"),
        (rdv_shard(RESHARD_FROM) != rdv_shard(RESHARD_TO))
        .cast("int").alias("rdv_moved"))
    agg = flags.agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum("mod_moved").alias("mod_n"),
                    F.sum("rdv_moved").alias("rdv_n"))
    out = None
    for name, col in (("mod_hash", "mod_n"), ("rendezvous", "rdv_n")):
        row = agg.select(F.lit(name).alias("strategy"), "n_docs",
                         F.col(col).cast("bigint").alias("n_moved"),
                         F.round(F.col(col)
                                 / F.col("n_docs").cast("double"), 10)
                         .alias("moved_share"))
        out = row if out is None else out.unionByName(row)
    return out


def _rdv_sql(n: int) -> str:
    structs = ", ".join(
        f"{{'w': md5(CAST(doc_id AS VARCHAR) || '|{s}'), 's': {s}}}"
        for s in range(n))
    return f"list_max([{structs}])['s']"


RESHARD_AUDIT_SQL = f"""
WITH flags AS (
    SELECT CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                                        1, 15))::BIGINT % {RESHARD_FROM}
                  <> ('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                                        1, 15))::BIGINT % {RESHARD_TO}
                THEN 1 ELSE 0 END AS mod_moved,
           CASE WHEN {_rdv_sql(RESHARD_FROM)} <> {_rdv_sql(RESHARD_TO)}
                THEN 1 ELSE 0 END AS rdv_moved
    FROM documents
),
agg AS (
    SELECT count(*) AS n_docs,
           CAST(sum(mod_moved) AS BIGINT) AS mod_n,
           CAST(sum(rdv_moved) AS BIGINT) AS rdv_n
    FROM flags
)
SELECT 'mod_hash' AS strategy, n_docs, mod_n AS n_moved,
       round(mod_n / CAST(n_docs AS DOUBLE), 10) AS moved_share
FROM agg
UNION ALL
SELECT 'rendezvous', n_docs, rdv_n,
       round(rdv_n / CAST(n_docs AS DOUBLE), 10)
FROM agg
"""


def cluster_canonical_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup survivor selection — the policy layer on
    top of transitive near-dup clustering: instead of the naive
    keep-min-id canonical ``connected_components_dedup`` flags, keep
    the BEST member of each multi-doc cluster (Gopher ``pass_all``
    first, then the longest document, doc_id as the final tie-break —
    the policy real pretraining pipelines apply, since the first crawl
    of a page is often its worst copy). One row per non-singleton
    cluster, including whether the quality pick DIFFERS from the
    min-id pick — the measurable value of the policy.

    Consistency by construction (the ``curation_funnel`` pattern):
    clusters come from ``connected_components_dedup`` and quality
    flags from ``gopher_quality_gate`` — the standalone operators
    themselves, not re-implementations.

    Scale: clustering and the gate are already-audited plans; this
    adds one broadcast-joinable per-doc flag relation and ONE
    cluster-keyed window over the clustered docs.
    """
    from .text_analysis import gopher_quality_gate

    docs = load_table(spark, sf_dir, "documents")
    cc = connected_components_dedup(spark, sf_dir).select(
        "doc_id", "cluster_id")
    gop = gopher_quality_gate(spark, sf_dir).select("doc_id", "pass_all")
    lens = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens"))
    j = (cc.join(gop, "doc_id").join(lens, "doc_id")
         .withColumn("n_members", F.count(F.lit(1)).over(
             Window.partitionBy("cluster_id")))
         .filter(F.col("n_members") >= 2))
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("pass_all").desc(), F.col("n_tokens").desc(), "doc_id")
    return (j.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("cluster_id",
                    F.col("n_members").cast("bigint").alias("n_members"),
                    F.col("doc_id").alias("survivor_doc_id"),
                    F.col("pass_all").cast("int")
                    .alias("survivor_pass_all"),
                    F.col("n_tokens").cast("bigint")
                    .alias("survivor_tokens"),
                    (F.col("doc_id") != F.col("cluster_id")).cast("int")
                    .alias("differs_from_min_id")))


def _canonical_quality_sql() -> str:
    from .iterative import CONNECTED_COMPONENTS_SQL
    from .text_analysis import GOPHER_GATE_SQL
    return f"""
WITH cc AS (
    SELECT doc_id, cluster_id FROM ({CONNECTED_COMPONENTS_SQL}) t
),
gop AS (
    SELECT doc_id, pass_all FROM ({GOPHER_GATE_SQL}) t
),
lens AS (
    SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
    FROM documents
),
j AS (
    SELECT cc.cluster_id, cc.doc_id, gop.pass_all, lens.n_tokens,
           count(*) OVER (PARTITION BY cc.cluster_id) AS n_members,
           row_number() OVER (
               PARTITION BY cc.cluster_id
               ORDER BY gop.pass_all DESC, lens.n_tokens DESC,
                        cc.doc_id) AS rn
    FROM cc
    JOIN gop ON gop.doc_id = cc.doc_id
    JOIN lens ON lens.doc_id = cc.doc_id
)
SELECT cluster_id, CAST(n_members AS BIGINT) AS n_members,
       doc_id AS survivor_doc_id,
       CAST(pass_all AS INT) AS survivor_pass_all,
       CAST(n_tokens AS BIGINT) AS survivor_tokens,
       CAST(doc_id <> cluster_id AS INT) AS differs_from_min_id
FROM j WHERE rn = 1 AND n_members >= 2
"""


CANONICAL_QUALITY_SQL = _canonical_quality_sql()


def chi2_independence_lang_source(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Chi-squared test of independence between ``lang`` and
    ``source`` — the one-number answer to "do deliveries carry
    different language mixes?", the categorical complement of the
    per-source KS/KL drift monitors (and the inferential upgrade of
    ``stat_crosstab``'s raw contingency table). Emits the statistic,
    degrees of freedom, and the strongest standardized-residual cell
    (which (lang, source) drives the dependence).

    Exactness: observed counts and margins are integers; E = (row ×
    col) / n and each (O−E)²/E term are doubles in one written order,
    round(·,10)-pinned to DECIMAL(25,10) before the exact sum (the
    ``token_entropy`` convention); residuals round 6.

    Scale: ONE combinable (lang, source) count; margins are windows
    over the |langs|×|sources| contingency relation — the dense grid
    (including zero cells, which chi² requires) comes from a
    broadcast margins cross join, never a corpus re-scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    # materialized once: rows/cols/n and the dense grid all branch from
    # the contingency relation (the cramers_v_matrix lesson, 13->9
    # exchanges)
    obs = truncate_lineage(docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("o")))
    rows_ = obs.groupBy("lang").agg(F.sum("o").alias("r"))
    cols_ = obs.groupBy("source").agg(F.sum("o").alias("c"))
    n_ = obs.agg(F.sum("o").alias("n"))
    grid = (rows_.crossJoin(F.broadcast(cols_))
            .crossJoin(n_)
            .join(obs, ["lang", "source"], "left")
            .select("lang", "source", "r", "c", "n",
                    F.coalesce("o", F.lit(0)).alias("o")))
    e = F.col("r") * F.col("c") / F.col("n").cast("double")
    term = (F.col("o") - e) * (F.col("o") - e) / e
    resid = (F.col("o") - e) / F.sqrt(e)
    cells = grid.select(
        "lang", "source", "r", "c",
        F.round(term, 10).cast("decimal(25,10)").alias("term"),
        F.round(resid, 6).alias("resid"))
    w = Window.orderBy(F.abs(F.col("resid")).desc(), "lang", "source")
    top = (cells.withColumn("rn", F.row_number().over(w))
           .filter(F.col("rn") == 1)
           .select(F.col("lang").alias("top_lang"),
                   F.col("source").alias("top_source"),
                   F.col("resid").alias("top_residual")))
    agg = cells.agg(
        F.round(F.sum("term").cast("double"), 6).alias("chi2"),
        ((F.countDistinct("lang") - 1)
         * (F.countDistinct("source") - 1)).alias("dof"))
    return agg.crossJoin(top)


CHI2_INDEPENDENCE_SQL = """
WITH obs AS (
    SELECT lang, source, count(*) AS o
    FROM documents GROUP BY 1, 2
),
rows_ AS (SELECT lang, sum(o) AS r FROM obs GROUP BY lang),
cols_ AS (SELECT source, sum(o) AS c FROM obs GROUP BY source),
nt AS (SELECT sum(o) AS n FROM obs),
grid AS (
    SELECT rows_.lang, cols_.source, r, c, n, COALESCE(obs.o, 0) AS o
    FROM rows_ CROSS JOIN cols_ CROSS JOIN nt
    LEFT JOIN obs ON obs.lang = rows_.lang
                 AND obs.source = cols_.source
),
cells AS (
    SELECT lang, source,
           CAST(round((o - r * c / CAST(n AS DOUBLE))
                      * (o - r * c / CAST(n AS DOUBLE))
                      / (r * c / CAST(n AS DOUBLE)), 10)
                AS DECIMAL(25,10)) AS term,
           round((o - r * c / CAST(n AS DOUBLE))
                 / sqrt(r * c / CAST(n AS DOUBLE)), 6) AS resid
    FROM grid
),
top AS (
    SELECT lang AS top_lang, source AS top_source,
           resid AS top_residual
    FROM cells ORDER BY abs(resid) DESC, lang, source LIMIT 1
),
agg AS (
    SELECT round(CAST(sum(term) AS DOUBLE), 6) AS chi2,
           (count(DISTINCT lang) - 1)
           * (count(DISTINCT source) - 1) AS dof
    FROM cells
)
SELECT chi2, CAST(dof AS BIGINT) AS dof, top_lang, top_source,
       top_residual
FROM agg CROSS JOIN top
"""


AES_SAMPLE_N = 200
AES_POW52 = 1 << 52


def weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement by the Efraimidis-
    Spirakis A-ES scheme (IPL 2006) — THE distributed algorithm for
    "sample k docs with probability proportional to weight" because
    it needs no global state: every row computes key = ln(u)/w from
    its own uniform u and weight w (here n_chars — sample long docs
    more), and the global top-k keys ARE the sample. One pass,
    mergeable, restart-safe.

    Determinism/exactness: u is an EXACT double — the top 13 md5 hex
    chars of doc_id give a 52-bit integer h, u = (h+1)/2^52 (both the
    numerator and the power-of-two division are exact in IEEE754);
    ln(u) is round(·,10)-pinned (the repo ln convention), the /w
    division rounded once more — both engines order identical keys,
    ties broken by doc_id.

    Scale: pure per-row expressions + TakeOrderedAndProject (top-k,
    never a global sort); at 100 TB each partition keeps its local
    top-k and only k-row heaps merge at the driver — the textbook
    A-ES deployment.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 13),
        16, 10).cast("bigint")
    u = (h + 1) / F.lit(float(AES_POW52))
    key = F.round(F.round(F.log(u), 10) / F.col("n_chars"), 10)
    return (docs
            .select("doc_id", "source",
                    F.col("n_chars").alias("weight"),
                    key.alias("aes_key"))
            .orderBy(F.col("aes_key").desc(), "doc_id")
            .limit(AES_SAMPLE_N))


WEIGHTED_SAMPLE_AES_SQL = f"""
SELECT doc_id, source, n_chars AS weight,
       round(round(ln((('0x' || substring(
                            md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
                       + 1) / {float(AES_POW52)!r}), 10)
             / n_chars, 10) AS aes_key
FROM documents
ORDER BY aes_key DESC, doc_id
LIMIT {AES_SAMPLE_N}
"""


# --- Neyman optimal stratified allocation ---------------------------------

NEYMAN_BUDGET = 200  # total sample size to allocate across strata


def neyman_allocation_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal allocation (Neyman 1934, JRSS): given a total
    sample budget, allocate n_h ∝ N_h·σ_h across strata (sources) so
    a stratified mean of doc length has minimum variance — the
    survey-sampling upgrade of `deterministic_sample_per_lang`'s
    proportional strata (big-but-homogeneous strata get FEWER slots,
    small-but-variable strata more).  Integerization is largest-
    remainder (Hamilton): floor every quota, then hand out the
    leftover by descending fractional part.

    Exactness: per-stratum variance is the exact-integer identity
    (n·Σx² − (Σx)²)/n² evaluated as one double division; σ is one
    IEEE sqrt — both engines compute the identical double.  The
    stratum weight w = n_docs·σ is round(·,6)-pinned to DECIMAL(25,6)
    BEFORE the Σw normalizer (float accumulation is order-dependent
    and Spark partial-agg / DuckDB hash-group orders are both
    arbitrary; the decimal sum is order-insensitive — the repo's
    blb_mean_ci convention; 6 dp, not 10, because w ~ 1e5-1e7 and the
    10th decimal would exceed double precision).  Every downstream
    comparison (quota, floor, fractional-part ranking) consumes the
    identical pinned bits.  Ties in the remainder ranking break on
    source name.  σ and the quota are round(·,10)-pinned for display;
    the allocation math uses the pinned w and unrounded quota.

    Scale: one combinable 3-scalar agg per stratum; the Σ N_h·σ_h
    normalizer is a broadcast 1-row aggregate; ranking/flooring run
    on the STRATA relation (20 rows here; thousands at worst) — the
    heavy table is touched exactly once.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = (docs.groupBy("source")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("sx"),
                F.sum(F.col("n_chars") * F.col("n_chars")).alias("sxx")))
    sigma = F.sqrt(
        (F.col("n_docs") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("double")
        / (F.col("n_docs") * F.col("n_docs")).cast("double"))
    per = per.withColumn(
        "w", F.round(F.col("n_docs") * sigma, 6).cast("decimal(25,6)"))
    tot = per.agg(F.sum("w").cast("double").alias("w_total"),
                  F.count(F.lit(1)).alias("n_strata"))
    quota = (F.col("w").cast("double")
             * F.lit(float(NEYMAN_BUDGET)) / F.col("w_total"))
    q = (per.crossJoin(tot)
         .withColumn("quota", quota)
         .withColumn("alloc_floor", F.floor("quota").cast("long"))
         .withColumn("frac", F.col("quota") - F.floor("quota")))
    leftover = (q.agg((F.lit(NEYMAN_BUDGET)
                       - F.sum("alloc_floor")).alias("leftover")))
    w_rank = Window.orderBy(F.col("frac").desc(), "source")
    return (q.crossJoin(leftover)
            .withColumn("rnk", F.row_number().over(w_rank))
            .select("source", "n_docs",
                    F.round(sigma, 10).alias("sigma"),
                    F.round("quota", 10).alias("quota"),
                    "alloc_floor",
                    (F.col("alloc_floor")
                     + F.when(F.col("rnk") <= F.col("leftover"), 1)
                     .otherwise(0)).alias("alloc_final")))


NEYMAN_SQL = f"""
WITH per AS (
    SELECT source, count(*) AS n_docs,
           sum(n_chars) AS sx, sum(n_chars * n_chars) AS sxx
    FROM documents GROUP BY source
), w AS (
    SELECT source, n_docs,
           sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE)
                / CAST(n_docs * n_docs AS DOUBLE)) AS sigma,
           CAST(round(n_docs * sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE)
                                    / CAST(n_docs * n_docs AS DOUBLE)), 6)
                AS DECIMAL(25,6)) AS wgt
    FROM per
), q AS (
    SELECT source, n_docs, sigma,
           CAST(wgt AS DOUBLE) * {float(NEYMAN_BUDGET)}
               / (SELECT CAST(sum(wgt) AS DOUBLE) FROM w) AS quota
    FROM w
), f AS (
    SELECT source, n_docs, sigma, quota,
           CAST(floor(quota) AS BIGINT) AS alloc_floor,
           quota - floor(quota) AS frac
    FROM q
)
SELECT source, n_docs, round(sigma, 10) AS sigma,
       round(quota, 10) AS quota, alloc_floor,
       alloc_floor + CASE WHEN
           row_number() OVER (ORDER BY frac DESC, source)
           <= {NEYMAN_BUDGET} - (SELECT sum(alloc_floor) FROM f)
           THEN 1 ELSE 0 END AS alloc_final
FROM f
"""


# --- l-diversity audit ----------------------------------------------------

LDIV_L = 3            # required distinct sensitive values per QI group
LDIV_BUCKET = 100     # QI length-bucket width (chars)


def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007, TKDD) — the
    step beyond `k_anonymity_audit`: a QI group can be large (k-safe)
    yet still leak if every member shares the same SENSITIVE value.
    QI = (lang, 100-char length bucket); sensitive attribute =
    ``source`` (provenance is disclosure-sensitive in a corpus
    release). Per language: group census, worst-group diversity, and
    the share of documents sitting in groups with fewer than l=3
    distinct sources — the rows a release gate would suppress or
    generalize.

    Exactness: integer group counts + distinct counts; the one
    exposure ratio is an int/int division in [0,1], round(·,10).

    Scale: one combinable (QI → count, distinct-count) aggregation,
    then a per-lang rollup of the GROUP relation — the same
    manifest-sized shape as the k-anonymity gate it extends.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(f"n_chars div {LDIV_BUCKET}")
    groups = (docs.groupBy("lang", bucket.alias("len_bucket"))
              .agg(F.count(F.lit(1)).alias("k"),
                   F.countDistinct("source").alias("l")))
    return (groups.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_groups"),
                 F.sum("k").alias("n_docs"),
                 F.min("l").alias("min_l"),
                 F.sum(F.when(F.col("l") < LDIV_L, F.col("k"))
                       .otherwise(0)).alias("docs_low_diversity"))
            .select("lang", "n_groups", "n_docs", "min_l",
                    "docs_low_diversity",
                    F.round(F.col("docs_low_diversity")
                            / F.col("n_docs"), 10)
                    .alias("low_diversity_frac")))


L_DIVERSITY_SQL = f"""
WITH groups AS (
    SELECT lang, n_chars // {LDIV_BUCKET} AS len_bucket,
           count(*) AS k, count(DISTINCT source) AS l
    FROM documents GROUP BY 1, 2
)
SELECT lang, count(*) AS n_groups,
       CAST(sum(k) AS BIGINT) AS n_docs, min(l) AS min_l,
       CAST(sum(CASE WHEN l < {LDIV_L} THEN k ELSE 0 END) AS BIGINT)
           AS docs_low_diversity,
       round(CAST(sum(CASE WHEN l < {LDIV_L} THEN k ELSE 0 END)
                  AS DOUBLE) / sum(k), 10) AS low_diversity_frac
FROM groups GROUP BY lang
"""


# --- Bag of Little Bootstraps CI ------------------------------------------

BLB_S = 4       # disjoint subsamples (md5-assigned)
BLB_B = 20      # bootstrap replicates per subsample
# Poisson(4) CDF literals (lambda = n/n_s = BLB_S): the inverse-CDF
# draw for the multinomial-approximating replicate weights. Identical
# decimal literals parse to identical doubles in both engines.
BLB_POISSON4_CDF = (
    0.01831563888873418, 0.0915781944436709, 0.2381033055535443,
    0.43347012036670884, 0.6288369351798734, 0.785130387030405,
    0.8893260215974261, 0.9488663842071525, 0.9786365655120157,
    0.991867757203066, 0.997160233879486, 0.9990847708527297,
    0.9997262831771443, 0.9999236715846564, 0.9999800682725171,
    0.9999951073892799,
)
BLB_POW52 = 1 << 52


def blb_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag of Little Bootstraps (Kleiner, Talwalkar, Sarkar & Jordan
    2012/2014, JRSS-B) confidence interval for the mean document
    length — THE distributed-bootstrap: resampling n rows per
    replicate doesn't scale, so split the data into s disjoint
    subsamples, bootstrap WITHIN each (every member gets a
    multinomial-approximating Poisson(n/n_s) weight, so a replicate
    touches only its subsample yet estimates the full-n statistic),
    take each subsample's percentile interval over its B replicates,
    and AVERAGE the s intervals.

    Determinism/exactness: subsample = md5(doc_id) mod s; each
    (doc, b) replicate weight is the Poisson(4) inverse-CDF at the
    exact 52-bit md5 uniform (the `weighted_sample_aes` u) against
    plan-literal CDF values — integer weights, so every replicate
    mean is one exact-int/exact-int division; percentile bounds are
    rank-SELECTED (rank 1 and ⌈0.95B⌉=19 of B=20, tie-broken by b);
    the BLB row averages the four bounds after a round(·,10) decimal
    pin (bounds are O(10²) so 10 dp is inside the safe round band;
    the pinned-decimal sum cast to double is divided by the
    power-of-two s=4 — every step engine-exact), and its point
    estimate is the full-corpus exact-int mean, not a re-rounding of
    per-subsample means.

    Scale: the whole point of BLB — replicate work is bounded by the
    SUBSAMPLE, not n; here it's one (sub, b)-keyed combinable agg over
    a B-fold explode of the scan (B=20 bounded blowup), one bounded
    rank window over s·B=80 replicate rows, and a 1-row union. At
    100 TB: s grows, subsamples stay executor-sized, nothing global.
    """
    docs = load_table(spark, sf_dir, "documents")
    sub = (F.conv(F.substring(
        F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % BLB_S)
    reps = (docs.select("doc_id", "n_chars", sub.alias("sub"),
                        F.explode(F.sequence(
                            F.lit(0), F.lit(BLB_B - 1))).alias("b")))
    h = F.conv(F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"),
                       F.lit("#"), F.col("b").cast("string"))), 1, 13),
        16, 10).cast("bigint")
    u = (h + 1) / F.lit(float(BLB_POW52))
    cdf = F.array(*[F.lit(c) for c in BLB_POISSON4_CDF])
    w = F.size(F.filter(cdf, lambda c: c < u))
    per_rep = (reps.withColumn("w", w)
               .groupBy("sub", "b")
               .agg(F.sum(F.col("w") * F.col("n_chars")).alias("sx"),
                    F.sum("w").alias("sw"))
               .filter(F.col("sw") > 0)
               .select("sub", "b",
                       (F.col("sx").cast("double") / F.col("sw"))
                       .alias("est")))
    rn = F.row_number().over(
        Window.partitionBy("sub").orderBy("est", "b"))
    ranked = per_rep.withColumn("rn", rn)
    lo_rank, hi_rank = 1, (BLB_B * 19 + 19) // 20  # ceil(0.95*B)
    per_sub = (ranked.groupBy("sub")
               .agg(F.count(F.lit(1)).alias("n_replicates"),
                    F.max(F.when(F.col("rn") == lo_rank, F.col("est")))
                    .alias("ci_lo"),
                    F.max(F.when(F.col("rn") == hi_rank, F.col("est")))
                    .alias("ci_hi")))
    sub_rows = (docs.select(sub.alias("sub"), "n_chars")
                .groupBy("sub")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     (F.sum("n_chars").cast("double")
                      / F.count(F.lit(1))).alias("mean_est"))
                .join(per_sub, "sub")
                .select(F.concat(F.lit("sub"),
                                 F.col("sub").cast("string"))
                        .alias("part"),
                        "n_docs", "n_replicates",
                        "mean_est", "ci_lo", "ci_hi"))
    pin = lambda c: F.round(c, 10).cast("decimal(25,10)")  # noqa: E731
    totals = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1)))
        .alias("mean_est"))
    blb_row = (per_sub.agg(
        F.sum("n_replicates").alias("n_replicates"),
        (F.sum(pin("ci_lo")).cast("double") / BLB_S).alias("ci_lo"),
        (F.sum(pin("ci_hi")).cast("double") / BLB_S).alias("ci_hi"))
        .crossJoin(totals)
        .select(F.lit("BLB").alias("part"), "n_docs", "n_replicates",
                "mean_est", "ci_lo", "ci_hi"))
    return sub_rows.unionByName(blb_row)


def _blb_w_sql(u: str) -> str:
    lits = ", ".join(repr(c) for c in BLB_POISSON4_CDF)
    return f"len(list_filter([{lits}], c -> c < {u}))"


_BLB_U_SQL = (f"((('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#' "
              f"|| b), 1, 13))::BIGINT + 1) / {float(BLB_POW52)!r})")


BLB_MEAN_CI_SQL = f"""
WITH reps AS (
    SELECT doc_id, n_chars,
           ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
               ::BIGINT % {BLB_S} AS sub,
           CAST(b AS BIGINT) AS b,
           {_blb_w_sql(_BLB_U_SQL)} AS w
    FROM documents, unnest(range(0, {BLB_B})) AS t(b)
), per_rep AS (
    SELECT sub, b, CAST(sum(w * n_chars) AS DOUBLE) / sum(w) AS est
    FROM reps GROUP BY sub, b HAVING sum(w) > 0
), ranked AS (
    SELECT sub, b, est,
           row_number() OVER (PARTITION BY sub ORDER BY est, b) AS rn
    FROM per_rep
), per_sub AS (
    SELECT sub, count(*) AS n_replicates,
           max(CASE WHEN rn = 1 THEN est END) AS ci_lo,
           max(CASE WHEN rn = {(BLB_B * 19 + 19) // 20} THEN est END)
               AS ci_hi
    FROM ranked GROUP BY sub
), sub_rows AS (
    SELECT 'sub' || CAST(d.sub AS VARCHAR) AS part,
           d.n_docs, p.n_replicates, d.mean_est, p.ci_lo, p.ci_hi
    FROM (SELECT ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1,
                  15))::BIGINT % {BLB_S} AS sub,
                 count(*) AS n_docs,
                 CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_est
          FROM documents GROUP BY 1) d
    JOIN per_sub p ON d.sub = p.sub
)
SELECT part, n_docs, n_replicates, mean_est, ci_lo, ci_hi
FROM sub_rows
UNION ALL
SELECT 'BLB',
       (SELECT count(*) FROM documents),
       CAST(sum(n_replicates) AS BIGINT),
       (SELECT CAST(sum(n_chars) AS DOUBLE) / count(*)
        FROM documents),
       CAST(sum(CAST(round(ci_lo, 10) AS DECIMAL(25,10))) AS DOUBLE)
           / {BLB_S},
       CAST(sum(CAST(round(ci_hi, 10) AS DECIMAL(25,10))) AS DOUBLE)
           / {BLB_S}
FROM per_sub
"""


# --- md5-uniformity KS audit ----------------------------------------------

KS_SAMPLE_HEX = "20"   # md5 2-hex prefix < '20' → 32/256 = 12.5% sample
KS_CRIT_99 = 1.63      # one-sample KS 99% critical coefficient


def md5_uniformity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sample Kolmogorov-Smirnov test of the engine's OWN
    randomness foundation: every deterministic sampler in this repo
    (`weighted_sample_aes`, `blb_mean_ci`, `hash_train_test_split`,
    the shard routers) treats the 52-bit md5 integer as U(0,1) — this
    operator measures that assumption on the data instead of assuming
    it, reporting the exact KS statistic D = max(Dⁿ⁺, Dⁿ⁻) of the
    uniforms against U(0,1) and the 1.63/√n 99 % critical value
    (Massey 1951; the stricter-confidence line because a fixed hash
    is ONE draw — a 95 % gate false-alarms one audit in twenty, and
    indeed this corpus's 58-doc sample sits between the two lines).  The `bloom_fp_rate_audit` /
    `minhash_estimate_quality` self-audit pattern, pointed at the
    PRNG itself.

    Exactness: u is the exact 52-bit uniform; ranks are integers; the
    ecdf gaps are subtractions of exact divisions — every double
    identical cross-engine; D and the critical value are
    round(·,10)-pinned (sqrt is libm → identical bits → safe band).

    Scale: the audit runs on a BOUNDED md5-selected sample (an
    independent hash suffix picks ~12.5 % here; at cluster scale the
    threshold shrinks so the sample stays executor-sized), so the
    one rank window is over a capped relation by construction — the
    documented alternative to a global sort over all ids.
    """
    docs = load_table(spark, sf_dir, "documents")
    key = F.col("doc_id").cast("string")
    sampled = docs.filter(
        F.substring(F.md5(F.concat(key, F.lit("#ks"))), 1, 2)
        < KS_SAMPLE_HEX)
    h = F.conv(F.substring(F.md5(key), 1, 13), 16, 10).cast("bigint")
    u = ((h + 1) / F.lit(float(1 << 52))).alias("u")
    w = Window.orderBy("u", "doc_id")
    ranked = (sampled.select("doc_id", u)
              .withColumn("rn", F.row_number().over(w))
              .withColumn("n", F.count(F.lit(1)).over(
                  Window.partitionBy())))
    gaps = ranked.select(
        "n",
        (F.col("rn") / F.col("n") - F.col("u")).alias("d_plus"),
        (F.col("u") - (F.col("rn") - 1) / F.col("n")).alias("d_minus"))
    return (gaps.groupBy("n")
            .agg(F.round(F.greatest(F.max("d_plus"), F.max("d_minus")),
                         10).alias("d_stat"))
            .select(F.col("n").alias("n_sampled"), "d_stat",
                    F.round(F.lit(KS_CRIT_99)
                            / F.sqrt(F.col("n").cast("double")), 10)
                    .alias("d_critical_99"))
            .withColumn("passes_99",
                        F.col("d_stat") < F.col("d_critical_99")))


MD5_UNIFORMITY_SQL = f"""
WITH sampled AS (
    SELECT doc_id,
           ((('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13))
             ::BIGINT + 1) / {float(1 << 52)!r}) AS u
    FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR) || '#ks'), 1, 2)
          < '{KS_SAMPLE_HEX}'
), ranked AS (
    SELECT u,
           row_number() OVER (ORDER BY u, doc_id) AS rn,
           count(*) OVER () AS n
    FROM sampled
)
SELECT max(n) AS n_sampled,
       round(greatest(max(rn / CAST(n AS DOUBLE) - u),
                      max(u - (rn - 1) / CAST(n AS DOUBLE))), 10)
           AS d_stat,
       round({KS_CRIT_99} / sqrt(CAST(max(n) AS DOUBLE)), 10)
           AS d_critical_99,
       round(greatest(max(rn / CAST(n AS DOUBLE) - u),
                      max(u - (rn - 1) / CAST(n AS DOUBLE))), 10)
           < round({KS_CRIT_99} / sqrt(CAST(max(n) AS DOUBLE)), 10)
           AS passes_99
FROM ranked
"""


# --- order-total reconciliation -------------------------------------------

RECON_TOL_CENTS = 1   # |diff| <= 1 cent counts as reconciled


def order_total_reconciliation(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Financial reconciliation gate: does ``o_totalprice`` equal the
    order's recomputed charge Σ l_extendedprice·(1−l_discount)·
    (1+l_tax)?  (TPC-H defines exactly this invariant; this driver's
    synthetic tables draw the two sides independently, so the audit
    reports a 100 % mismatch — which is precisely what a
    reconciliation gate exists to catch, and the reported
    discrepancy DISTRIBUTION is the actionable artifact either way.)
    Per order-year: orders checked, orders reconciled within 1 cent,
    mismatch share, and the mean/max absolute discrepancy in dollars.

    Exactness: all money math is INTEGER micro-dollars — prices round
    to exact cents (2-dp doubles land within 1e-10 of the integer, so
    the shared round is unambiguous), discount/tax to exact percent
    points, and cents·(100−d)·(100+t) is an exact int64 product; no
    decimal-precision-overflow hazard (a decimal(25,6)² product
    overflows 38 digits and the engines degrade DIFFERENTLY — the
    integer form sidesteps the whole class). The two dollar outputs
    are divisions of exact ints by exact ints/1e6.

    Scale: one fact-side combinable per-order aggregation, one
    broadcast-eligible join to orders, one per-year rollup —
    embarrassingly parallel, the nightly finance-close shape.
    """
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    d_pct = F.round(F.col("l_discount") * 100).cast("long")
    t_pct = F.round(F.col("l_tax") * 100).cast("long")
    micro6 = cents * (100 - d_pct) * (100 + t_pct)  # 1e-6 dollars
    per_order = (li.groupBy("l_orderkey")
                 .agg(F.sum(micro6).alias("calc_micro")))
    j = (od.select("o_orderkey",
                   F.year("o_orderdate").alias("order_year"),
                   (F.round(F.col("o_totalprice") * 100).cast("long")
                    * 10000).alias("book_micro"))
         .join(per_order,
               F.col("o_orderkey") == F.col("l_orderkey"), "left")
         .select("order_year",
                 F.coalesce("calc_micro", F.lit(0)).alias("calc_micro"),
                 "book_micro"))
    diff = F.abs(F.col("book_micro") - F.col("calc_micro"))
    # 1 cent = 1e4 micro-dollars
    ok = (diff <= RECON_TOL_CENTS * 10000).cast("int")
    return (j.select("order_year", diff.alias("diff"), ok.alias("ok"))
            .groupBy("order_year")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum("ok").alias("n_reconciled"),
                 F.round((F.count(F.lit(1)) - F.sum("ok"))
                         / F.count(F.lit(1)), 10)
                 .alias("mismatch_frac"),
                 ((F.sum("diff").cast("double") / 1000000)
                  / F.count(F.lit(1))).alias("mean_abs_diff"),
                 (F.max("diff").cast("double") / 1000000)
                 .alias("max_abs_diff")))


ORDER_RECON_SQL = f"""
WITH per_order AS (
    SELECT l_orderkey,
           sum(CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT))
               * (100 + CAST(round(l_tax * 100) AS BIGINT)))
               AS calc_micro
    FROM lineitem GROUP BY 1
), j AS (
    SELECT year(o_orderdate) AS order_year,
           COALESCE(calc_micro, 0) AS calc_micro,
           CAST(round(o_totalprice * 100) AS BIGINT) * 10000
               AS book_micro
    FROM orders LEFT JOIN per_order
      ON o_orderkey = l_orderkey
)
SELECT order_year, count(*) AS n_orders,
       CAST(sum(CASE WHEN abs(book_micro - calc_micro)
                 <= {RECON_TOL_CENTS * 10000}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_reconciled,
       round(CAST(count(*) - sum(CASE WHEN abs(book_micro - calc_micro)
                 <= {RECON_TOL_CENTS * 10000} THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*), 10)
           AS mismatch_frac,
       (CAST(sum(abs(book_micro - calc_micro)) AS DOUBLE) / 1000000)
           / count(*) AS mean_abs_diff,
       CAST(max(abs(book_micro - calc_micro)) AS DOUBLE) / 1000000
           AS max_abs_diff
FROM j GROUP BY order_year
"""


# --- split leakage audit ----------------------------------------------------

def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/holdout LEAKAGE through near-duplicates (the Lee et al.
    2022 §6.2 finding: deduplicate ACROSS the split boundary or the
    eval set is contaminated by training near-copies): classify every
    verified near-dup pair (``jaccard_similarity_join``) by where its
    endpoints land under the engine's deterministic md5 split
    (``hash_train_test_split``'s TRAIN_FRAC_HEX convention), and for
    the crossing class report how many HOLDOUT documents have a
    training near-copy — the docs a leakage-free eval must drop or
    re-home. Composed VERBATIM from the two standalone operators, so
    the audit can never drift from the split or the dedup it audits.

    Per pair class (train-train / holdout-holdout / cross): pair
    count, distinct documents involved, distinct holdout documents
    involved, and that count as a share of ALL holdout docs.

    Exactness: split membership is a pure md5-hex-prefix function of
    doc_id (no RNG); all counts are integers; the one share is an
    int/int division in [0,1], round(·,10).

    Scale: the near-dup join is the heavy stage and is the SAME plan
    as the standalone operator (band-filtered verify, never all
    pairs); the classification is a pure expression on the pair
    relation (split needs NO join — it is a function of the id), and
    the rollup aggregates a relation bounded by the pair count.
    """
    from .dedup import jaccard_similarity_join
    from .text_analysis import TRAIN_FRAC_HEX

    def split_of(col: str):
        return F.when(
            F.substring(F.md5(F.col(col).cast("string").cast("binary")),
                        1, 1) < TRAIN_FRAC_HEX,
            F.lit("train")).otherwise(F.lit("holdout"))

    pairs = (jaccard_similarity_join(spark, sf_dir)
             .select("doc_a", "doc_b",
                     split_of("doc_a").alias("sa"),
                     split_of("doc_b").alias("sb")))
    pair_class = (F.when((F.col("sa") == "train")
                         & (F.col("sb") == "train"), "train-train")
                  .when((F.col("sa") == "holdout")
                        & (F.col("sb") == "holdout"), "holdout-holdout")
                  .otherwise("cross"))
    sides = (pairs.withColumn("pair_class", pair_class)
             .select("pair_class",
                     F.explode(F.array(
                         F.struct(F.col("doc_a").alias("doc_id"),
                                  F.col("sa").alias("split")),
                         F.struct(F.col("doc_b").alias("doc_id"),
                                  F.col("sb").alias("split"))))
                     .alias("m"))
             .select("pair_class", "m.doc_id", "m.split"))
    per_class = (sides.groupBy("pair_class")
                 .agg((F.count(F.lit(1)) / 2).cast("bigint")
                      .alias("n_pairs"),
                      F.countDistinct("doc_id").alias("n_docs"),
                      F.countDistinct(
                          F.when(F.col("split") == "holdout",
                                 F.col("doc_id")))
                      .alias("n_holdout_docs")))
    docs = load_table(spark, sf_dir, "documents")
    tot = docs.agg(F.sum(
        F.when(F.substring(F.md5(F.col("doc_id").cast("string")
                                 .cast("binary")), 1, 1)
               >= TRAIN_FRAC_HEX, 1).otherwise(0))
        .alias("total_holdout"))
    return (per_class.crossJoin(tot)
            .select("pair_class", "n_pairs", "n_docs", "n_holdout_docs",
                    F.round(F.col("n_holdout_docs")
                            / F.col("total_holdout"), 10)
                    .alias("holdout_share")))


def _split_leakage_sql() -> str:
    from .dedup import JACCARD_JOIN_SQL
    from .text_analysis import TRAIN_FRAC_HEX

    return f"""
WITH pairs AS (
    SELECT doc_a, doc_b,
           CASE WHEN substring(md5(CAST(doc_a AS VARCHAR)), 1, 1)
                     < '{TRAIN_FRAC_HEX}' THEN 'train'
                ELSE 'holdout' END AS sa,
           CASE WHEN substring(md5(CAST(doc_b AS VARCHAR)), 1, 1)
                     < '{TRAIN_FRAC_HEX}' THEN 'train'
                ELSE 'holdout' END AS sb
    FROM ({JACCARD_JOIN_SQL}) j
), classed AS (
    SELECT CASE WHEN sa = 'train' AND sb = 'train' THEN 'train-train'
                WHEN sa = 'holdout' AND sb = 'holdout'
                     THEN 'holdout-holdout'
                ELSE 'cross' END AS pair_class,
           doc_a, doc_b, sa, sb
    FROM pairs
), sides AS (
    SELECT pair_class, doc_a AS doc_id, sa AS split FROM classed
    UNION ALL
    SELECT pair_class, doc_b AS doc_id, sb AS split FROM classed
), tot AS (
    SELECT sum(CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                         >= '{TRAIN_FRAC_HEX}' THEN 1 ELSE 0 END)
               AS total_holdout
    FROM documents
)
SELECT pair_class,
       CAST(count(*) / 2 AS BIGINT) AS n_pairs,
       count(DISTINCT doc_id) AS n_docs,
       count(DISTINCT CASE WHEN split = 'holdout' THEN doc_id END)
           AS n_holdout_docs,
       round(count(DISTINCT CASE WHEN split = 'holdout' THEN doc_id END)
             / CAST(tot.total_holdout AS DOUBLE), 10) AS holdout_share
FROM sides CROSS JOIN tot
GROUP BY pair_class, tot.total_holdout
"""


SPLIT_LEAKAGE_SQL = _split_leakage_sql()


# --- population stability index ---------------------------------------------

PSI_BUCKET = 100    # n_chars bin width (chars) — the l_diversity convention


def psi_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per source — the THIRD drift lens
    beside ``ks_drift_by_source`` (max CDF gap: sensitive to location
    shifts) and ``kl_divergence_by_source`` (vocabulary): PSI is the
    symmetrized, binned Σ (p−q)·ln(p/q) the model-monitoring world
    standardizes on (the >0.25 'significant shift' rule of thumb),
    here over the doc-length distribution of each source vs the
    whole corpus.

    Bins are fixed-width ``PSI_BUCKET``-char buckets (deterministic
    integer binning — quantile bins of the reference would couple the
    audit to a second rank pass); zero cells are Laplace-smoothed
    (+1 per bin on BOTH sides, so every term is finite and the
    smoothing cancels in expectation over matched distributions).

    Exactness: p and q are each one int/int double division of exact
    integer counts; the term keeps ONE written order
    (p−q)·ln(p/q), round(·,10)-pinned to DECIMAL(25,10) before the
    order-free sum (the KL convention).

    Scale: one combinable (source, bucket) count; the grid is
    |sources|×|buckets| — manifest-sized — and every total is a
    window over it. The corpus is scanned exactly once.
    """
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select("source", F.expr(f"n_chars div {PSI_BUCKET}")
                    .alias("bucket"))
    cnt = b.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).alias("c"))
    grid = (b.select("source").distinct()
            .crossJoin(b.select("bucket").distinct())
            .join(cnt, ["source", "bucket"], "left")
            .select("source", "bucket",
                    F.coalesce("c", F.lit(0)).alias("c")))
    n_s = F.sum("c").over(Window.partitionBy("source"))
    c_b = F.sum("c").over(Window.partitionBy("bucket"))
    n_g = F.sum("c").over(Window.partitionBy())
    nb = F.count(F.lit(1)).over(Window.partitionBy("source"))
    t = grid.select(
        "source", "c",
        n_s.alias("n_s"), c_b.alias("c_b"),
        n_g.alias("n_g"), nb.alias("nb"))
    p = (F.col("c") + 1) / (F.col("n_s") + F.col("nb")).cast("double")
    q = ((F.col("c_b") + 1)
         / (F.col("n_g") + F.col("nb")).cast("double"))
    terms = t.select(
        "source", "n_s", "nb",
        F.round((p - q) * F.log(p / q), 10)
        .cast("decimal(25,10)").alias("term"))
    return (terms.groupBy("source")
            .agg(F.max("n_s").cast("bigint").alias("n_docs"),
                 F.max("nb").cast("bigint").alias("n_bins"),
                 F.round(F.sum("term").cast("double"), 6).alias("psi")))


PSI_DRIFT_SQL = f"""
WITH b AS (
    SELECT source, n_chars // {PSI_BUCKET} AS bucket FROM documents
), cnt AS (
    SELECT source, bucket, count(*) AS c FROM b GROUP BY 1, 2
), grid AS (
    SELECT s.source, k.bucket, COALESCE(c.c, 0) AS c
    FROM (SELECT DISTINCT source FROM b) s
    CROSS JOIN (SELECT DISTINCT bucket FROM b) k
    LEFT JOIN cnt c ON c.source = s.source AND c.bucket = k.bucket
), t AS (
    SELECT source, c,
           sum(c) OVER (PARTITION BY source) AS n_s,
           sum(c) OVER (PARTITION BY bucket) AS c_b,
           sum(c) OVER () AS n_g,
           count(*) OVER (PARTITION BY source) AS nb
    FROM grid
), terms AS (
    SELECT source, n_s, nb,
           CAST(round(((c + 1) / CAST(n_s + nb AS DOUBLE)
                       - (c_b + 1) / CAST(n_g + nb AS DOUBLE))
                      * ln(((c + 1) / CAST(n_s + nb AS DOUBLE))
                           / ((c_b + 1) / CAST(n_g + nb AS DOUBLE))),
                      10) AS DECIMAL(25,10)) AS term
    FROM t
)
SELECT source, CAST(max(n_s) AS BIGINT) AS n_docs,
       CAST(max(nb) AS BIGINT) AS n_bins,
       round(CAST(sum(term) AS DOUBLE), 6) AS psi
FROM terms GROUP BY source
"""


# --- dedup token impact ------------------------------------------------------

def dedup_token_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What dedup buys in TRAINING TOKENS, per source — the
    token-weighted readout the doc-count funnels
    (``curation_funnel``, ``cross_source_duplication``) don't give:
    a 2× doc-level dup rate in a long-doc source costs far more
    budget than in a short-doc one, and epoch planning consumes
    tokens, not documents.

    Stage semantics (sequential, no double counting): exact dedup
    first (keep the min doc_id per md5(text) group — the
    ``exact_dedup`` rule), then transitive near-dup pruning
    (``connected_components_dedup``'s canonical flag) charged ONLY
    against exact survivors. Per source: docs, raw tokens, tokens
    removed by each stage, surviving tokens, and the total savings
    share. Composed VERBATIM from the standalone operators so the
    bill can never drift from the dedup it prices.

    Exactness: all token counts are integers; the one share is an
    int/int division in [0,1], round(·,10).

    Scale: the near-dup clustering is the standalone plan (band-
    filtered pair join + Hash-Min rounds); the exact stage is one
    md5 groupBy; the final bill is one combinable per-source
    aggregation over flags that are joins on doc_id — nothing here
    adds a corpus² stage.
    """
    from .dedup import exact_dedup
    from .iterative import connected_components_dedup

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.size(F.split("text", " ")).alias("ntok"),
        F.md5("text").alias("fingerprint"))
    keep = exact_dedup(spark, sf_dir).select("fingerprint",
                                             "keep_doc_id")
    cc = connected_components_dedup(spark, sf_dir).select(
        "doc_id", "is_canonical")
    flagged = (docs.join(keep, "fingerprint")
               .join(cc, "doc_id")
               .select("source", "ntok",
                       (F.col("doc_id") != F.col("keep_doc_id"))
                       .alias("exact_rm"),
                       ((F.col("doc_id") == F.col("keep_doc_id"))
                        & ~F.col("is_canonical")).alias("near_rm")))
    raw = F.sum("ntok")
    ex_t = F.sum(F.when(F.col("exact_rm"), F.col("ntok")).otherwise(0))
    nr_t = F.sum(F.when(F.col("near_rm"), F.col("ntok")).otherwise(0))
    return (flagged.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 raw.alias("raw_tokens"),
                 F.sum(F.when(F.col("exact_rm"), 1).otherwise(0))
                 .alias("exact_removed_docs"),
                 ex_t.alias("exact_removed_tokens"),
                 F.sum(F.when(F.col("near_rm"), 1).otherwise(0))
                 .alias("near_removed_docs"),
                 nr_t.alias("near_removed_tokens"),
                 (raw - ex_t - nr_t).alias("surviving_tokens"))
            .select("source", "n_docs", "raw_tokens",
                    "exact_removed_docs", "exact_removed_tokens",
                    "near_removed_docs", "near_removed_tokens",
                    "surviving_tokens",
                    F.round((F.col("raw_tokens")
                             - F.col("surviving_tokens"))
                            / F.col("raw_tokens").cast("double"), 10)
                    .alias("savings_share")))


def _dedup_token_impact_sql() -> str:
    from .dedup import EXACT_DEDUP_SQL
    from .iterative import CONNECTED_COMPONENTS_SQL

    return f"""
WITH keep AS ({EXACT_DEDUP_SQL}),
cc AS ({CONNECTED_COMPONENTS_SQL}),
flagged AS (
    SELECT d.source, len(string_split(d.text, ' ')) AS ntok,
           d.doc_id <> k.keep_doc_id AS exact_rm,
           d.doc_id = k.keep_doc_id AND NOT c.is_canonical AS near_rm
    FROM documents d
    JOIN keep k ON md5(d.text) = k.fingerprint
    JOIN cc c ON c.doc_id = d.doc_id
)
SELECT source, count(*) AS n_docs,
       CAST(sum(ntok) AS BIGINT) AS raw_tokens,
       CAST(sum(CASE WHEN exact_rm THEN 1 ELSE 0 END) AS BIGINT)
           AS exact_removed_docs,
       CAST(sum(CASE WHEN exact_rm THEN ntok ELSE 0 END) AS BIGINT)
           AS exact_removed_tokens,
       CAST(sum(CASE WHEN near_rm THEN 1 ELSE 0 END) AS BIGINT)
           AS near_removed_docs,
       CAST(sum(CASE WHEN near_rm THEN ntok ELSE 0 END) AS BIGINT)
           AS near_removed_tokens,
       CAST(sum(ntok) - sum(CASE WHEN exact_rm THEN ntok ELSE 0 END)
            - sum(CASE WHEN near_rm THEN ntok ELSE 0 END) AS BIGINT)
           AS surviving_tokens,
       round((sum(CASE WHEN exact_rm THEN ntok ELSE 0 END)
              + sum(CASE WHEN near_rm THEN ntok ELSE 0 END))
             / CAST(sum(ntok) AS DOUBLE), 10) AS savings_share
FROM flagged GROUP BY source
"""


DEDUP_TOKEN_IMPACT_SQL = _dedup_token_impact_sql()


# --- direct standardization (Simpson's-paradox guard) ------------------------

STD_LONG_CHARS = 250  # the long-doc quality metric's fixed threshold


def direct_standardization_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confounder-adjusted source comparison — epidemiology's DIRECT
    STANDARDIZATION (age-adjusted rates), applied to the corpus: the
    share of long documents (> ``STD_LONG_CHARS`` chars) per source,
    both POOLED and standardized to the corpus-wide language mix
    (rate_std(s) = Σ_l W_l·rate(s,l) / Σ_l W_l over the languages the
    source covers). A source can look "better" pooled purely because
    its language mix skews long — the Simpson's-paradox failure mode
    every per-source quality league table has; the confounding gap
    (pooled − standardized) is the number that says whether a
    league-table ranking is real or compositional.

    Exactness: every rate and weight is one exact-operand integer
    division; each per-language term W·r and weight W is |·| ≤ 1, so
    round(·,10) → DECIMAL(25,10) pins it (the repo's standard
    order-insensitive sum); the final standardized rate and gap are
    arithmetic over those bit-identical scalars.

    Scale: the corpus collapses to the (source × lang) cell grid in
    one combinable aggregation; the language standard population is a
    broadcast ≤|langs|-row relation and all standardization math runs
    on the manifest-sized grid. At 100 TB this is one exchange.
    """
    docs = load_table(spark, sf_dir, "documents")
    flagged = docs.select(
        "source", "lang",
        (F.col("n_chars") > STD_LONG_CHARS).cast("long").alias("is_long"))
    cells = (flagged.groupBy("source", "lang")
             .agg(F.count(F.lit(1)).alias("n_sl"),
                  F.sum("is_long").alias("long_sl")))
    langs = (flagged.groupBy("lang")
             .agg(F.count(F.lit(1)).alias("n_l")))
    total = flagged.agg(F.count(F.lit(1)).alias("n_corpus"))
    dec = "decimal(25,10)"
    w_l = F.col("n_l").cast("double") / F.col("n_corpus").cast("double")
    r_sl = F.col("long_sl").cast("double") / F.col("n_sl").cast("double")
    terms = (cells.join(F.broadcast(langs), "lang")
             .crossJoin(total)
             .select("source", "n_sl", "long_sl",
                     F.round(w_l * r_sl, 10).cast(dec).alias("wr"),
                     F.round(w_l, 10).cast(dec).alias("w")))
    return (terms.groupBy("source")
            .agg(F.sum("n_sl").alias("n_docs"),
                 F.sum("long_sl").alias("n_long"),
                 F.sum("wr").alias("swr"), F.sum("w").alias("sw"))
            .select("source", "n_docs", "n_long",
                    (F.col("n_long").cast("double")
                     / F.col("n_docs").cast("double"))
                    .alias("rate_pooled"),
                    (F.col("swr").cast("double")
                     / F.col("sw").cast("double"))
                    .alias("rate_standardized"),
                    ((F.col("n_long").cast("double")
                      / F.col("n_docs").cast("double"))
                     - (F.col("swr").cast("double")
                        / F.col("sw").cast("double")))
                    .alias("confounding_gap")))


DIRECT_STANDARDIZATION_SQL = f"""
WITH flagged AS (
    SELECT source, lang,
           CASE WHEN n_chars > {STD_LONG_CHARS} THEN 1 ELSE 0 END
               AS is_long
    FROM documents
), cells AS (
    SELECT source, lang, count(*) AS n_sl,
           CAST(sum(is_long) AS BIGINT) AS long_sl
    FROM flagged GROUP BY source, lang
), langs AS (
    SELECT lang, count(*) AS n_l FROM flagged GROUP BY lang
), total AS (
    SELECT count(*) AS n_corpus FROM flagged
), terms AS (
    SELECT c.source, c.n_sl, c.long_sl,
           CAST(round(CAST(l.n_l AS DOUBLE) / CAST(t.n_corpus AS DOUBLE)
                      * (CAST(c.long_sl AS DOUBLE)
                         / CAST(c.n_sl AS DOUBLE)), 10)
                AS DECIMAL(25,10)) AS wr,
           CAST(round(CAST(l.n_l AS DOUBLE) / CAST(t.n_corpus AS DOUBLE),
                      10) AS DECIMAL(25,10)) AS w
    FROM cells c JOIN langs l ON c.lang = l.lang, total t
)
SELECT source,
       CAST(sum(n_sl) AS BIGINT) AS n_docs,
       CAST(sum(long_sl) AS BIGINT) AS n_long,
       CAST(sum(long_sl) AS DOUBLE) / CAST(sum(n_sl) AS DOUBLE)
           AS rate_pooled,
       CAST(sum(wr) AS DOUBLE) / CAST(sum(w) AS DOUBLE)
           AS rate_standardized,
       CAST(sum(long_sl) AS DOUBLE) / CAST(sum(n_sl) AS DOUBLE)
           - CAST(sum(wr) AS DOUBLE) / CAST(sum(w) AS DOUBLE)
           AS confounding_gap
FROM terms GROUP BY source
"""


# --- t-closeness release audit ----------------------------------------------

T_CLOSE_BUCKETS = 6    # ordered sensitive-attribute buckets (n_chars/100, cap)
T_CLOSE_MAX = 0.2      # release gate on the per-class EMD


def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) — the
    third rung of the release-privacy ladder after
    ``k_anonymity_audit`` (group size) and ``l_diversity_audit``
    (sensitive-value variety): for every quasi-identifier class
    (lang, source), the Earth Mover's Distance between the class's
    distribution over the ORDERED sensitive attribute (length bucket
    min(n_chars/100, 5) — 6 buckets) and the corpus-wide distribution.
    l-diversity misses skew (a class can hold l distinct values at
    99/1 odds); t-closeness bounds exactly that leak. For an ordered
    attribute with unit spacing, EMD = Σᵢ |Σ_{j≤i} (q_j − p_j)| /
    (m − 1) — two fixed-size passes, no transport solver.

    Exactness: p_j and q_j are exact-operand integer divisions
    (bit-identical doubles); each difference is pinned round(·,10) →
    DECIMAL(25,10) so the cumulative window sum is order-exact; the
    bucket grid is densified per class (a bucket absent from a class
    but present globally still moves mass).

    Scale: the corpus collapses to the (class × bucket) cell grid in
    one combinable count; the global bucket marginal is a broadcast
    ≤6-row relation; the cumulative window partitions by class over 6
    rows. Manifest-sized everywhere after the first exchange.
    """
    docs = load_table(spark, sf_dir, "documents")
    m = T_CLOSE_BUCKETS
    b = F.least(F.floor(F.col("n_chars") / LEN_BUCKET),
                F.lit(m - 1)).cast("int")
    flat = docs.select("lang", "source", b.alias("b"))
    classes = (flat.groupBy("lang", "source")
               .agg(F.count(F.lit(1)).alias("n_class")))
    cb = (flat.groupBy("lang", "source", "b")
          .agg(F.count(F.lit(1)).alias("cnt_cb")))
    gb = flat.groupBy("b").agg(F.count(F.lit(1)).alias("cnt_gb"))
    total = flat.agg(F.count(F.lit(1)).alias("n_corpus"))
    grid = (classes.withColumn(
        "b", F.explode(F.sequence(F.lit(0), F.lit(m - 1)))))
    diff = (F.coalesce("cnt_cb", F.lit(0)).cast("double")
            / F.col("n_class").cast("double")
            - F.coalesce("cnt_gb", F.lit(0)).cast("double")
            / F.col("n_corpus").cast("double"))
    cells = (grid.join(cb, ["lang", "source", "b"], "left")
             .join(F.broadcast(gb), "b", "left")
             .crossJoin(total)
             .select("lang", "source", "b", "n_class",
                     F.round(diff, 10).cast("decimal(25,10)")
                     .alias("d_dec")))
    w = (Window.partitionBy("lang", "source").orderBy("b")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = cells.select("lang", "source", "n_class",
                       F.abs(F.sum("d_dec").over(w)).alias("acum"))
    return (cum.groupBy("lang", "source")
            .agg(F.max("n_class").alias("n_docs"),
                 (F.sum("acum").cast("double") / F.lit(float(m - 1)))
                 .alias("t_emd"))
            .select("lang", "source", "n_docs", "t_emd",
                    (F.col("t_emd") <= F.lit(T_CLOSE_MAX))
                    .alias("passed")))


T_CLOSENESS_SQL = f"""
WITH flat AS (
    SELECT lang, source,
           CAST(least(n_chars // {LEN_BUCKET}, {T_CLOSE_BUCKETS - 1})
                AS INT) AS b
    FROM documents
), classes AS (
    SELECT lang, source, count(*) AS n_class
    FROM flat GROUP BY lang, source
), cb AS (
    SELECT lang, source, b, count(*) AS cnt_cb
    FROM flat GROUP BY lang, source, b
), gb AS (
    SELECT b, count(*) AS cnt_gb FROM flat GROUP BY b
), total AS (SELECT count(*) AS n_corpus FROM flat
), grid AS (
    SELECT c.lang, c.source, c.n_class, CAST(u.b AS INT) AS b
    FROM classes c,
         LATERAL (SELECT unnest(generate_series(0,
                  {T_CLOSE_BUCKETS - 1})) AS b) u
), cells AS (
    SELECT g.lang, g.source, g.b, g.n_class,
           CAST(round(CAST(COALESCE(cb.cnt_cb, 0) AS DOUBLE)
                      / CAST(g.n_class AS DOUBLE)
                      - CAST(COALESCE(gb.cnt_gb, 0) AS DOUBLE)
                        / CAST(t.n_corpus AS DOUBLE), 10)
                AS DECIMAL(25,10)) AS d_dec
    FROM grid g
    LEFT JOIN cb ON g.lang = cb.lang AND g.source = cb.source
                AND g.b = cb.b
    LEFT JOIN gb ON g.b = gb.b, total t
), cum AS (
    SELECT lang, source, n_class,
           abs(sum(d_dec) OVER (PARTITION BY lang, source ORDER BY b
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW)) AS acum
    FROM cells
)
SELECT lang, source, max(n_class) AS n_docs,
       CAST(sum(acum) AS DOUBLE) / {float(T_CLOSE_BUCKETS - 1)} AS t_emd,
       CAST(sum(acum) AS DOUBLE) / {float(T_CLOSE_BUCKETS - 1)}
           <= {T_CLOSE_MAX} AS passed
FROM cum GROUP BY lang, source
"""


# --- empirical-Bayes shrinkage league table -----------------------------------

EB_PRIOR_STRENGTH = 20   # pseudo-doc count pulled from the pooled rate
EB_LONG_CHARS = 256


def eb_shrinkage_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrunk league table (the Efron-Morris batting-
    average move, fixed-strength form): each source's long-doc rate
    is shrunk toward the POOLED rate by ``EB_PRIOR_STRENGTH`` pseudo-
    docs — p_eb = (k + M·p̄)/(n + M) — and the table reports both
    rankings and every source's rank movement. This is the number a
    curation league table should sort by: a 30-doc source at rate 1.0
    must not outrank a 3000-doc source at 0.9 (the small-sample
    leader the raw ranking crowns); fixed M keeps the estimator
    exact-arithmetic — the hierarchical-variance upgrade is a
    one-line swap documented here. Companions: ``wilson_ci_rates``
    (uncertainty), ``direct_standardization_rates`` (confounding).

    Exactness: k, n exact integers; p̄ = Σk/Σn one exact-operand
    division; p_eb is fixed identical-order double arithmetic; both
    rank columns are row_number under (metric DESC, source) — total
    orders, no float tie hazard beyond the deterministic metric.

    Scale: one combinable conditional count; ranking windows run on
    the |sources|-row relation.
    """
    docs = load_table(spark, sf_dir, "documents")
    agg = (docs.groupBy("source")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum((F.col("n_chars") > EB_LONG_CHARS)
                      .cast("long")).alias("k")))
    pool = agg.agg(F.sum("k").alias("tk"), F.sum("n").alias("tn"))
    pbar = F.col("tk").cast("double") / F.col("tn").cast("double")
    m = F.lit(float(EB_PRIOR_STRENGTH))
    p_raw = F.col("k").cast("double") / F.col("n").cast("double")
    p_eb = (F.col("k").cast("double") + m * pbar) \
        / (F.col("n").cast("double") + m)
    scored = (agg.crossJoin(pool)
              .select("source", "n", "k",
                      F.round(p_raw, 6).alias("rate_raw"),
                      F.round(p_eb, 6).alias("rate_eb")))
    w_raw = Window.orderBy(F.col("rate_raw").desc(), "source")
    w_eb = Window.orderBy(F.col("rate_eb").desc(), "source")
    return (scored
            .withColumn("rank_raw", F.row_number().over(w_raw))
            .withColumn("rank_eb", F.row_number().over(w_eb))
            .withColumn("rank_delta",
                        F.col("rank_raw") - F.col("rank_eb")))


EB_SHRINKAGE_SQL = f"""
WITH agg AS (
    SELECT source, count(*) AS n,
           CAST(sum(CASE WHEN n_chars > {EB_LONG_CHARS}
                         THEN 1 ELSE 0 END) AS BIGINT) AS k
    FROM documents GROUP BY source
), pool AS (
    SELECT CAST(sum(k) AS BIGINT) AS tk, CAST(sum(n) AS BIGINT) AS tn
    FROM agg
), scored AS (
    SELECT source, n, k,
           round(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate_raw,
           round((CAST(k AS DOUBLE)
                  + {float(EB_PRIOR_STRENGTH)!r}
                    * (CAST(tk AS DOUBLE) / CAST(tn AS DOUBLE)))
                 / (CAST(n AS DOUBLE) + {float(EB_PRIOR_STRENGTH)!r}),
                 6) AS rate_eb
    FROM agg, pool
)
SELECT source, n, k, rate_raw, rate_eb,
       row_number() OVER (ORDER BY rate_raw DESC, source) AS rank_raw,
       row_number() OVER (ORDER BY rate_eb DESC, source) AS rank_eb,
       row_number() OVER (ORDER BY rate_raw DESC, source)
       - row_number() OVER (ORDER BY rate_eb DESC, source) AS rank_delta
FROM scored
"""


# --- curriculum interleave schedule ---------------------------------------

CURRICULUM_DECILES = 10


def curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-ordered training schedule audit: per language,
    documents are split into length deciles (the difficulty proxy),
    each decile is shuffled deterministically (md5 order), and the
    training order round-robins across deciles so every consecutive
    run of 10 examples spans the whole difficulty spectrum — the
    anti-curriculum-collapse interleave a pre-training data loader
    applies so a batch never comes from one difficulty stratum. The
    output is the per-(lang, decile) placement audit: population,
    first/last schedule position, and the mean inter-example gap —
    round-robin is proven by mean_gap ≈ number of deciles.

    Exactness: ntile/row_number are total orders (doc_id tie-breaks);
    positions are exact integers; the one ratio is a single division,
    round 10.

    Scale: all three windows are PARTITIONED BY lang (per-partition
    state = one language's catalog, never a global sort); at 100 TB
    swap the in-partition ntile for approx_percentile cutpoints +
    map-side CASE (the documented `equi_depth_deciles` escape hatch).
    The audit output is |langs|×10 rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    w_dec = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    md5 = F.md5(F.col("doc_id").cast("string"))
    staged = docs.select(
        "doc_id", "lang", "n_chars", md5.alias("h"),
        F.ntile(CURRICULUM_DECILES).over(w_dec).cast("bigint")
        .alias("decile"))
    w_shuf = Window.partitionBy("lang", "decile").orderBy("h", "doc_id")
    ranked = staged.withColumn(
        "r", F.row_number().over(w_shuf).cast("bigint"))
    w_pos = Window.partitionBy("lang").orderBy("r", "decile")
    sched = ranked.withColumn(
        "pos", F.row_number().over(w_pos).cast("bigint"))
    return (sched.groupBy("lang", "decile")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("pos").alias("first_pos"),
                 F.max("pos").alias("last_pos"))
            .select("lang", "decile", "n_docs", "first_pos", "last_pos",
                    F.when(F.col("n_docs") > 1,
                           F.round((F.col("last_pos")
                                    - F.col("first_pos"))
                                   / (F.col("n_docs") - 1), 10))
                    .alias("mean_gap")))


CURRICULUM_INTERLEAVE_SQL = f"""
WITH staged AS (
    SELECT doc_id, lang, n_chars, md5(CAST(doc_id AS VARCHAR)) AS h,
           ntile({CURRICULUM_DECILES}) OVER (
               PARTITION BY lang ORDER BY n_chars, doc_id) AS decile
    FROM documents
), ranked AS (
    SELECT *, row_number() OVER (
               PARTITION BY lang, decile ORDER BY h, doc_id) AS r
    FROM staged
), sched AS (
    SELECT *, row_number() OVER (
               PARTITION BY lang ORDER BY r, decile) AS pos
    FROM ranked
)
SELECT lang, CAST(decile AS BIGINT) AS decile, count(*) AS n_docs,
       min(pos) AS first_pos, max(pos) AS last_pos,
       CASE WHEN count(*) > 1
            THEN round(CAST(max(pos) - min(pos) AS DOUBLE)
                       / (count(*) - 1), 10) END AS mean_gap
FROM sched GROUP BY lang, decile
"""


# --- data-constrained token budget planner --------------------------------

BUDGET_TARGET_TOKENS = 10_000_000
BUDGET_MAX_EPOCHS = 4.0   # repeated-data value decays sharply past ~4
                          # epochs (Muennighoff et al. 2023)


def token_budget_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained pre-training budget audit (Muennighoff et al.
    2023): given the √n-tempered source mix (the
    `mixture_sampling_weights` recipe) and a frozen target token
    budget, how many EPOCHS of each source does the mix demand, which
    sources blow the ~4-epoch repeated-data ceiling, and what token
    deficit the cap leaves to redistribute. This is the planner a
    data-constrained training run reads before committing a mixture:
    quota under the mix, epochs = quota/available, the over-ceiling
    flag, the capped grant, and the unmet deficit.

    Exactness: token counts are exact integers; the weight is one
    sqrt per source; the mix denominator is the fleet's proven
    RUNNING-sum idiom (sequential left fold, identical in both
    engines) with total = max(cum); epochs/quota/deficit are
    fixed-order doubles, round 6 / floored to integer tokens.

    Scale: one combinable per-source aggregation; the planner runs on
    the |sources|-row manifest.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"))
    weight = F.sqrt(F.col("n_tokens").cast("double"))
    w_run = (Window.orderBy("source")
             .rowsBetween(Window.unboundedPreceding,
                          Window.currentRow))
    w_all = (Window.orderBy("source")
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    with_cum = (per_src.withColumn("weight", weight)
                .withColumn("cum", F.sum("weight").over(w_run)))
    total = F.max("cum").over(w_all)
    quota = F.floor(F.lit(float(BUDGET_TARGET_TOKENS))
                    * F.col("weight") / total).cast("bigint")
    staged = with_cum.select(
        "source", "n_tokens", quota.alias("token_quota"))
    epochs = (F.col("token_quota").cast("double")
              / F.col("n_tokens").cast("double"))
    capped = F.least(
        F.col("token_quota"),
        F.floor(F.lit(BUDGET_MAX_EPOCHS)
                * F.col("n_tokens").cast("double")).cast("bigint"))
    return staged.select(
        "source", "n_tokens", "token_quota",
        F.round(epochs, 6).alias("epochs"),
        (epochs > F.lit(BUDGET_MAX_EPOCHS)).alias("over_ceiling"),
        capped.alias("granted_tokens"),
        (F.col("token_quota") - capped).alias("deficit_tokens"))


TOKEN_BUDGET_SQL = f"""
WITH per_src AS (
    SELECT source,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT)
               AS n_tokens
    FROM documents GROUP BY source
), with_cum AS (
    SELECT source, n_tokens,
           sqrt(CAST(n_tokens AS DOUBLE)) AS weight,
           sum(sqrt(CAST(n_tokens AS DOUBLE))) OVER (
               ORDER BY source
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
    FROM per_src
), staged AS (
    SELECT source, n_tokens,
           CAST(floor({float(BUDGET_TARGET_TOKENS)!r} * weight
                      / max(cum) OVER ()) AS BIGINT) AS token_quota
    FROM with_cum
)
SELECT source, n_tokens, token_quota,
       round(CAST(token_quota AS DOUBLE) / CAST(n_tokens AS DOUBLE),
             6) AS epochs,
       CAST(token_quota AS DOUBLE) / CAST(n_tokens AS DOUBLE)
           > {BUDGET_MAX_EPOCHS!r} AS over_ceiling,
       least(token_quota,
             CAST(floor({BUDGET_MAX_EPOCHS!r}
                        * CAST(n_tokens AS DOUBLE)) AS BIGINT))
           AS granted_tokens,
       token_quota - least(token_quota,
             CAST(floor({BUDGET_MAX_EPOCHS!r}
                        * CAST(n_tokens AS DOUBLE)) AS BIGINT))
           AS deficit_tokens
FROM staged
"""


# --- Cramer's V association matrix ----------------------------------------

CRAMER_LEN_BAND = 200   # n_chars // 200 discretizes length for the matrix


def cramers_v_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association matrix (Cramér 1946) over every pair of
    the document catalog's categorical axes — (lang, source), (lang,
    length-band), (source, length-band): V = √(χ²/(n·min(r−1, c−1)))
    normalizes `chi2_independence_lang_source`'s raw statistic onto
    [0, 1] so the three pairs are COMPARABLE — the one-table answer
    to "which metadata axes are entangled" that decides whether
    stratified sampling must cross them (cf.
    `direct_standardization_rates`' Simpson guard).

    Exactness: each χ² cell term rides the proven round-10 decimal
    pin; V adds one division and sqrt over identical operands,
    round 6.

    Scale: three dense contingency grids, each |levels_a|×|levels_b|
    rows after one combinable count aggregation; output is 3 rows.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "source",
        F.expr(f"n_chars div {CRAMER_LEN_BAND}").alias("len_band"))

    def pair(a: str, b: str) -> DataFrame:
        # materialized once per pair: rows/cols/n and the grid join all
        # branch from the contingency relation — without the cut each
        # branch would re-scan the catalog
        obs = truncate_lineage(
            docs.groupBy(a, b).agg(F.count(F.lit(1)).alias("o")))
        rows_ = obs.groupBy(a).agg(F.sum("o").alias("r"))
        cols_ = obs.groupBy(b).agg(F.sum("o").alias("c"))
        n_ = obs.agg(F.sum("o").alias("n"))
        grid = (rows_.crossJoin(F.broadcast(cols_))
                .crossJoin(n_)
                .join(obs, [a, b], "left")
                .select("r", "c", "n",
                        F.coalesce("o", F.lit(0)).alias("o"),
                        F.col(a).alias("la"), F.col(b).alias("lb")))
        e = F.col("r") * F.col("c") / F.col("n").cast("double")
        term = (F.col("o") - e) * (F.col("o") - e) / e
        agg = grid.agg(
            F.sum(F.round(term, 10).cast("decimal(25,10)")).alias("s"),
            F.countDistinct("la").alias("ra"),
            F.countDistinct("lb").alias("ca"),
            F.max("n").alias("n"))
        mind = F.least(F.col("ra") - 1, F.col("ca") - 1)
        return agg.select(
            F.lit(f"{a}~{b}").alias("pair"),
            F.col("n").alias("n_docs"),
            F.col("ra").alias("levels_a"),
            F.col("ca").alias("levels_b"),
            F.round(F.col("s").cast("double"), 6).alias("chi2"),
            ((F.col("ra") - 1).cast("bigint")
             * (F.col("ca") - 1).cast("bigint")).alias("dof"),
            F.round(F.sqrt(F.col("s").cast("double")
                           / (F.col("n") * mind).cast("double")), 6)
            .alias("cramers_v"))

    return (pair("lang", "source")
            .unionAll(pair("lang", "len_band"))
            .unionAll(pair("source", "len_band")))


def _cram_block(i: int, a: str, b: str) -> str:
    return f"""obs{i} AS (
    SELECT {a} AS la, {b} AS lb, count(*) AS o
    FROM cdocs GROUP BY 1, 2
), rows{i} AS (
    SELECT la, CAST(sum(o) AS BIGINT) AS r FROM obs{i} GROUP BY la
), cols{i} AS (
    SELECT lb, CAST(sum(o) AS BIGINT) AS c FROM obs{i} GROUP BY lb
), nn{i} AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs{i}
), agg{i} AS (
    SELECT sum(CAST(round((COALESCE(o.o, 0)
                           - r.r * c.c / CAST(nn.n AS DOUBLE))
                          * (COALESCE(o.o, 0)
                             - r.r * c.c / CAST(nn.n AS DOUBLE))
                          / (r.r * c.c / CAST(nn.n AS DOUBLE)), 10)
                    AS DECIMAL(25,10))) AS s,
           count(DISTINCT r.la) AS ra,
           count(DISTINCT c.lb) AS ca,
           max(nn.n) AS n
    FROM rows{i} r CROSS JOIN cols{i} c CROSS JOIN nn{i} nn
    LEFT JOIN obs{i} o ON o.la = r.la AND o.lb = c.lb
)"""


def _cram_select(i: int, name: str) -> str:
    return f"""SELECT '{name}' AS pair, n AS n_docs,
       ra AS levels_a, ca AS levels_b,
       round(CAST(s AS DOUBLE), 6) AS chi2,
       CAST(ra - 1 AS BIGINT) * CAST(ca - 1 AS BIGINT) AS dof,
       round(sqrt(CAST(s AS DOUBLE)
                  / CAST(n * least(ra - 1, ca - 1) AS DOUBLE)), 6)
           AS cramers_v
FROM agg{i}"""


CRAMERS_V_SQL = f"""
WITH cdocs AS (
    SELECT lang, source, n_chars // {CRAMER_LEN_BAND} AS len_band
    FROM documents
), {_cram_block(1, 'lang', 'source')},
{_cram_block(2, 'lang', 'len_band')},
{_cram_block(3, 'source', 'len_band')}
{_cram_select(1, 'lang~source')}
UNION ALL
{_cram_select(2, 'lang~len_band')}
UNION ALL
{_cram_select(3, 'source~len_band')}
"""
