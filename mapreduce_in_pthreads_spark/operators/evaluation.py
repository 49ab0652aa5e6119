"""Model-evaluation operators: the measurements a pipeline runs over
its OWN classifiers and heuristics before trusting them to curate
100 TB — chance-corrected agreement and probability calibration.

``lang_confusion_matrix`` (text_analysis) gives the raw error table;
these give the two summary statistics ML practice actually gates on:
Cohen's κ (Cohen 1960 — agreement above chance) and the reliability
table behind the Brier score (Murphy 1973) for the classifier's
confidence. Both reuse the SAME marker table / argmax rule as
``lang_id_heuristic``, so they evaluate exactly the classifier the
engine ships, not a re-implementation.

Everything is exact: agreements and marginals are integers; κ is ONE
correctly-rounded double division of exact integer products (pinned
in DECIMAL(38,0) so the identity survives corpus sizes where N² no
longer fits int64); calibration bins are integer-division bins and
each bin statistic is a single pinned division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.lineage import truncate_lineage
from ..sources.tables import load_table
from .text_analysis import (_LANG_MARKERS, _lang_markers_values,
                            LANG_ID_SQL, lang_id_heuristic)


def cohens_kappa_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's κ between the declared language label and
    ``lang_id_heuristic``'s prediction — the chance-corrected
    agreement that a raw accuracy (``po``) overstates whenever the
    label distribution is skewed: κ = (pₒ − pₑ) / (1 − pₑ) with
    pₑ = Σ_l (row_l · col_l) / N².

    Exactness: computed as κ = (N·agree − Σ row·col) / (N² − Σ row·col)
    — every term an exact integer (DECIMAL(38,0) ↔ HUGEINT so the
    products survive any N), then ONE correctly-rounded double
    division; pₒ/pₑ are each a single pinned division too.

    Scale: the confusion matrix is one combinable |langs|²-bounded
    aggregation (lineage-cut); marginals, agreement and N all derive
    from those ≤25 rows — no second pass over the corpus.
    """
    pred = lang_id_heuristic(spark, sf_dir)
    cm = truncate_lineage(
        pred.groupBy("declared_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n")))
    tot = cm.agg(
        F.sum("n").alias("n_docs"),
        F.sum(F.when(F.col("declared_lang") == F.col("pred_lang"),
                     F.col("n")).otherwise(F.lit(0))).alias("n_agree"))
    rows = cm.groupBy("declared_lang").agg(F.sum("n").alias("n_row"))
    cols = cm.groupBy("pred_lang").agg(F.sum("n").alias("n_col"))
    pe_num = (rows.join(cols,
                        rows["declared_lang"] == cols["pred_lang"])
              .agg(F.sum(F.col("n_row").cast("decimal(38,0)")
                         * F.col("n_col")).alias("pe_num")))
    n = F.col("n_docs").cast("decimal(38,0)")
    agree = F.col("n_agree").cast("decimal(38,0)")
    pe = F.col("pe_num").cast("decimal(38,0)")
    return (tot.crossJoin(pe_num)
            .select(
                F.col("n_docs").cast("bigint").alias("n_docs"),
                F.col("n_agree").cast("bigint").alias("n_agree"),
                F.round(F.col("n_agree")
                        / F.col("n_docs").cast("double"), 10).alias("po"),
                F.round(pe.cast("double")
                        / (n * n).cast("double"), 10).alias("pe"),
                F.round((n * agree - pe).cast("double")
                        / (n * n - pe).cast("double"), 10)
                .alias("kappa")))


COHENS_KAPPA_SQL = f"""
WITH pred AS ({LANG_ID_SQL}),
cm AS (
    SELECT declared_lang, pred_lang, count(*) AS n
    FROM pred GROUP BY 1, 2
),
tot AS (
    SELECT CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN declared_lang = pred_lang
                         THEN n ELSE 0 END) AS BIGINT) AS n_agree
    FROM cm
),
pe AS (
    SELECT CAST(sum(CAST(r.n_row AS HUGEINT) * c.n_col) AS HUGEINT)
               AS pe_num
    FROM (SELECT declared_lang, sum(n) AS n_row FROM cm GROUP BY 1) r
    JOIN (SELECT pred_lang, sum(n) AS n_col FROM cm GROUP BY 1) c
      ON r.declared_lang = c.pred_lang
)
SELECT n_docs, n_agree,
       round(n_agree / CAST(n_docs AS DOUBLE), 10) AS po,
       round(CAST(pe_num AS DOUBLE)
             / CAST(CAST(n_docs AS HUGEINT) * n_docs AS DOUBLE), 10)
           AS pe,
       round(CAST(CAST(n_docs AS HUGEINT) * n_agree - pe_num AS DOUBLE)
             / CAST(CAST(n_docs AS HUGEINT) * n_docs - pe_num
                    AS DOUBLE), 10) AS kappa
FROM tot CROSS JOIN pe
"""


N_LANGS = len(_LANG_MARKERS)


def lang_confidence_calibration(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Reliability table of a language classifier's confidence — the
    per-bin view behind the Brier score (Murphy 1973): the classifier
    is the occurrence-COUNT sharpening of ``lang_id_heuristic``'s
    set-based rule (argmax of marker-token occurrences), and its
    confidence is the Laplace-smoothed posterior
    p = (best + 1) / (total + |langs|) — the add-one estimate that
    stays defined (p = 1/|langs|) on marker-free documents, so no row
    is excluded. Per 10-wide bin: mean confidence vs observed argmax
    accuracy (the gap a temperature-scaling step would shrink) and
    the decimal-exact Brier contribution Σ(p − y)²/n.

    Exactness: counts are integers; the bin is INTEGER division
    (10·(best+1)) div (total+|langs|) — no float boundary hazard; p
    and (p−y)² are round(·,10) decimal-pinned before their bin sums;
    each reported mean is one pinned division.

    Scale: per-row expressions + one |bins|-bounded combinable
    aggregation — zero joins, zero windows.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    scores = F.array(*[
        F.struct(
            F.size(F.filter(
                toks,
                lambda x: F.array_contains(
                    F.array(*[F.lit(m) for m in markers]), x)))
            .alias("cnt"),
            F.lit(lang).alias("lang"),
        )
        for lang, markers in sorted(_LANG_MARKERS.items())
    ])
    best = F.array_max(scores)
    total = F.aggregate(scores, F.lit(0),
                        lambda acc, s: acc + s["cnt"])
    scored = docs.select(
        F.col("lang").alias("declared_lang"),
        best["lang"].alias("pred_lang"),
        best["cnt"].alias("best_cnt"),
        total.alias("total_cnt"))
    p = ((F.col("best_cnt") + 1)
         / (F.col("total_cnt") + N_LANGS).cast("double"))
    y = (F.col("pred_lang") == F.col("declared_lang")).cast("int")
    binned = scored.select(
        F.expr(f"((best_cnt + 1) * 10) div (total_cnt + {N_LANGS})")
        .cast("bigint").alias("bin"),
        F.round(p, 10).cast("decimal(25,10)").alias("p_dec"),
        y.alias("y"),
        F.round((p - y) * (p - y), 10).cast("decimal(25,10)")
        .alias("sq_err"))
    return (binned.groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.sum("p_dec").cast("double")
                         / F.count(F.lit(1)), 10).alias("mean_conf"),
                 F.round(F.sum("y") / F.count(F.lit(1)).cast("double"),
                         10).alias("accuracy"),
                 F.round(F.sum("sq_err").cast("double")
                         / F.count(F.lit(1)), 10).alias("brier")))


CALIBRATION_SQL = f"""
WITH langs(lang, markers) AS (
    VALUES {{values}}
), per_lang AS (
    SELECT d.doc_id, d.lang AS declared_lang, l.lang,
           len(list_filter(string_split(d.text, ' '),
                           t -> list_contains(l.markers, t))) AS cnt
    FROM documents d CROSS JOIN langs l
), scored AS (
    SELECT declared_lang,
           first(lang ORDER BY cnt DESC, lang DESC) AS pred_lang,
           max(cnt) AS best_cnt,
           sum(cnt) AS total_cnt
    FROM per_lang GROUP BY doc_id, declared_lang
), binned AS (
    SELECT ((best_cnt + 1) * 10) // (total_cnt + {N_LANGS}) AS bin,
           CAST(round((best_cnt + 1)
                      / CAST(total_cnt + {N_LANGS} AS DOUBLE), 10)
                AS DECIMAL(25,10)) AS p_dec,
           CASE WHEN pred_lang = declared_lang THEN 1 ELSE 0 END AS y,
           CAST(round(((best_cnt + 1)
                       / CAST(total_cnt + {N_LANGS} AS DOUBLE)
                       - (CASE WHEN pred_lang = declared_lang
                               THEN 1 ELSE 0 END))
                      * ((best_cnt + 1)
                         / CAST(total_cnt + {N_LANGS} AS DOUBLE)
                         - (CASE WHEN pred_lang = declared_lang
                                 THEN 1 ELSE 0 END)), 10)
                AS DECIMAL(25,10)) AS sq_err
    FROM scored
)
SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n_docs,
       round(CAST(sum(p_dec) AS DOUBLE) / count(*), 10) AS mean_conf,
       round(sum(y) / CAST(count(*) AS DOUBLE), 10) AS accuracy,
       round(CAST(sum(sq_err) AS DOUBLE) / count(*), 10) AS brier
FROM binned GROUP BY bin
""".replace("{values}", _lang_markers_values())
