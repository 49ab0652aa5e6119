"""Text-analysis operators over ``documents``: per-doc quality stats,
per-language aggregates, BPE-ish token counting, tf-idf, n-grams,
language-ID heuristic (north-star BASELINE.json 'Text analysis').

All hot paths are built-in expressions (split / regexp / explode /
window); the only float in play is tf-idf's logarithm, which is rounded
to 6 dp on BOTH engines before ranking so a 1-ulp libm divergence can
never reorder the top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.lineage import truncate_lineage
from ..functions.numeric import davg, sql_davg
from ..functions.tokens import adjacent_bigrams, adjacent_pairs, \
    sliding_ngrams
from ..sources.constants import constant_table
from ..sources.tables import load_embeddings_parallel, load_table

# "BPE-ish" tokenizer: letter runs, digit runs, single other non-space
# (the regex subset that behaves identically in Java regex and RE2)
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def doc_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality scoring: token counts, distinct ratio,
    average token length, content fingerprint. All integer-exact
    except avg_token_len (exact-int division → identical doubles)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    return docs.select(
        "doc_id", "lang",
        n_tokens.cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct_tokens"),
        (F.size(F.array_distinct(toks)) / n_tokens).alias("distinct_ratio"),
        ((F.length("text") - (n_tokens - 1)) / n_tokens)
        .alias("avg_token_len"),
        F.md5("text").alias("fingerprint"),
    )


DOC_QUALITY_STATS_SQL = """
SELECT doc_id, lang,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
       len(list_distinct(string_split(text, ' ')))
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS distinct_ratio,
       (length(text) - (len(string_split(text, ' ')) - 1))
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_token_len,
       md5(text) AS fingerprint
FROM documents
"""


def lang_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus rollup — the partition-pruning dimension a
    multilingual 100 TB corpus would be laid out on."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
             davg("n_chars", "avg_chars"),
             F.countDistinct("source").alias("n_sources"))
    )


LANG_AGGREGATES_SQL = f"""
SELECT lang, count(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       {sql_davg('n_chars', 'avg_chars')},
       count(DISTINCT source) AS n_sources
FROM documents GROUP BY lang
"""


def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish regex (whitespace count alongside)
    — the budget-estimation pass of an LLM data pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_PATTERN), 0))
        .cast("bigint").alias("bpe_tokens"),
    )


BPE_TOKEN_COUNTS_SQL = f"""
SELECT doc_id,
       len(string_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '{BPE_PATTERN}')) AS bpe_tokens
FROM documents
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf-idf terms per document. idf = ln(N/df) is rounded to
    6 dp BEFORE ranking on both engines (libm ulp-divergence guard);
    ties broken by word.

    Document frequency is an aggregate over ``word`` joined back onto
    tf. A window formulation (``count() OVER (PARTITION BY word)``)
    re-shuffles AND re-sorts the FULL tf relation by word before the
    rank window shuffles it a third time by doc_id. The aggregate
    shuffles only per-partition partial (word, count) rows
    (vocabulary-sized, Zipf-sublinear in the corpus). The df relation
    is per-word, so its join strategy is the planner's: while df fits
    the session's broadcast threshold the join attaches it with no
    exchange of tf, and past it the join shuffles instead of shipping
    a vocabulary to every executor. df values are identical either
    way — tf has exactly one row per (doc, word), so count rows per
    word IS df."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word"))
    tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    # N = row count: doc_id is the documents PRIMARY KEY (one row per
    # document at every SF — asserted by tests), so count(*) equals
    # count(DISTINCT doc_id) while skipping the distinct's extra
    # exchange + hash relation (r10, guide §2.4; the oracle twin keeps
    # COUNT(DISTINCT doc_id) and pins the equality). At 100 TB the
    # distinct would shuffle every doc_id; the count is metadata-cheap.
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    # sum(when(tf>=1,1)) not count(1): tf >= 1 for every group (it
    # counts existing rows), so the value is identically the row count
    # — but consuming the tf column keeps this branch's scan → explode
    # → partial-agg → Exchange(doc_id, word) subtree canonically
    # IDENTICAL to the main branch's, so AQE exchange reuse
    # materializes the tf shuffle ONCE and the df branch reads it
    # instead of re-scanning + re-exploding the corpus. count(1) or
    # count("tf") (Catalyst rewrites the latter to the former for
    # non-null input) lets pruning drop tf's partial_count below the
    # exchange — different canonical subtree, no reuse, extra full
    # corpus pass. Measured at sf0.1: final plan shows 2 ReusedExchange
    # and one fewer FileScan of documents.parquet.
    df_rel = tf.groupBy("word").agg(
        F.sum(F.when(F.col("tf") >= 1, F.lit(1))).alias("df"))
    scored = (
        tf.join(df_rel, "word")
        .crossJoin(n_docs)
        .withColumn("tfidf",
                    F.round(F.col("tf") * F.log(F.col("n") / F.col("df")), 6))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("word"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "word", "tf", "df", "tfidf", "rnk")
    )


TFIDF_TOP_TERMS_SQL = """
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), tf AS (
    SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY doc_id, word
), df AS (
    SELECT word, count(*) AS df FROM tf GROUP BY word
), n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
scored AS (
    SELECT tf.doc_id, tf.word, tf.tf, df.df,
           round(tf.tf * ln(n.n / CAST(df.df AS DOUBLE)), 6) AS tfidf
    FROM tf JOIN df USING (word), n
)
SELECT doc_id, word, tf, df, tfidf, rnk FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf DESC, word) AS rnk
    FROM scored
) WHERE rnk <= 3
"""


def bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide bigram frequencies (n-gram language-model input)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    bigrams = adjacent_bigrams(toks)
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
    )


BIGRAM_COUNTS_SQL = """
SELECT bigram, count(*) AS n FROM (
    SELECT unnest(list_transform(
               range(1, len(string_split(text, ' '))),
               i -> string_split(text, ' ')[i] || ' ' ||
                    string_split(text, ' ')[i+1])) AS bigram
    FROM documents
) GROUP BY bigram HAVING count(*) >= 5
"""


# stopword fingerprints per language — deliberately tiny; a real
# pipeline ships trained n-gram profiles. The mechanism (score = hits
# per language table, argmax) is the real part.
_LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "das"],
    "es": ["el", "los", "que"],
    "fr": ["le", "les", "et"],
    "zh": ["de", "shi", "le"],
}


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-based language ID: hits per language's stopword list,
    argmax with deterministic tie-break (greatest language code wins —
    ``array_max`` over (hits, lang) structs compares lexicographically).
    The marker tables are plain data, so the whole rule IS
    SQL-expressible — the DuckDB twin inlines them as VALUES and takes
    the same argmax via QUALIFY row_number (oracle-upgraded from
    rows-only, VERDICT r3 item 8). Per-row expressions only: zero
    shuffles, scales embarrassingly."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    scores = F.array(*[
        F.struct(
            F.size(F.array_intersect(
                toks, F.array(*[F.lit(m) for m in markers])))
            .alias("hits"),
            F.lit(lang).alias("lang"),
        )
        for lang, markers in sorted(_LANG_MARKERS.items())
    ])
    best = F.array_max(scores)
    return docs.select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        best["lang"].alias("pred_lang"),
        best["hits"].cast("long").alias("marker_hits"),
    )


def _lang_markers_values() -> str:
    return ", ".join(
        "('{}', [{}])".format(
            lang, ", ".join(f"'{m}'" for m in markers))
        for lang, markers in sorted(_LANG_MARKERS.items()))


LANG_ID_SQL = f"""
WITH langs(lang, markers) AS (
    VALUES {_lang_markers_values()}
), scored AS (
    SELECT d.doc_id, d.lang AS declared_lang, l.lang,
           len(list_intersect(string_split(d.text, ' '), l.markers)) AS hits
    FROM documents d CROSS JOIN langs l
)
SELECT doc_id, declared_lang, lang AS pred_lang,
       CAST(hits AS BIGINT) AS marker_hits
FROM scored
QUALIFY row_number() OVER (PARTITION BY doc_id
                           ORDER BY hits DESC, lang DESC) = 1
"""

SEQ_LEN = 512  # tokens per packed training sequence


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk training-sequence packing: per language,
    documents are concatenated in doc_id order and sliced into
    fixed-capacity sequences of ``SEQ_LEN`` tokens; a document belongs
    to the chunk where it STARTS (the standard GPT-style pre-training
    packing layout). Output: one row per (lang, chunk) with document
    and token totals.

    Scale notes: packing is inherently order-dependent, so the window
    runs per PARTITION KEY (lang here; date+shard in a real corpus) —
    never a global single-partition orderBy. Each language's running
    sum is one window over one shuffle; chunk assignment is then a
    pure projection (floor-div of the exclusive prefix sum), and the
    final rollup is map-side combinable.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"))
    w = (Window.partitionBy("lang").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    packed = toks.withColumn(
        "chunk_id",
        F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / SEQ_LEN))
    return (
        packed.groupBy("lang", "chunk_id")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_tokens").alias("chunk_tokens"))
    )


SEQUENCE_PACKING_SQL = f"""
WITH toks AS (
    SELECT lang, doc_id,
           len(string_split(text, ' ')) AS n_tokens
    FROM documents
),
packed AS (
    SELECT lang, n_tokens,
           CAST(floor(COALESCE(sum(n_tokens) OVER (
                PARTITION BY lang ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                / {SEQ_LEN}) AS BIGINT) AS chunk_id
    FROM toks
)
SELECT lang, chunk_id, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS chunk_tokens
FROM packed GROUP BY lang, chunk_id
"""

TRAIN_FRAC_HEX = "c"  # md5 first hex digit < 'c' → train (12/16 = 75%)


def hash_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/holdout split — the reproducible
    alternative to random sampling for corpus curation: membership is
    a pure function of doc_id (md5 hex prefix), so the split is stable
    across runs, machines, and engine versions, and needs no seed
    bookkeeping. Emits the per-lang split manifest (counts + token
    totals) that a downstream trainer would consume.

    Scale notes: zero-shuffle assignment (a projection), one combinable
    aggregation; the hash family matches the MinHash pipeline's
    md5-on-string trick so DuckDB can verify bit-for-bit.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1)
    return (
        docs.withColumn(
            "split",
            F.when(bucket < TRAIN_FRAC_HEX, F.lit("train"))
            .otherwise(F.lit("holdout")))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
             F.sum("n_chars").alias("total_chars"))
    )


HASH_SPLIT_SQL = f"""
SELECT lang,
       CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                 < '{TRAIN_FRAC_HEX}'
            THEN 'train' ELSE 'holdout' END AS split,
       count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1, 2
"""


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/URL scrubbing — the redaction pass a training-data pipeline
    runs before anything else. The synthetic corpus contains no PII, so
    the query first *injects* a deterministic email + URL per document
    (derived from doc_id), then scrubs: emails → <EMAIL>, URLs → <URL>,
    long digit runs → <NUM>. Patterns are the Java-regex ∩ RE2 subset
    (no lookaround, no backrefs) so Spark and DuckDB agree byte-for-
    byte.

    Scale notes: pure projection — zero shuffle, whole-stage codegen,
    runs at scan speed; the audit counts are combinable aggregates.
    """
    docs = load_table(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or https://example.com/d/"),
        F.col("doc_id").cast("string"),
        F.lit("?session=1234567890"))
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    url = r"https?://[^ ]+"
    digits = "[0-9]{7,}"
    clean = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(dirty, email, "<EMAIL>"),
                         url, "<URL>"),
        digits, "<NUM>")
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        (F.length(dirty) - F.length(clean)).cast("bigint")
        .alias("chars_redacted"),
        F.size(F.regexp_extract_all(dirty, F.lit(email), 0))
        .cast("bigint").alias("n_emails"),
    )


PII_SCRUB_SQL = r"""
WITH dirty AS (
    SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@mail.example.com or https://example.com/d/'
                || CAST(doc_id AS VARCHAR) || '?session=1234567890'
               AS dirty_text
    FROM documents)
SELECT doc_id,
       regexp_replace(
           regexp_replace(
               regexp_replace(dirty_text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
               'https?://[^ ]+', '<URL>', 'g'),
           '[0-9]{7,}', '<NUM>', 'g') AS clean_text,
       length(dirty_text) - length(
           regexp_replace(
               regexp_replace(
                   regexp_replace(dirty_text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                   'https?://[^ ]+', '<URL>', 'g'),
               '[0-9]{7,}', '<NUM>', 'g')) AS chars_redacted,
       len(regexp_extract_all(dirty_text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails
FROM dirty
"""


NGRAM_N = 3          # word-level n-gram width (3 → nonempty overlap on
                     # the synthetic corpus; real pipelines use 8-13)
EVAL_MOD = 101       # doc_id % EVAL_MOD == 0 → "benchmark" doc


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: which training documents share a
    word-3-gram with the (deterministic pseudo) eval set — the overlap
    audit run before any training corpus ships. Eval set = doc_id %
    101 == 0; a real pipeline would read the benchmark table instead.

    Scale notes: the eval n-gram set is tiny and DISTINCT — built
    once, auto-broadcast, so the fact side streams through a broadcast
    semi-ish join with zero shuffle of the corpus; per-doc counts
    aggregate combinably. N-grams are generated by expression
    (transform over sequence), not a UDF.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    grams = sliding_ngrams(toks, NGRAM_N)
    with_grams = docs.select(
        "doc_id", F.explode(grams).alias("ngram"))
    eval_grams = (with_grams
                  .filter(F.col("doc_id") % EVAL_MOD == 0)
                  .select("ngram").distinct())
    train = with_grams.filter(F.col("doc_id") % EVAL_MOD != 0)
    return (
        train.join(eval_grams, "ngram")
        .groupBy("doc_id")
        .agg(F.countDistinct("ngram").alias("n_contaminated_ngrams"))
    )


CONTAMINATION_SQL = f"""
WITH grams AS (
    SELECT doc_id, unnest(list_transform(
        range(1, len(string_split(text, ' ')) - {NGRAM_N - 1} + 1),
        i -> array_to_string(
            list_slice(string_split(text, ' '), i, i + {NGRAM_N - 1}),
            ' '))) AS ngram
    FROM documents),
eval_grams AS (
    SELECT DISTINCT ngram FROM grams WHERE doc_id % {EVAL_MOD} = 0)
SELECT doc_id, count(DISTINCT ngram) AS n_contaminated_ngrams
FROM grams JOIN eval_grams USING (ngram)
WHERE doc_id % {EVAL_MOD} <> 0
GROUP BY doc_id
"""


def repetition_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: the share
    of word-bigrams that are duplicates, and the share of tokens
    consumed by the single most-frequent token. High values flag
    boilerplate/spam for the curation funnel.

    Scale notes: per-row array math only — zero shuffle; the top-token
    share uses aggregate() over the distinct-token list, still one
    projection. Ratios are exact-int divisions → identical doubles.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    bigrams = adjacent_bigrams(toks)
    top_count = F.aggregate(
        F.array_distinct(toks), F.lit(0),
        lambda acc, t: F.greatest(
            acc, F.size(F.filter(toks, lambda x: x == t))))
    return docs.select(
        "doc_id", "lang",
        F.size(toks).cast("bigint").alias("n_tokens"),
        ((F.size(bigrams) - F.size(F.array_distinct(bigrams)))
         / F.size(bigrams)).alias("dup_bigram_ratio"),
        (top_count / F.size(toks)).alias("top_token_share"),
    )


GOPHER_MIN_TOKENS = 20       # Gopher: 50-100k words; rescaled to this
GOPHER_MAX_DUP_BIGRAM = 0.05  # corpus (10-100-token docs) so every
GOPHER_MAX_TOP_TOKEN = 0.15   # rule splits non-degenerately at every
GOPHER_MIN_TTR = 0.4          # SF (the clustering_coefficient lesson)
GOPHER_WORDLEN_LO = 3.0      # Gopher keeps mean word length in [3,10]
GOPHER_WORDLEN_HI = 10.0


def gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composite document quality gate (Rae et al. 2021,
    Appendix A: the rule battery modern pretraining pipelines apply
    before dedup): per document, one boolean flag per rule —
    minimum length, duplicate-bigram repetition cap, most-frequent-
    token share cap, type-token-ratio floor, mean-word-length band —
    plus the conjunctive ``pass_all`` the curation funnel consumes.
    The thresholds are rescaled to this corpus's 10-100-token
    documents so every rule actually discriminates at every SF
    (verified sf0.001/0.1: ~11% fail length, ~35% fail TTR).

    Composes the signals of ``repetition_ratios`` /
    ``doc_quality_stats`` into the decision table those entries only
    measure — the gate is the operator a pipeline schedules.

    Exactness: every ratio is an exact-int division (identical
    doubles cross-engine); flags are integer comparisons on those.

    Scale: pure per-row array expressions — zero shuffle, zero joins;
    the gate runs in the scan's projection at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    bigrams = adjacent_bigrams(toks)
    dup_bg = (F.size(bigrams) - F.size(F.array_distinct(bigrams))) \
        / F.size(bigrams)
    top_share = F.aggregate(
        F.array_distinct(toks), F.lit(0),
        lambda acc, t: F.greatest(
            acc, F.size(F.filter(toks, lambda x: x == t)))) / n
    ttr = F.size(F.array_distinct(toks)) / n
    wordlen = (F.length("text") - (n - 1)) / n
    p_len = (n >= GOPHER_MIN_TOKENS).cast("int")
    p_rep = (dup_bg <= GOPHER_MAX_DUP_BIGRAM).cast("int")
    p_top = (top_share <= GOPHER_MAX_TOP_TOKEN).cast("int")
    p_ttr = (ttr >= GOPHER_MIN_TTR).cast("int")
    p_wl = ((wordlen >= GOPHER_WORDLEN_LO)
            & (wordlen <= GOPHER_WORDLEN_HI)).cast("int")
    return docs.select(
        "doc_id", "lang", n.cast("bigint").alias("n_tokens"),
        p_len.alias("pass_min_len"), p_rep.alias("pass_dup_bigram"),
        p_top.alias("pass_top_token"), p_ttr.alias("pass_ttr"),
        p_wl.alias("pass_word_len"),
        (p_len * p_rep * p_top * p_ttr * p_wl).alias("pass_all"))


GOPHER_GATE_SQL = f"""
WITH t AS (
    SELECT doc_id, lang, text, string_split(text, ' ') AS toks,
           list_transform(range(1, len(string_split(text, ' '))),
               i -> array_to_string(
                   list_slice(string_split(text, ' '), i, i + 1), ' '))
               AS bigrams
    FROM documents
), m AS (
    SELECT doc_id, lang, len(toks) AS n_tokens,
           (len(bigrams) - len(list_distinct(bigrams)))
               / CAST(len(bigrams) AS DOUBLE) AS dup_bg,
           list_max(list_transform(list_distinct(toks),
               x -> len(list_filter(toks, y -> y = x))))
               / CAST(len(toks) AS DOUBLE) AS top_share,
           len(list_distinct(toks))
               / CAST(len(toks) AS DOUBLE) AS ttr,
           (len(text) - (len(toks) - 1))
               / CAST(len(toks) AS DOUBLE) AS wordlen
    FROM t
)
SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_tokens >= {GOPHER_MIN_TOKENS} AS INT) AS pass_min_len,
       CAST(dup_bg <= {GOPHER_MAX_DUP_BIGRAM!r} AS INT) AS pass_dup_bigram,
       CAST(top_share <= {GOPHER_MAX_TOP_TOKEN!r} AS INT) AS pass_top_token,
       CAST(ttr >= {GOPHER_MIN_TTR!r} AS INT) AS pass_ttr,
       CAST(wordlen >= {GOPHER_WORDLEN_LO!r}
            AND wordlen <= {GOPHER_WORDLEN_HI!r} AS INT) AS pass_word_len,
       CAST(n_tokens >= {GOPHER_MIN_TOKENS} AS INT)
       * CAST(dup_bg <= {GOPHER_MAX_DUP_BIGRAM!r} AS INT)
       * CAST(top_share <= {GOPHER_MAX_TOP_TOKEN!r} AS INT)
       * CAST(ttr >= {GOPHER_MIN_TTR!r} AS INT)
       * CAST(wordlen >= {GOPHER_WORDLEN_LO!r}
              AND wordlen <= {GOPHER_WORDLEN_HI!r} AS INT) AS pass_all
FROM m
"""


BIGRAM_LAMBDA = 0.5   # Jelinek-Mercer mix; a power of two, so the
#                       scaling multiply is EXACT (numeric conventions)


def bigram_logprob_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram language-model document scoring (Jelinek &
    Mercer 1980 mixing; the 2-gram step from ``unigram_logprob_filter``
    toward CCNet's KenLM 5-gram): per document, the mean log-prob of
    each token given its predecessor under
    λ·P(w|v) + (1−λ)·P(w), λ=1/2, both models trained on the corpus
    itself. Context sharpens the filter: rare-in-context tokens score
    low even when globally common.

    Exactness: P(w|v) = bigram/prefix counts and P(w) = cnt/total are
    correctly-rounded exact-int divisions; λ=1/2 makes the scaling
    multiplies exact; the mix's one addition is correctly rounded; the
    ln per bigram TYPE is round(·,10)→DECIMAL(25,10)-pinned before the
    per-doc occurrence sum (the ``token_entropy`` trick).

    Scale: the LM is one combinable (v,w) aggregation (vocab²-bounded
    — a 100 TB corpus still has a bounded vocabulary) re-joined
    against doc bigram occurrences; prefix totals and the unigram
    model attach by equi-join (broadcast while they fit the session
    threshold); one combinable per-doc sum. No windows,
    no self-joins.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    bg = (docs
          .select("doc_id",
                  F.explode(adjacent_pairs(toks, "v", "w")).alias("p"))
          .select("doc_id", "p.v", "p.w"))
    lm2 = bg.groupBy("v", "w").agg(F.count(F.lit(1)).alias("c2"))
    pref = lm2.groupBy("v").agg(F.sum("c2").alias("cv"))
    tok = docs.select(F.explode(toks).alias("w"))
    lm1 = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    total = tok.agg(F.count(F.lit(1)).alias("total_tokens"))
    mixed = (F.lit(BIGRAM_LAMBDA)
             * (F.col("c2").cast("double") / F.col("cv"))
             + F.lit(1.0 - BIGRAM_LAMBDA)
             * (F.col("c1").cast("double") / F.col("total_tokens")))
    scored = (
        lm2.join(pref, "v")
        .join(lm1, "w")
        .join(total)
        .select("v", "w",
                F.round(F.log(mixed), 10).cast("decimal(25,10)")
                .alias("logp")))
    per_doc = (
        bg.join(scored, ["v", "w"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"),
             F.sum("logp").alias("lp_sum")))
    return per_doc.select(
        "doc_id", "n_bigrams",
        F.round(F.col("lp_sum").cast("double") / F.col("n_bigrams"), 6)
        .alias("avg_bigram_logprob"))


BIGRAM_LOGPROB_SQL = f"""
WITH bg AS (
    SELECT doc_id, toks[CAST(i AS INT)] AS v,
           toks[CAST(i AS INT) + 1] AS w
    FROM (SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents),
         unnest(range(1, len(toks))) t(i)
), lm2 AS (
    SELECT v, w, count(*) AS c2 FROM bg GROUP BY v, w
), pref AS (
    SELECT v, CAST(sum(c2) AS BIGINT) AS cv FROM lm2 GROUP BY v
), tok AS (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents
), lm1 AS (SELECT w, count(*) AS c1 FROM tok GROUP BY w),
total AS (SELECT count(*) AS total_tokens FROM tok),
scored AS (
    SELECT lm2.v, lm2.w,
           CAST(round(ln({BIGRAM_LAMBDA!r}
                         * (CAST(c2 AS DOUBLE) / cv)
                         + {1.0 - BIGRAM_LAMBDA!r}
                         * (CAST(c1 AS DOUBLE) / total_tokens)), 10)
                AS DECIMAL(25,10)) AS logp
    FROM lm2
    JOIN pref USING (v) JOIN lm1 USING (w) CROSS JOIN total
)
SELECT doc_id, count(*) AS n_bigrams,
       round(CAST(sum(logp) AS DOUBLE) / count(*), 6)
           AS avg_bigram_logprob
FROM bg JOIN scored USING (v, w)
GROUP BY doc_id
"""


REPETITION_SQL = """
SELECT doc_id, lang,
       len(toks) AS n_tokens,
       (len(bigrams) - len(list_distinct(bigrams)))
           / CAST(len(bigrams) AS DOUBLE) AS dup_bigram_ratio,
       list_max(list_transform(list_distinct(toks),
           t -> len(list_filter(toks, x -> x = t))))
           / CAST(len(toks) AS DOUBLE) AS top_token_share
FROM (
    SELECT doc_id, lang, string_split(text, ' ') AS toks,
           list_transform(range(1, len(string_split(text, ' '))),
               i -> array_to_string(
                   list_slice(string_split(text, ' '), i, i + 1), ' '))
               AS bigrams
    FROM documents)
"""


def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon entropy of the word distribution — a corpus
    quality signal (low entropy = repetitive/templated text, a standard
    pretraining filter alongside ``repetition_ratios``). The entropy
    sum -Σ p·ln p is made order-stable by rounding each term to 10 dp
    and summing exactly in decimal (float accumulation order would
    differ across engines); one tokenize shuffle, map-side combinable.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word"))
    counts = tok.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).alias("cnt"))
    p = (F.col("cnt").cast("double")
         / F.sum("cnt").over(Window.partitionBy("doc_id")))
    probs = counts.select(
        "doc_id", "cnt",
        F.round(p * F.log(p), 10).cast("decimal(25,10)").alias("term"))
    totals = probs.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum("term").alias("neg_h"))
    return totals.select(
        "doc_id", "n_tokens", "n_distinct",
        F.round(-F.col("neg_h").cast("double"), 6).alias("entropy"))


TOKEN_ENTROPY_SQL = """
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word
    FROM documents
), counts AS (
    SELECT doc_id, word, count(*) AS cnt FROM tok GROUP BY doc_id, word
), probs AS (
    SELECT doc_id, cnt,
           CAST(cnt AS DOUBLE) / sum(cnt) OVER (PARTITION BY doc_id) AS p
    FROM counts
)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_tokens,
       count(*) AS n_distinct,
       round(-CAST(sum(CAST(round(p * ln(p), 10) AS DECIMAL(25,10)))
                   AS DOUBLE), 6) AS entropy
FROM probs GROUP BY doc_id
"""


def approx_top_k_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``approx_top_k`` sketch (Spark 4) over the normalized token
    stream — completes the sketch family (HLL distincts, KLL-style
    quantiles, frequent items). With maxItemsTracked >= vocabulary the
    sketched counts are EXACT, so the DuckDB twin is the exact top-20
    by count (oracle-upgraded from rows-only, VERDICT r3 item 8; the
    committed corpus has no tie at the rank-20 boundary at any SF —
    verified in tests — so the selected set is deterministic). The
    100 TB trade-off stands: one pass + bounded sketch memory vs
    word_count's full shuffle."""
    from .inverted_index import tokens

    tok = tokens(spark, sf_dir).select("word")
    return (tok.select(
        F.expr("approx_top_k(word, 20, 131072)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(F.col("e.item").alias("word"),
                F.col("e.count").cast("bigint").alias("n_occurrences")))


APPROX_TOP_K_WORDS_SQL = """
WITH tok AS (
    SELECT regexp_extract(lower(raw), '^[a-z0-9]*', 0) AS word
    FROM (SELECT unnest(string_split(text, ' ')) AS raw FROM documents)
)
SELECT word, count(*) AS n_occurrences
FROM tok WHERE word <> ''
GROUP BY word
ORDER BY n_occurrences DESC, word
LIMIT 20
"""


def unigram_logprob_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filtering, with the KenLM 5-gram model
    replaced by a corpus-trained UNIGRAM language model (the strongest
    LM whose scores stay engine-reproducible): per document, the mean
    token log-probability under the corpus unigram distribution, and
    the head/middle/tail tercile bucket CCNet uses to stage corpus
    quality. Low mean log-prob = rare-token-heavy/noisy text.

    Exactness: each ln(p_w) is rounded to 10 dp and summed in
    DECIMAL(25,10) — the ``token_entropy`` order-stability trick — so
    the per-doc sum is exact and engine-independent despite libm ln.

    Scale: the LM is one map-side-combinable vocab aggregation; the
    corpus total is a 1-row aggregate joined by broadcast (never
    ``collect()``); scoring is a vocab-sized hash join + per-doc
    combinable sum. The tercile uses a global ntile window — fine for
    the manifest-sized doc-score relation here; at 100 TB you compute
    the two cutoffs with approx_percentile and bucket with a map-side
    CASE instead (documented swap, same output contract).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word"))
    lm = tok.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    total = lm.agg(F.sum("cnt").alias("total_tokens"))
    p_w = F.col("cnt").cast("double") / F.col("total_tokens")
    scored_vocab = (
        lm.join(total)
        .select("word",
                F.round(F.log(p_w), 10).cast("decimal(25,10)")
                .alias("logp")))
    per_doc = (
        tok.join(scored_vocab, "word")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"),
             F.sum("logp").alias("logp_sum")))
    avg = F.round(F.col("logp_sum").cast("double") / F.col("n_tokens"), 6)
    w = Window.orderBy(F.col("avg_logprob").desc(), F.col("doc_id"))
    return (
        per_doc.select("doc_id", "n_tokens", avg.alias("avg_logprob"))
        .withColumn("ppl_bucket",
                    F.element_at(
                        F.array(F.lit("head"), F.lit("middle"),
                                F.lit("tail")),
                        F.ntile(3).over(w)))
    )


UNIGRAM_LOGPROB_SQL = """
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word
    FROM documents
), lm AS (
    SELECT word, count(*) AS cnt FROM tok GROUP BY word
), total AS (
    SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens FROM lm
), scored_vocab AS (
    SELECT word,
           CAST(round(ln(CAST(cnt AS DOUBLE) / total_tokens), 10)
                AS DECIMAL(25,10)) AS logp
    FROM lm CROSS JOIN total
), per_doc AS (
    SELECT doc_id, count(*) AS n_tokens, sum(logp) AS logp_sum
    FROM tok JOIN scored_vocab USING (word)
    GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       round(CAST(logp_sum AS DOUBLE) / n_tokens, 6) AS avg_logprob,
       (['head', 'middle', 'tail'])[
           ntile(3) OVER (ORDER BY round(CAST(logp_sum AS DOUBLE)
                                         / n_tokens, 6) DESC, doc_id)]
           AS ppl_bucket
FROM per_doc
"""


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10
# (query_id, term) — fixed two-term queries over the corpus vocabulary.
# Two terms per query also means the per-doc score is a sum of at most
# two floats (commutative even in IEEE), but we still sum in DECIMAL
# for uniformity with the other transcendental-bearing entries.
BM25_QUERIES = (
    (0, "hash"), (0, "join"),
    (1, "window"), (1, "merge"),
    (2, "scan"), (2, "filter"),
)


def _bm25_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-INDEPENDENT BM25 term scoring: one row per (doc_id, word)
    over the query-term vocabulary with the exact decimal per-term
    score ``s`` plus raw ``tf`` and ``dl``. This is the level term
    upper bounds (WAND) live at; every ranker joins it to the query
    table afterwards — ONE definition of the score expression."""
    docs = load_table(spark, sf_dir, "documents")
    terms = sorted({t for _, t in BM25_QUERIES})
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word"))
    dl = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum("dl").alias("total_dl"))
    tf = (tok.filter(F.col("word").isin(terms))
          .groupBy("doc_id", "word")
          .agg(F.count(F.lit(1)).alias("tf")))
    df_ = tf.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    idf_dec = (
        F.round(F.log(F.lit(1.0)
                      + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                      / (F.col("df") + F.lit(0.5))), 10)
        .cast("decimal(25,10)"))
    avgdl = F.col("total_dl").cast("double") / F.col("n_docs")
    denom = (F.col("tf")
             + F.lit(BM25_K1) * (F.lit(1.0 - BM25_B)
                                 + F.lit(BM25_B)
                                 * (F.col("dl") / avgdl)))
    term_score = (
        F.round(F.col("idf").cast("double")
                * (F.col("tf") * F.lit(BM25_K1 + 1.0)) / denom, 10)
        .cast("decimal(25,10)"))
    return (
        tf.join(F.broadcast(df_.join(stats)
                            .select("word", idf_dec.alias("idf"),
                                    "n_docs", "total_dl")), "word")
        .join(dl, "doc_id")
        .select("doc_id", "word", term_score.alias("s"), "tf", "dl"))


def _bm25_queries_df(spark: SparkSession) -> DataFrame:
    return constant_table(spark, BM25_QUERIES, "query_id bigint, word string")


def _bm25_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared BM25 candidate scoring: one row per (query_id, doc_id)
    with the exact decimal BM25 ``score_sum`` plus the raw ``tf_sum``
    and ``dl`` the fusion ranker needs. Candidates = docs containing
    ≥ 1 query term (identical for every ranker built on top)."""
    scored = (_bm25_doc_scores(spark, sf_dir)
              .join(_bm25_queries_df(spark), "word")
              .select("query_id", "doc_id", "s", "tf", "dl"))
    return scored.groupBy("query_id", "doc_id").agg(
        F.sum("s").alias("score_sum"),
        F.sum("tf").alias("tf_sum"),
        F.min("dl").alias("dl"))


def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval over the corpus — the query-time
    counterpart of the flagship inverted index (SURVEY.md §2.3: the
    reference BUILDS the index, mapreduce.c:168-185; this is the
    search that index exists to serve). Standard Robertson/Lucene
    BM25: idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)), tf saturation
    k1=1.2, length normalization b=0.75 against the corpus mean
    document length; top-10 documents per query.

    Exactness: idf carries an ln, so it is pinned via
    round(·,10)→DECIMAL(25,10) (the ``token_entropy`` trick) before
    re-entering float math; everything else is exact-int-derived IEEE
    arithmetic in one written order; per-(query,doc) term scores are
    again decimal-rounded and summed exactly.

    Scale: term frequencies for QUERY TERMS ONLY (the explode filters
    to the tiny term set before any shuffle — at 100 TB the scan is
    the cost, which an inverted-index table or bloom pushdown would
    prune); df/N/avgdl are query-term- and 1-row-sized broadcasts; the
    top-k is a per-query window, never a global sort.
    """
    per_doc = _bm25_per_doc(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_sum").desc(), F.col("doc_id"))
    return (
        per_doc.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= BM25_TOP_K)
        .select("query_id", "doc_id",
                F.round(F.col("score_sum").cast("double"), 6)
                .alias("bm25"), "rank"))


RRF_K = 60       # the standard reciprocal-rank-fusion damping constant
RRF_TOP_K = 10


def rrf_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al.
    2009): fuse two retrieval runs over the same candidate set —
    the BM25 ranking and a term-frequency-density ranking
    (Σ tf / doc_len; the length-normalized boolean/tf retrieval
    baseline) — by ``rrf = 1/(K + rank_a) + 1/(K + rank_b)``,
    K = 60. RRF is THE production fusion rule for hybrid
    lexical+vector search stacks precisely because it needs no score
    calibration, only ranks — swapping ranker B for an ANN cosine
    run (``ann_topk_bruteforce``) leaves this plan shape unchanged.

    Exactness: both input rankings order by exact quantities (decimal
    BM25 sums; tf/dl correctly-rounded int-derived doubles) with
    doc_id tie-breaks; the fused score is two correctly-rounded
    divisions of exact ints summed in one written order, rounded to
    10 dp before the final ordering — bit-identical cross-engine.

    Scale: reuses the single shared candidate aggregation
    (``_bm25_per_doc``); all three row_number windows partition by
    query_id, so Catalyst shares ONE exchange across them; the top-k
    is per-query, never a global sort.
    """
    per_doc = _bm25_per_doc(spark, sf_dir)
    wa = Window.partitionBy("query_id").orderBy(
        F.col("score_sum").desc(), F.col("doc_id"))
    wb = Window.partitionBy("query_id").orderBy(
        (F.col("tf_sum").cast("double") / F.col("dl")).desc(),
        F.col("doc_id"))
    fused = (
        per_doc
        .withColumn("rank_bm25", F.row_number().over(wa))
        .withColumn("rank_tfd", F.row_number().over(wb))
        .withColumn("rrf", F.round(
            F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_bm25"))
            + F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_tfd")), 10)))
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id"))
    return (
        fused.withColumn("fused_rank",
                         F.row_number().over(wf).cast("bigint"))
        .filter(F.col("fused_rank") <= RRF_TOP_K)
        .select("query_id", "doc_id",
                F.round("rrf", 6).alias("rrf_score"),
                F.col("rank_bm25").cast("bigint").alias("rank_bm25"),
                F.col("rank_tfd").cast("bigint").alias("rank_tfd"),
                "fused_rank"))


def _bm25_values_sql() -> str:
    return ", ".join(f"({q}, '{t}')" for q, t in BM25_QUERIES)


_BM25_PREFIX_SQL = f"""
WITH q(query_id, word) AS (VALUES {_bm25_values_sql()}),
tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word
    FROM documents
), dl AS (
    SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
), stats AS (
    SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl
    FROM dl
), tf AS (
    SELECT doc_id, word, count(*) AS tf FROM tok
    WHERE word IN (SELECT DISTINCT word FROM q)
    GROUP BY doc_id, word
), dfs AS (
    SELECT word, count(DISTINCT doc_id) AS df FROM tf GROUP BY word
), idf AS (
    SELECT word,
           CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)), 10)
                AS DECIMAL(25,10)) AS idf,
           n_docs, total_dl
    FROM dfs CROSS JOIN stats
), dscore AS (
    SELECT tf.doc_id, tf.word,
           CAST(round(CAST(i.idf AS DOUBLE)
                      * (tf.tf * {BM25_K1 + 1.0!r})
                      / (tf.tf + {BM25_K1!r}
                         * ({1.0 - BM25_B!r} + {BM25_B!r}
                            * (dl.dl / (CAST(i.total_dl AS DOUBLE)
                                        / i.n_docs)))), 10)
                AS DECIMAL(25,10)) AS s,
           tf.tf AS tf, dl.dl AS dl
    FROM tf
    JOIN idf i USING (word)
    JOIN dl ON dl.doc_id = tf.doc_id
), scored AS (
    SELECT q.query_id, d.doc_id, d.s, d.tf, d.dl
    FROM dscore d JOIN q ON q.word = d.word
), per_doc AS (
    SELECT query_id, doc_id, sum(s) AS score_sum,
           CAST(sum(tf) AS BIGINT) AS tf_sum, min(dl) AS dl
    FROM scored GROUP BY query_id, doc_id
)"""

BM25_TOPK_SQL = f"""{_BM25_PREFIX_SQL}
SELECT query_id, doc_id,
       round(CAST(score_sum AS DOUBLE), 6) AS bm25, rank
FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score_sum DESC, doc_id)
                  AS rank
    FROM per_doc
) WHERE rank <= {BM25_TOP_K}
"""

def wand_upper_bound_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAND-style max-score pruning audit (Broder et al., CIKM 2003 —
    the dominant top-k retrieval optimization in production inverted
    indexes): per query term, the UPPER BOUND of its BM25 contribution
    over all documents; a document whose matched-term upper-bound sum
    falls below θ (the current k-th best true score) can be skipped
    WITHOUT scoring. Per query this reports how many candidates the
    bound would skip, plus ``n_violations`` — candidates inside the
    true top-k that the bound would have skipped, provably zero
    (score ≤ Σ per-term bounds, term by term) and recomputed from
    data, so a bound bug hash-mismatches loudly.

    Exactness: ``s`` and the per-term bounds are the shared decimal-
    pinned BM25 term scores (``_bm25_doc_scores`` — single definition
    of the expression); ``ub_sum``/``score_sum``/θ are exact decimal
    sums; the prune test is a decimal comparison; ``prune_frac`` is
    one pinned double division of exact ints.

    Scale: upper bounds are a query-term-sized combinable agg broadcast
    back into the SAME (query, doc, term) relation that scoring uses
    — everything reduces in ONE (query_id, doc_id) aggregation; θ is
    a per-query window over candidates; lineage is cut at the scored
    relation so the rank and θ consumers don't replay the corpus
    scan. At 100 TB this audit is exactly the statistic an index
    build would persist per posting block.
    """
    ds = truncate_lineage(_bm25_doc_scores(spark, sf_dir))
    ub = ds.groupBy("word").agg(F.max("s").alias("ub"))
    per = truncate_lineage(
        ds.join(_bm25_queries_df(spark), "word")
        .join(F.broadcast(ub), "word")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("s").alias("score_sum"),
             F.sum("ub").alias("ub_sum")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_sum").desc(), F.col("doc_id"))
    ranked = per.withColumn("rank", F.row_number().over(w))
    theta = (ranked.groupBy("query_id")
             .agg(F.max(F.when(F.col("rank") == BM25_TOP_K,
                               F.col("score_sum"))).alias("theta")))
    joined = ranked.join(F.broadcast(theta), "query_id")
    prunable = (F.col("ub_sum") < F.col("theta")).cast("int")
    return (joined.groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_candidates"),
                 F.sum(prunable).cast("bigint").alias("n_prunable"),
                 F.round(F.sum(prunable)
                         / F.count(F.lit(1)).cast("double"), 10)
                 .alias("prune_frac"),
                 F.round(F.max("theta").cast("double"), 6)
                 .alias("theta_bm25"),
                 F.sum((prunable.cast("boolean")
                        & (F.col("rank") <= BM25_TOP_K)).cast("int"))
                 .cast("bigint").alias("n_violations")))


WAND_PRUNING_SQL = f"""{_BM25_PREFIX_SQL},
ub AS (
    SELECT word, max(s) AS ub FROM dscore GROUP BY word
),
per AS (
    SELECT q.query_id, d.doc_id,
           sum(d.s) AS score_sum, sum(u.ub) AS ub_sum
    FROM dscore d JOIN q ON q.word = d.word JOIN ub u ON u.word = d.word
    GROUP BY 1, 2
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score_sum DESC, doc_id) AS rank
    FROM per
),
theta AS (
    SELECT query_id,
           max(CASE WHEN rank = {BM25_TOP_K} THEN score_sum END) AS theta
    FROM ranked GROUP BY query_id
)
SELECT r.query_id,
       count(*) AS n_candidates,
       CAST(sum(CASE WHEN r.ub_sum < t.theta THEN 1 ELSE 0 END)
            AS BIGINT) AS n_prunable,
       round(sum(CASE WHEN r.ub_sum < t.theta THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 10) AS prune_frac,
       round(CAST(max(t.theta) AS DOUBLE), 6) AS theta_bm25,
       CAST(sum(CASE WHEN r.ub_sum < t.theta
                      AND r.rank <= {BM25_TOP_K}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
FROM ranked r JOIN theta t USING (query_id)
GROUP BY r.query_id
"""


RRF_FUSION_SQL = f"""{_BM25_PREFIX_SQL},
ranked AS (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score_sum DESC, doc_id)
               AS rank_bm25,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY CAST(tf_sum AS DOUBLE) / dl DESC,
                                       doc_id)
               AS rank_tfd
    FROM per_doc
), fused AS (
    SELECT query_id, doc_id, rank_bm25, rank_tfd,
           round(CAST(1 AS DOUBLE) / ({RRF_K} + rank_bm25)
                 + CAST(1 AS DOUBLE) / ({RRF_K} + rank_tfd), 10) AS rrf
    FROM ranked
)
SELECT query_id, doc_id, round(rrf, 6) AS rrf_score,
       CAST(rank_bm25 AS BIGINT) AS rank_bm25,
       CAST(rank_tfd AS BIGINT) AS rank_tfd, fused_rank
FROM (
    SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                      ORDER BY rrf DESC, doc_id)
                   AS BIGINT) AS fused_rank
    FROM fused
) WHERE fused_rank <= {RRF_TOP_K}
"""


HYBRID_POOL = 20   # per-run candidate pool fed into the fusion
HYBRID_TOP_K = 10
HYBRID_RRF_K = 60


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical + dense retrieval — THE production search stack
    shape (a BM25 run and an embedding-cosine run fused with
    reciprocal-rank fusion, Cormack et al. 2009): for each query id,
    take the top-``HYBRID_POOL`` documents from (a) the BM25 term
    ranking and (b) exact cosine against the query's embedding over
    the shared doc_id = vec_id key space, full-outer-join the two
    runs, and score ``rrf = Σ 1/(K + rank)`` over whichever ranks are
    present. This is the cross-modal upgrade ``rrf_fusion_topk``'s
    docstring promises: ranker B really is the ANN run here, and the
    fusion needs only ranks, never calibrated scores.

    Exactness: the BM25 side is the shared decimal-pinned candidate
    aggregation; the cosine kernel is the bit-exact expression fold
    the ANN family oracle-matches; each reciprocal is one
    correctly-rounded division and the (≤ 2)-term sum is one written
    order, rounded to 10 dp before the fused ranking.

    Scale: both runs end in per-query top-``HYBRID_POOL`` windows, so
    the fusion join touches ≤ 2·POOL rows per query regardless of
    corpus size; the dense run broadcasts the |queries| embedding
    rows against the candidate scan exactly like
    ``ann_topk_bruteforce`` (swap in the IVF/LSH variant for the
    100 TB path — the fusion is rank-only and does not change).
    """
    from ..functions.vectors import dot, l2_norm

    per_doc = _bm25_per_doc(spark, sf_dir)
    wl = Window.partitionBy("query_id").orderBy(
        F.col("score_sum").desc(), F.col("doc_id"))
    lex = (per_doc.withColumn("rank_lex", F.row_number().over(wl))
           .filter(F.col("rank_lex") <= HYBRID_POOL)
           .select("query_id", "doc_id", "rank_lex"))
    qids = sorted({q for q, _ in BM25_QUERIES})
    emb = load_embeddings_parallel(spark, sf_dir)
    q = (emb.filter(F.col("vec_id").isin(qids))
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_emb"),
                 l2_norm("embedding").alias("query_nrm")))
    scored = (
        emb.withColumn("nrm", l2_norm("embedding"))
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_sim",
                    dot("embedding", "query_emb")
                    / (F.col("nrm") * F.col("query_nrm"))))
    wd = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id"))
    den = (scored.withColumn("rank_dense", F.row_number().over(wd))
           .filter(F.col("rank_dense") <= HYBRID_POOL)
           .select("query_id", F.col("vec_id").alias("doc_id"),
                   "rank_dense"))
    fused = (
        lex.join(den, ["query_id", "doc_id"], "full_outer")
        .withColumn("rrf", F.round(
            F.coalesce(F.lit(1.0) / (F.lit(HYBRID_RRF_K)
                                     + F.col("rank_lex")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(HYBRID_RRF_K)
                                       + F.col("rank_dense")),
                         F.lit(0.0)), 10)))
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id"))
    return (
        fused.withColumn("fused_rank",
                         F.row_number().over(wf).cast("bigint"))
        .filter(F.col("fused_rank") <= HYBRID_TOP_K)
        .select("query_id", "doc_id",
                F.round("rrf", 6).alias("rrf_score"),
                F.col("rank_lex").cast("bigint").alias("rank_lex"),
                F.col("rank_dense").cast("bigint").alias("rank_dense"),
                "fused_rank"))


HYBRID_SEARCH_SQL = f"""{_BM25_PREFIX_SQL},
lex AS (
    SELECT query_id, doc_id, rank_lex FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score_sum DESC, doc_id)
                   AS rank_lex
        FROM per_doc
    ) WHERE rank_lex <= {HYBRID_POOL}
), qe AS (
    SELECT vec_id AS query_id, embedding AS query_emb
    FROM embeddings
    WHERE vec_id IN (SELECT DISTINCT query_id FROM q)
), den AS (
    SELECT query_id, doc_id, rank_dense FROM (
        SELECT qe.query_id, e.vec_id AS doc_id,
               row_number() OVER (
                   PARTITION BY qe.query_id
                   ORDER BY list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]),
                       CAST(qe.query_emb AS DOUBLE[])) DESC, e.vec_id)
                   AS rank_dense
        FROM embeddings e, qe
        WHERE e.vec_id <> qe.query_id
    ) WHERE rank_dense <= {HYBRID_POOL}
), fused AS (
    SELECT coalesce(lex.query_id, den.query_id) AS query_id,
           coalesce(lex.doc_id, den.doc_id) AS doc_id,
           lex.rank_lex, den.rank_dense,
           round(coalesce(CAST(1 AS DOUBLE)
                          / ({HYBRID_RRF_K} + lex.rank_lex), 0.0)
                 + coalesce(CAST(1 AS DOUBLE)
                            / ({HYBRID_RRF_K} + den.rank_dense), 0.0),
                 10) AS rrf
    FROM lex FULL OUTER JOIN den
      ON lex.query_id = den.query_id AND lex.doc_id = den.doc_id
)
SELECT query_id, doc_id, round(rrf, 6) AS rrf_score,
       CAST(rank_lex AS BIGINT) AS rank_lex,
       CAST(rank_dense AS BIGINT) AS rank_dense, fused_rank
FROM (
    SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                      ORDER BY rrf DESC, doc_id)
                   AS BIGINT) AS fused_rank
    FROM fused
) WHERE fused_rank <= {HYBRID_TOP_K}
"""


MMR_LAMBDA = 0.5   # relevance/diversity mix; power of two ⇒ exact
MMR_POOL = 10      # BM25 candidates per query entering the rerank
MMR_SELECT = 3     # greedy selections (unrolled — a spec, not a loop)


def mmr_diversified_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversified reranking (Carbonell &
    Goldstein 1998): from each query's BM25 top-``MMR_POOL``, greedily
    pick ``MMR_SELECT`` documents maximizing
    λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s) — the classic
    redundancy-killing rerank between retrieval and an LLM context
    window. rel = the exact decimal BM25 score; sim = Jaccard over
    distinct token sets (exact integer rational); λ = 1/2.

    The greedy recurrence is UNROLLED to its 3 fixed steps (the
    ``pagerank`` oracle discipline): step 1 is argmax rel; steps 2-3
    join the shrinking remainder against the selected set's pairwise
    similarities and re-argmax — each step one window over ≤ POOL
    rows per query. Scores are round(·,10)-pinned before every argmax
    and ties break on doc_id, so selection is engine-deterministic.

    Scale: everything after the BM25 ranking operates on POOL-sized
    per-query relations (the pairwise-sim self-join is POOL² ≤ 100
    rows per query, an equi-join on query_id) — rerank cost is
    independent of corpus size by construction, which is the whole
    point of pool-then-rerank architectures.
    """
    per_doc = _bm25_per_doc(spark, sf_dir)
    wl = Window.partitionBy("query_id").orderBy(
        F.col("score_sum").desc(), F.col("doc_id"))
    # pool and sims are POOL- and POOL²-per-query sized and consumed
    # by every unrolled step — lineage-cut them once or each of the 7
    # downstream references replays the BM25 aggregation and the
    # corpus scan (68 FileScans in the un-cut static plan, 2 cut)
    pool = truncate_lineage(
        per_doc.withColumn("r", F.row_number().over(wl))
        .filter(F.col("r") <= MMR_POOL)
        .select("query_id", "doc_id",
                F.col("score_sum").cast("double").alias("rel")))
    docs = load_table(spark, sf_dir, "documents")
    tsets = docs.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("ts"))
    pool_t = tsets.join(F.broadcast(pool), "doc_id")
    a = pool_t.select("query_id", F.col("doc_id").alias("doc_a"),
                      F.col("ts").alias("ts_a"))
    b = pool_t.select("query_id", F.col("doc_id").alias("doc_b"),
                      F.col("ts").alias("ts_b"))
    shared = F.size(F.array_intersect("ts_a", "ts_b"))
    sims = truncate_lineage(
        a.join(F.broadcast(b), "query_id")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("query_id", "doc_a", "doc_b",
                (shared / (F.size("ts_a") + F.size("ts_b") - shared))
                .alias("sim")))
    lam = F.lit(MMR_LAMBDA)

    def argmax(scored: DataFrame) -> DataFrame:
        w = Window.partitionBy("query_id").orderBy(
            F.col("mmr").desc(), F.col("doc_id"))
        return (scored.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("query_id", "doc_id", "mmr"))

    # step 1: empty selected set — argmax λ·rel
    s1 = argmax(pool.select(
        "query_id", "doc_id",
        F.round(lam * F.col("rel"), 10).alias("mmr")))
    # step 2: redundancy vs s1
    rem1 = pool.join(F.broadcast(s1.select(
                   "query_id", F.col("doc_id").alias("sel1"))),
                     "query_id") \
               .filter(F.col("doc_id") != F.col("sel1"))
    s2 = argmax(
        rem1.join(F.broadcast(sims.select(
                      "query_id", F.col("doc_a").alias("doc_id"),
                      F.col("doc_b").alias("sel1"),
                      F.col("sim").alias("sim1"))),
                  ["query_id", "doc_id", "sel1"])
        .select("query_id", "doc_id",
                F.round(lam * F.col("rel")
                        - (F.lit(1.0) - lam) * F.col("sim1"), 10)
                .alias("mmr")))
    # step 3: redundancy vs {s1, s2} — max of the two sims
    rem2 = (rem1.join(F.broadcast(s2.select(
                      "query_id", F.col("doc_id").alias("sel2"))),
                      "query_id")
            .filter(F.col("doc_id") != F.col("sel2")))
    s3 = argmax(
        rem2
        .join(F.broadcast(sims.select(
                  "query_id", F.col("doc_a").alias("doc_id"),
                  F.col("doc_b").alias("sel1"),
                  F.col("sim").alias("sim1"))),
              ["query_id", "doc_id", "sel1"])
        .join(F.broadcast(sims.select(
                  "query_id", F.col("doc_a").alias("doc_id"),
                  F.col("doc_b").alias("sel2"),
                  F.col("sim").alias("sim2"))),
              ["query_id", "doc_id", "sel2"])
        .select("query_id", "doc_id",
                F.round(lam * F.col("rel")
                        - (F.lit(1.0) - lam)
                        * F.greatest("sim1", "sim2"), 10)
                .alias("mmr")))
    out = (s1.withColumn("mmr_rank", F.lit(1))
           .unionByName(s2.withColumn("mmr_rank", F.lit(2)))
           .unionByName(s3.withColumn("mmr_rank", F.lit(3))))
    return out.select(
        "query_id", "doc_id",
        F.round("mmr", 6).alias("mmr_score"),
        F.col("mmr_rank").cast("bigint").alias("mmr_rank"))


MMR_RERANK_SQL = f"""{_BM25_PREFIX_SQL},
pool AS (
    SELECT query_id, doc_id, CAST(score_sum AS DOUBLE) AS rel FROM (
        SELECT query_id, doc_id, score_sum,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score_sum DESC, doc_id) AS r
        FROM per_doc
    ) WHERE r <= {MMR_POOL}
), tsets AS (
    SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts
    FROM documents
), sims AS (
    SELECT a.query_id, a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_intersect(ta.ts, tb.ts))
           / CAST(len(ta.ts) + len(tb.ts)
                  - len(list_intersect(ta.ts, tb.ts)) AS DOUBLE) AS sim
    FROM pool a
    JOIN pool b ON a.query_id = b.query_id AND a.doc_id <> b.doc_id
    JOIN tsets ta ON ta.doc_id = a.doc_id
    JOIN tsets tb ON tb.doc_id = b.doc_id
), s1 AS (
    SELECT query_id, doc_id, mmr FROM (
        SELECT query_id, doc_id,
               round({MMR_LAMBDA!r} * rel, 10) AS mmr,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY round({MMR_LAMBDA!r} * rel,
                                                 10) DESC, doc_id) AS rn
        FROM pool
    ) WHERE rn = 1
), s2 AS (
    SELECT query_id, doc_id, mmr FROM (
        SELECT p.query_id, p.doc_id,
               round({MMR_LAMBDA!r} * p.rel
                     - {1.0 - MMR_LAMBDA!r} * s.sim, 10) AS mmr,
               row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY round({MMR_LAMBDA!r} * p.rel
                                  - {1.0 - MMR_LAMBDA!r} * s.sim, 10)
                            DESC, p.doc_id) AS rn
        FROM pool p
        JOIN s1 ON s1.query_id = p.query_id
               AND p.doc_id <> s1.doc_id
        JOIN sims s ON s.query_id = p.query_id
                   AND s.doc_a = p.doc_id AND s.doc_b = s1.doc_id
    ) WHERE rn = 1
), s3 AS (
    SELECT query_id, doc_id, mmr FROM (
        SELECT p.query_id, p.doc_id,
               round({MMR_LAMBDA!r} * p.rel
                     - {1.0 - MMR_LAMBDA!r}
                       * greatest(x.sim, y.sim), 10) AS mmr,
               row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY round({MMR_LAMBDA!r} * p.rel
                                  - {1.0 - MMR_LAMBDA!r}
                                    * greatest(x.sim, y.sim), 10)
                            DESC, p.doc_id) AS rn
        FROM pool p
        JOIN s1 ON s1.query_id = p.query_id
               AND p.doc_id <> s1.doc_id
        JOIN s2 ON s2.query_id = p.query_id
               AND p.doc_id <> s2.doc_id
        JOIN sims x ON x.query_id = p.query_id
                   AND x.doc_a = p.doc_id AND x.doc_b = s1.doc_id
        JOIN sims y ON y.query_id = p.query_id
                   AND y.doc_a = p.doc_id AND y.doc_b = s2.doc_id
    ) WHERE rn = 1
)
SELECT query_id, doc_id, round(mmr, 6) AS mmr_score,
       CAST(mmr_rank AS BIGINT) AS mmr_rank
FROM (
    SELECT query_id, doc_id, mmr, 1 AS mmr_rank FROM s1
    UNION ALL
    SELECT query_id, doc_id, mmr, 2 AS mmr_rank FROM s2
    UNION ALL
    SELECT query_id, doc_id, mmr, 3 AS mmr_rank FROM s3
)
"""


QL_MU = 100.0    # Dirichlet smoothing mass (μ); ~ mean doc length here
QL_TOP_K = 10


def query_likelihood_dirichlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet-prior smoothing (Zhai
    & Lafferty 2004) — the language-modeling counterpart of
    ``bm25_topk_docs`` over the same fixed query set:
    score(q, d) = Σ_{t∈q} ln((tf(t,d) + μ·P(t|C)) / (|d| + μ)),
    P(t|C) = collection term frequency / total tokens, μ = 100.

    Unlike BM25, a candidate document is scored on EVERY query term —
    a missing term contributes the smoothed background mass, not zero
    — so the plan builds the (candidate doc × query term) grid with a
    left join against the term-frequency relation. Candidates are
    still docs matching ≥ 1 term (the standard top-k restriction; the
    background-only score of a no-term doc is a constant per length
    and cannot enter a top-10 over matching docs of similar length).

    Exactness: tf, dl, cf, total are exact integers; the smoothed
    ratio is 4 correctly-rounded double ops in one written order; each
    per-term ln is round(·,10)-pinned to DECIMAL(25,10) before the
    per-(query, doc) sum (the ``token_entropy`` trick).

    Scale: cf/total live in a broadcast filtered to query terms; the
    grid is |candidates|×|terms| — candidate lists are df-bounded
    exactly like BM25's postings; one combinable aggregation per
    (query, doc); top-k is a per-query window, never a global sort.
    """
    per_doc = _ql_per_doc(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(
        F.col("ql_sum").desc(), F.col("doc_id"))
    return (
        per_doc.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= QL_TOP_K)
        .select("query_id", "doc_id",
                F.round(F.col("ql_sum").cast("double"), 6)
                .alias("ql_score"), "rank"))


def _ql_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared Dirichlet query-likelihood candidate scoring: one row per
    (query_id, doc_id) with the exact decimal ``ql_sum``. Candidates =
    docs containing ≥ 1 query term — the SAME set ``_bm25_per_doc``
    produces, which is what makes the rank-correlation audit a
    like-for-like comparison."""
    docs = load_table(spark, sf_dir, "documents")
    terms = sorted({t for _, t in BM25_QUERIES})
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word"))
    dl = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("dl"))
    total = tok.agg(F.count(F.lit(1)).alias("total_tokens"))
    cf = (tok.filter(F.col("word").isin(terms))
          .groupBy("word").agg(F.count(F.lit(1)).alias("cf")))
    tf = (tok.filter(F.col("word").isin(terms))
          .groupBy("doc_id", "word")
          .agg(F.count(F.lit(1)).alias("tf")))
    qdf = _bm25_queries_df(spark)
    cands = (tf.join(qdf, "word")
             .select("query_id", "doc_id").distinct())
    grid = cands.join(qdf, "query_id")
    p_bg = F.lit(QL_MU) * (F.col("cf").cast("double")
                           / F.col("total_tokens"))
    logp = (
        F.round(F.log((F.coalesce(F.col("tf"), F.lit(0)) + p_bg)
                      / (F.col("dl") + F.lit(QL_MU))), 10)
        .cast("decimal(25,10)"))
    scored = (
        grid.join(tf, ["doc_id", "word"], "left")
        .join(F.broadcast(cf.join(total)), "word")
        .join(dl, "doc_id")
        .select("query_id", "doc_id", logp.alias("logp")))
    return scored.groupBy("query_id", "doc_id").agg(
        F.sum("logp").alias("ql_sum"))


_QL_PREFIX_SQL = f"""
WITH q(query_id, word) AS (VALUES {{values}}),
tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word
    FROM documents
), dl AS (
    SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
), total AS (SELECT count(*) AS total_tokens FROM tok),
cf AS (
    SELECT word, count(*) AS cf FROM tok
    WHERE word IN (SELECT DISTINCT word FROM q) GROUP BY word
), tf AS (
    SELECT doc_id, word, count(*) AS tf FROM tok
    WHERE word IN (SELECT DISTINCT word FROM q)
    GROUP BY doc_id, word
), cands AS (
    SELECT DISTINCT q.query_id, tf.doc_id
    FROM tf JOIN q USING (word)
), grid AS (
    SELECT c.query_id, c.doc_id, q.word
    FROM cands c JOIN q USING (query_id)
), scored AS (
    SELECT g.query_id, g.doc_id,
           CAST(round(ln((coalesce(tf.tf, 0)
                          + {QL_MU!r} * (CAST(cf.cf AS DOUBLE)
                                         / total.total_tokens))
                         / (dl.dl + {QL_MU!r})), 10)
                AS DECIMAL(25,10)) AS logp
    FROM grid g
    LEFT JOIN tf ON tf.doc_id = g.doc_id AND tf.word = g.word
    JOIN cf ON cf.word = g.word
    JOIN dl ON dl.doc_id = g.doc_id
    CROSS JOIN total
), per_doc AS (
    SELECT query_id, doc_id, sum(logp) AS ql_sum
    FROM scored GROUP BY query_id, doc_id
)"""

QUERY_LIKELIHOOD_SQL = f"""{_QL_PREFIX_SQL.format(
    values=_bm25_values_sql())}
SELECT query_id, doc_id,
       round(CAST(ql_sum AS DOUBLE), 6) AS ql_score, rank
FROM (
    SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                      ORDER BY ql_sum DESC, doc_id)
                   AS BIGINT) AS rank
    FROM per_doc
) WHERE rank <= {QL_TOP_K}
"""


ROCCHIO_R = 3    # pseudo-relevant docs per query (BM25 top-R)
ROCCHIO_E = 3    # expansion terms returned per query


def rocchio_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (Rocchio 1971, the
    PRF step of classic probabilistic retrieval): take each query's
    BM25 top-``ROCCHIO_R`` documents as pseudo-relevant, score every
    term they contain by the Rocchio centroid weight
    Σ_{d∈R} tf(t,d)·idf(t) with idf = ln((N+1)/(df+1)), drop the
    original query terms, and return the top-``ROCCHIO_E`` expansion
    terms per query — the terms a second retrieval pass would add.

    Exactness: idf is round(·,10)→DECIMAL(25,10)-pinned, tf is int,
    so each weight is an exact decimal sum of decimal×int products;
    ranking ties break on the term string.

    Scale: reuses the shared BM25 candidate aggregation for the
    feedback ranking; the R-doc set is tiny per query (broadcast into
    the token join); df is one vocab-sized combinable aggregation (a
    100 TB corpus still has a bounded vocabulary); the final top-E is
    a per-query window.
    """
    per_doc = _bm25_per_doc(spark, sf_dir)
    wa = Window.partitionBy("query_id").orderBy(
        F.col("score_sum").desc(), F.col("doc_id"))
    rel = (per_doc.withColumn("r", F.row_number().over(wa))
           .filter(F.col("r") <= ROCCHIO_R)
           .select("query_id", "doc_id"))
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    dfs = tok.distinct().groupBy("word").agg(
        F.count(F.lit(1)).alias("df"))
    idf = (
        dfs.join(n_docs)
        .select("word",
                F.round(F.log((F.col("n_docs") + F.lit(1.0))
                              / (F.col("df") + F.lit(1.0))), 10)
                .cast("decimal(25,10)").alias("idf")))
    qdf = _bm25_queries_df(spark)
    weights = (
        tok.join(F.broadcast(rel), "doc_id")
        .groupBy("query_id", "word")
        .agg(F.count(F.lit(1)).alias("tf_sum"))
        .join(qdf.withColumn("is_q", F.lit(1)),
              ["query_id", "word"], "left")
        .filter(F.col("is_q").isNull())
        .join(idf, "word")
        .select("query_id", "word",
                (F.col("tf_sum") * F.col("idf")).alias("w")))
    we = Window.partitionBy("query_id").orderBy(
        F.col("w").desc(), F.col("word"))
    return (
        weights.withColumn("term_rank",
                           F.row_number().over(we).cast("bigint"))
        .filter(F.col("term_rank") <= ROCCHIO_E)
        .select("query_id", F.col("word").alias("term"),
                F.round(F.col("w").cast("double"), 6)
                .alias("rocchio_weight"), "term_rank"))


ROCCHIO_PRF_SQL = f"""{_BM25_PREFIX_SQL},
rel AS (
    SELECT query_id, doc_id FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score_sum DESC, doc_id) AS r
        FROM per_doc
    ) WHERE r <= {ROCCHIO_R}
), nd AS (SELECT count(*) AS n_docs FROM documents),
dfs_all AS (
    SELECT word, count(DISTINCT doc_id) AS df FROM tok GROUP BY word
), idf_all AS (
    SELECT word,
           CAST(round(ln((n_docs + 1.0) / (df + 1.0)), 10)
                AS DECIMAL(25,10)) AS idf
    FROM dfs_all CROSS JOIN nd
), weights AS (
    SELECT r.query_id, t.word, count(*) * any_value(i.idf) AS w
    FROM tok t
    JOIN rel r ON r.doc_id = t.doc_id
    JOIN idf_all i ON i.word = t.word
    WHERE NOT EXISTS (SELECT 1 FROM q
                      WHERE q.query_id = r.query_id
                        AND q.word = t.word)
    GROUP BY r.query_id, t.word
)
SELECT query_id, word AS term,
       round(CAST(w AS DOUBLE), 6) AS rocchio_weight, term_rank
FROM (
    SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                      ORDER BY w DESC, word)
                   AS BIGINT) AS term_rank
    FROM weights
) WHERE term_rank <= {ROCCHIO_E}
"""


CMS_DEPTH = 4    # independent hash rows
CMS_WIDTH = 64   # buckets per row (small so collisions are visible)
CMS_TOP = 20     # report the sketch estimate for the top-20 words


def count_min_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over the corpus word stream, reported against
    ground truth: build a DEPTH×WIDTH integer counter matrix, then for
    the top-``CMS_TOP`` words emit the exact count, the CMS estimate
    (min over rows of the hashed bucket), and the overshoot. The CMS
    is THE mergeable heavy-hitter sketch for streams/shards — counters
    are plain sums, so shard sketches union by addition; unlike the
    engine-internal `hll_sketch_users`/`approx_top_k_words` sketches
    this one is built from first principles with md5 row-hashes, so it
    is deterministic and fully oracle-checkable (the first
    exactly-verified sketch in the family).

    Scale: one explode + ONE combinable groupBy builds all DEPTH rows
    (the depth fan-out is an in-row array explode, ×DEPTH records but
    map-side combinable into ≤ DEPTH×WIDTH groups); the matrix is
    DEPTH×WIDTH rows broadcast to the probe side. Overshoot ≥ 0 by
    construction (CMS never undercounts).

    Hash contract: bucket_i(w) = conv(md5(i || ':' || w)[:15], 16, 10)
    % WIDTH — Spark `conv` ≡ DuckDB `('0x'||substr)::BIGINT` (the
    minhash-proven identity, dedup.py).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word"))

    def bucket(i: int, word_col) -> F.Column:
        h = F.md5(F.concat(F.lit(f"{i}:"), word_col))
        return (F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
                % CMS_WIDTH)

    cells = F.array(*[
        F.struct(F.lit(i).alias("row"),
                 bucket(i, F.col("word")).alias("bucket"))
        for i in range(CMS_DEPTH)])
    sketch = (tok.select(F.explode(cells).alias("c"))
              .groupBy(F.col("c.row").alias("row"),
                       F.col("c.bucket").alias("bucket"))
              .agg(F.count(F.lit(1)).alias("cnt")))
    top = (tok.groupBy("word").agg(F.count(F.lit(1)).alias("exact_count"))
           .orderBy(F.col("exact_count").desc(), "word").limit(CMS_TOP))
    probes = top.select(
        "word", "exact_count",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("row"),
                     bucket(i, F.col("word")).alias("bucket"))
            for i in range(CMS_DEPTH)])).alias("p"))
    return (
        probes.join(F.broadcast(sketch),
                    (F.col("p.row") == F.col("row"))
                    & (F.col("p.bucket") == F.col("bucket")))
        .groupBy("word", "exact_count")
        .agg(F.min("cnt").alias("cms_estimate"))
        .select("word", "exact_count", "cms_estimate",
                (F.col("cms_estimate") - F.col("exact_count"))
                .alias("overshoot")))


def _cms_cells_sql(col: str) -> str:
    parts = []
    for i in range(CMS_DEPTH):
        parts.append(
            f"struct_pack(rw := {i}, bucket := "
            f"('0x' || substr(md5('{i}:' || {col}), 1, 15))::BIGINT "
            f"% {CMS_WIDTH})")
    return "[" + ", ".join(parts) + "]"


COUNT_MIN_WORDS_SQL = f"""
WITH tok AS (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents
), cells AS (
    SELECT unnest({_cms_cells_sql('word')}, recursive := true) FROM tok
), sketch AS (
    SELECT rw, bucket, count(*) AS cnt FROM cells GROUP BY rw, bucket
), top AS (
    SELECT word, count(*) AS exact_count FROM tok GROUP BY word
    ORDER BY exact_count DESC, word LIMIT {CMS_TOP}
), probes AS (
    SELECT word, exact_count,
           unnest({_cms_cells_sql('word')}, recursive := true)
    FROM top
)
SELECT p.word, p.exact_count,
       CAST(min(s.cnt) AS BIGINT) AS cms_estimate,
       CAST(min(s.cnt) - p.exact_count AS BIGINT) AS overshoot
FROM probes p JOIN sketch s ON p.rw = s.rw AND p.bucket = s.bucket
GROUP BY p.word, p.exact_count
"""


NOVELTY_K = 3   # word n-gram order for the novelty curve


def ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity-saturation curve — the data-scaling diagnostic
    ("is the next shard adding anything new?"): processing documents
    in doc_id order, for each doc the number of word-trigram TYPES it
    introduces (never seen in any earlier doc), the cumulative unique
    trigram count so far, and the doc's novelty rate (introduced /
    its own distinct trigrams). A flattening curve means additional
    data is repeating the corpus — the signal dedup-then-stop
    pipelines act on.

    Spark-first shape: "first introduction" is min(doc_id) per gram —
    ONE combinable aggregation over the exploded grams, no ordered
    scan of the corpus; the running total is then a window over the
    DOC-LEVEL relation (one row per doc — trivially small relative to
    the corpus at any scale; the global window is over doc manifests,
    not grams).

    Exactness: counts are integers; novelty_rate is one
    correctly-rounded division.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    m = F.greatest(F.size(toks) - (NOVELTY_K - 1), F.lit(0))
    tri = F.transform(
        F.sequence(F.lit(1), F.size(toks)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, NOVELTY_K)))
    grams = (docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.slice(tri, 1, m))).alias("gram")))
    per_doc_grams = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_distinct_grams"))
    intro = (grams.groupBy("gram")
             .agg(F.min("doc_id").alias("doc_id"))
             .groupBy("doc_id")
             .agg(F.count(F.lit(1)).alias("n_introduced")))
    base = (docs.select("doc_id")
            .join(intro, "doc_id", "left")
            .join(per_doc_grams, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_introduced", F.lit(0)).alias("n_introduced"),
                    F.coalesce("n_distinct_grams", F.lit(0))
                    .alias("n_distinct_grams")))
    w = (Window.orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return base.select(
        "doc_id", "n_introduced",
        F.sum("n_introduced").over(w).alias("cum_unique"),
        F.when(F.col("n_distinct_grams") > 0,
               F.round(F.col("n_introduced").cast("double")
                       / F.col("n_distinct_grams").cast("double"), 6))
        .alias("novelty_rate"))


NGRAM_NOVELTY_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), grams AS (
    SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, greatest(len(t) - {NOVELTY_K - 2}, 1)),
                   i -> array_to_string(t[i:i+{NOVELTY_K - 1}], ' ')))
                   AS gram
        FROM toks)
), per_doc AS (
    SELECT doc_id, count(*) AS n_distinct_grams FROM grams GROUP BY doc_id
), intro AS (
    SELECT doc_id, count(*) AS n_introduced FROM (
        SELECT gram, min(doc_id) AS doc_id FROM grams GROUP BY gram
    ) GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(i.n_introduced, 0) AS n_introduced,
       CAST(sum(COALESCE(i.n_introduced, 0)) OVER (
           ORDER BY d.doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_unique,
       CASE WHEN COALESCE(p.n_distinct_grams, 0) > 0
            THEN round(CAST(COALESCE(i.n_introduced, 0) AS DOUBLE)
                       / CAST(p.n_distinct_grams AS DOUBLE), 6)
       END AS novelty_rate
FROM (SELECT doc_id FROM documents) d
LEFT JOIN intro i USING (doc_id)
LEFT JOIN per_doc p USING (doc_id)
"""


def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a query — the confusion matrix of
    ``lang_id_heuristic``'s predictions against the declared labels:
    one row per (declared, predicted) pair with its count, the share
    of the declared language it represents, and a correct flag. The
    model-eval analytic (precision/recall derive from these cells)
    every curation pipeline runs on its quality/language classifiers;
    composing the standalone classifier entry verbatim makes this a
    cross-operator consistency proof like ``pretrain_curation_report``.

    Scale: the classifier is per-row expressions (zero shuffle); the
    matrix aggregation is combinable into ≤ |langs|² groups; the share
    is a window over those rows. Exactness: counts are integers,
    share is one correctly-rounded division.
    """
    pred = lang_id_heuristic(spark, sf_dir)
    cells = (pred.groupBy("declared_lang", "pred_lang")
             .agg(F.count(F.lit(1)).alias("n")))
    total = F.sum("n").over(Window.partitionBy("declared_lang"))
    return cells.select(
        "declared_lang", "pred_lang", "n",
        F.round(F.col("n").cast("double") / total.cast("double"), 6)
        .alias("share"),
        F.when(F.col("declared_lang") == F.col("pred_lang"), 1)
        .otherwise(0).cast("bigint").alias("correct"))


LANG_CONFUSION_SQL = f"""
WITH pred AS ({LANG_ID_SQL}),
cells AS (
    SELECT declared_lang, pred_lang, count(*) AS n
    FROM pred GROUP BY 1, 2
)
SELECT declared_lang, pred_lang, n,
       round(CAST(n AS DOUBLE)
             / CAST(sum(n) OVER (PARTITION BY declared_lang) AS DOUBLE),
             6) AS share,
       CAST(CASE WHEN declared_lang = pred_lang THEN 1 ELSE 0 END
            AS BIGINT) AS correct
FROM cells
"""


SKIP_WINDOW = 2      # co-occurrence window: positions 1..K apart
SKIP_MIN_COUNT = 5   # drop pairs rarer than this


def skipgram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence counts with PMI — the word2vec/GloVe
    training-data statistic: unordered word pairs within
    ``SKIP_WINDOW`` positions of each other, their co-occurrence
    count, and pointwise mutual information
    ``ln((c_ab/T) / ((c_a/N)·(c_b/N)))``. Extends ``bigram_counts``
    (adjacent-only) to windowed context; high-PMI pairs are the
    collocations embedding objectives are built on.

    Scale: the window join is the SHIFT-EXPLODE trick — each token
    emits ``SKIP_WINDOW`` shifted (doc, pos+d) keys, turning the
    positional range join into a pure equi-join on (doc_id, pos)
    (the ``count_min_words`` cell trick); pair counts are combinable;
    the unigram sides are vocabulary-sized equi-joins whose strategy
    the planner picks; the totals are 1-row relations.

    Exactness: all counts integer; the PMI ratio is fixed-order
    correctly-rounded double ops into one ln, rounded to 6 dp (the
    ``tfidf_top_terms`` contract — the value is reported, never
    ranked, so a 1-ulp ln divergence under the rounding boundary is
    the only risk, identical to every ln-bearing green entry).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word"))
    offsets = F.array(*[F.lit(d) for d in range(1, SKIP_WINDOW + 1)])
    left = (tok.withColumn("d", F.explode(offsets))
            .select("doc_id", F.col("word").alias("w1"),
                    (F.col("pos") + F.col("d")).alias("pos2")))
    right = tok.select("doc_id", F.col("pos").alias("pos2"),
                       F.col("word").alias("w2"))
    pairs = left.join(right, ["doc_id", "pos2"]).select(
        F.least("w1", "w2").alias("wa"),
        F.greatest("w1", "w2").alias("wb"))
    cab = pairs.groupBy("wa", "wb").agg(F.count(F.lit(1)).alias("c_ab"))
    tot = pairs.agg(F.count(F.lit(1)).alias("t_pairs"))
    uni = tok.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    n = tok.agg(F.count(F.lit(1)).alias("n_tokens"))
    p_ab = F.col("c_ab").cast("double") / F.col("t_pairs").cast("double")
    p_a = F.col("ca").cast("double") / F.col("n_tokens").cast("double")
    p_b = F.col("cb").cast("double") / F.col("n_tokens").cast("double")
    return (
        cab.filter(F.col("c_ab") >= SKIP_MIN_COUNT)
        .join(uni.select(F.col("word").alias("wa"),
                         F.col("c").alias("ca")), "wa")
        .join(uni.select(F.col("word").alias("wb"),
                         F.col("c").alias("cb")), "wb")
        .join(tot).join(n)
        .select("wa", "wb", "c_ab",
                F.round(F.log(p_ab / (p_a * p_b)), 6).alias("pmi")))


SKIPGRAM_PMI_SQL = f"""
WITH tok AS (
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS word,
           unnest(range(len(string_split(text, ' ')))) AS pos
    FROM documents
), pairs AS (
    SELECT least(t1.word, t2.word) AS wa,
           greatest(t1.word, t2.word) AS wb
    FROM tok t1
    JOIN tok t2 ON t2.doc_id = t1.doc_id
              AND t2.pos BETWEEN t1.pos + 1 AND t1.pos + {SKIP_WINDOW}
), cab AS (
    SELECT wa, wb, count(*) AS c_ab FROM pairs GROUP BY wa, wb
), tot AS (SELECT count(*) AS t_pairs FROM pairs),
uni AS (SELECT word, count(*) AS c FROM tok GROUP BY word),
n AS (SELECT count(*) AS n_tokens FROM tok)
SELECT wa, wb, c_ab,
       round(ln((CAST(c_ab AS DOUBLE) / CAST(t_pairs AS DOUBLE))
                / ((CAST(ua.c AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                   * (CAST(ub.c AS DOUBLE) / CAST(n_tokens AS DOUBLE)))),
             6) AS pmi
FROM cab
JOIN uni ua ON ua.word = cab.wa
JOIN uni ub ON ub.word = cab.wb
CROSS JOIN tot CROSS JOIN n
WHERE c_ab >= {SKIP_MIN_COUNT}
"""


KWIC_WINDOW = 2        # context tokens each side
KWIC_MAX_PER_TERM = 20  # cap occurrences per term (deterministic order)


def keyword_in_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KWIC concordance — the corpus-exploration view IR systems have
    shipped since the 1950s: for each retrieval term (the shared BM25
    workload), up to ``KWIC_MAX_PER_TERM`` occurrences in (doc, pos)
    order with a ±``KWIC_WINDOW``-token snippet around the match.
    The positional index (``tokens()``, pre-filter ordinals) finds
    occurrences; snippets slice the RAW token array at those
    ordinals, so context shows the original text.

    Scale: occurrence lookup is a filtered scan of the token relation
    (a posting-list read at 100 TB); the snippet slice joins the doc's
    token array once per surviving occurrence, AFTER the per-term cap
    bounds the join size; the cap window partitions by word.
    """
    from .inverted_index import tokens

    terms = sorted({t for _, t in BM25_QUERIES})
    occ = (tokens(spark, sf_dir)
           .filter(F.col("word").isin(terms)))
    w = Window.partitionBy("word").orderBy("doc_id", "pos")
    capped = (occ.withColumn("occ_rank",
                             F.row_number().over(w).cast("bigint"))
              .filter(F.col("occ_rank") <= KWIC_MAX_PER_TERM))
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t"))
    start = F.greatest(F.col("pos") - KWIC_WINDOW, F.lit(1))
    stop = F.least(F.col("pos") + KWIC_WINDOW, F.size("t"))
    return (capped.join(docs, "doc_id")
            .select("word", "doc_id", "pos", "occ_rank",
                    F.concat_ws(
                        " ", F.slice("t", start, stop - start + 1))
                    .alias("snippet")))


def _kwic_terms_sql() -> str:
    terms = sorted({t for _, t in BM25_QUERIES})
    return ", ".join(f"('{t}')" for t in terms)


from .inverted_index import TOKENS_FILTERED_SQL as _TOKENS_F_SQL  # noqa: E402

KWIC_SQL = f"""
WITH tok AS ({_TOKENS_F_SQL}),
q(word) AS (VALUES {_kwic_terms_sql()}),
occ AS (
    SELECT t.doc_id, t.pos, t.word,
           row_number() OVER (PARTITION BY t.word
                              ORDER BY t.doc_id, t.pos) AS occ_rank
    FROM tok t JOIN q USING (word)
)
SELECT o.word, o.doc_id, o.pos, CAST(o.occ_rank AS BIGINT) AS occ_rank,
       array_to_string(
           string_split(d.text, ' ')[greatest(o.pos - {KWIC_WINDOW}, 1):
               least(o.pos + {KWIC_WINDOW},
                     len(string_split(d.text, ' ')))], ' ') AS snippet
FROM occ o JOIN documents d USING (doc_id)
WHERE o.occ_rank <= {KWIC_MAX_PER_TERM}
"""


def source_balance_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-balance inequality: per language, the Gini coefficient
    of its document counts across sources — 0 = perfectly even
    sourcing, →1 = one source dominates. The one-number balance
    diagnostic curation dashboards track next to
    ``mixture_sampling_weights``' rebalancing.

    Formula (rank form): with per-source counts x₁ ≤ … ≤ xₙ,
    ``G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n`` — integer sums and ranks, so
    only the final two divisions/subtraction are float (fixed order,
    identical cross-engine).

    Scale: one combinable (lang, source) count, then windows over the
    ≤ |langs|·|sources| relation.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (docs.groupBy("lang", "source")
              .agg(F.count(F.lit(1)).alias("x")))
    w = Window.partitionBy("lang").orderBy("x", "source")
    ranked = counts.withColumn("i", F.row_number().over(w))
    return (ranked.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_sources"),
                 F.sum("x").alias("n_docs"),
                 F.sum(F.col("i") * F.col("x")).alias("iws"))
            .select("lang", "n_sources", "n_docs",
                    F.round(
                        F.lit(2.0) * F.col("iws").cast("double")
                        / (F.col("n_sources").cast("double")
                           * F.col("n_docs").cast("double"))
                        - (F.col("n_sources") + 1).cast("double")
                        / F.col("n_sources").cast("double"), 6)
                    .alias("gini")))


SOURCE_GINI_SQL = """
WITH counts AS (
    SELECT lang, source, count(*) AS x
    FROM documents GROUP BY 1, 2
), ranked AS (
    SELECT lang, x,
           row_number() OVER (PARTITION BY lang
                              ORDER BY x, source) AS i
    FROM counts
), agg AS (
    SELECT lang, count(*) AS n_sources,
           CAST(sum(x) AS BIGINT) AS n_docs,
           CAST(sum(i * x) AS BIGINT) AS iws
    FROM ranked GROUP BY lang
)
SELECT lang, n_sources, n_docs,
       round(2.0 * CAST(iws AS DOUBLE)
             / (CAST(n_sources AS DOUBLE) * CAST(n_docs AS DOUBLE))
             - CAST(n_sources + 1 AS DOUBLE)
               / CAST(n_sources AS DOUBLE), 6) AS gini
FROM agg
"""


# --- boolean retrieval ----------------------------------------------------

# Fixed query set for boolean retrieval: (query_id, must-have terms,
# must-not-have terms). Chosen from the corpus vocabulary so every
# clause is selective but non-empty at every SF.
BOOLEAN_QUERIES = (
    ("spark_join_not_slow", ("spark", "join"), ("slow",)),
    ("scan_filter_not_merge", ("scan", "filter"), ("merge",)),
    ("stream_window_batch", ("stream", "window", "batch"), ()),
)


def boolean_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean retrieval (AND / AND-NOT) over a distinct (doc, word)
    postings relation built from raw whitespace tokens of the
    ``documents`` table — the classic search-engine operator
    (conjunctive queries as postings intersection, negation as
    postings subtraction).  Note the tokenization is deliberately the
    documents-table convention (`split(text, ' ')`, matching the rest
    of the text-analysis family and the oracle), NOT the flagship
    index's `normalize_word` pipeline, which serves the line-oriented
    reference corpus.

    Spark shape: ONE distinct (doc, word) postings relation, broadcast
    the tiny term table, then per query a single aggregate —
    ``count(matched must-terms) = |must| AND count(matched not-terms)
    = 0`` — i.e. the k-way intersection and the subtraction fused into
    one groupBy instead of k-1 chained semi-joins. One shuffle on
    doc_id regardless of clause count.

    Scale: postings is the corpus vocabulary relation; the term table
    is O(queries × terms) and broadcast. No self-joins of postings.
    """
    docs = load_table(spark, sf_dir, "documents")
    postings = (docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word"))
        .distinct())
    terms = [(qid, t, 1, 0) for qid, must, _ in BOOLEAN_QUERIES
             for t in must]
    terms += [(qid, t, 0, 1) for qid, _, nots in BOOLEAN_QUERIES
              for t in nots]
    tdf = constant_table(
        spark, terms, "query_id string, word string, is_must int, is_not int")
    need = {qid: len(must) for qid, must, _ in BOOLEAN_QUERIES}
    need_df = constant_table(
        spark, list(need.items()), "query_id string, n_must int")
    hits = (postings.join(tdf, "word")
            .groupBy("query_id", "doc_id")
            .agg(F.sum("is_must").alias("n_hit"),
                 F.sum("is_not").alias("n_neg")))
    return (hits.join(need_df, "query_id")
            .filter((F.col("n_hit") == F.col("n_must"))
                    & (F.col("n_neg") == 0))
            .select("query_id", "doc_id"))


def _bool_clause_sql(qid: str, must: tuple, nots: tuple) -> str:
    inter = "\nINTERSECT\n".join(
        f"SELECT doc_id FROM postings WHERE word = '{t}'" for t in must)
    sub = "".join(
        f"\nEXCEPT\nSELECT doc_id FROM postings WHERE word = '{t}'"
        for t in nots)
    return (f"SELECT '{qid}' AS query_id, doc_id FROM ({inter}{sub})")


BOOLEAN_SEARCH_SQL = f"""
WITH postings AS (
    SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
    FROM documents
)
{" UNION ALL ".join(_bool_clause_sql(q, m, n) for q, m, n in BOOLEAN_QUERIES)}
"""


# --- chi-squared feature selection ---------------------------------------

CHI2_TOP_K = 5


def chi2_discriminative_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language chi-squared feature selection: the top-5 words
    whose document presence is most associated with the language label
    — the classic term-selection statistic for text classification
    (and the 'which tokens give the language away' diagnostic next to
    ``lang_confusion_matrix``).

    2×2 contingency per (lang, word) from document-presence counts:
    a = docs of lang containing word, b = lang docs without it,
    c = other-lang docs with it, d = the rest;
    chi2 = N(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)).

    Exactness: a, b, c, d are integer counts; numerator and
    denominator are exact 128-bit integer products (DECIMAL(38,0) on
    Spark, HUGEINT on DuckDB — N(ad−bc)² ≤ n⁵ overflows int64 past
    n ≈ 5500 docs), so the single final division is one double op,
    rounded to 6 dp on both engines.  Validity bound: the 128-bit
    headroom itself runs out when n⁵ nears 1e38, i.e. past ~4×10⁷
    documents — beyond that Spark's non-ANSI decimal overflow would
    NULL the statistic while DuckDB's HUGEINT errors.  At that corpus
    size switch the numerator to double (chi² is a ranking statistic;
    6-dp exactness is a testing convention, not a semantic need) or
    pre-scale the counts.

    Scale: presence = distinct (doc, word), one combinable count per
    (lang, word), a broadcast of the |langs|-row margin and a
    planner-chosen join of the |words|-row margin. No per-doc state.
    """
    docs = load_table(spark, sf_dir, "documents")
    presence = (docs.select(
        "doc_id", "lang",
        F.explode(F.split("text", " ")).alias("word")).distinct())
    lw = (presence.groupBy("lang", "word")
          .agg(F.count(F.lit(1)).alias("a")))
    lang_tot = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_lang"))
    word_tot = presence.groupBy("word").agg(
        F.count(F.lit(1)).alias("n_word"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n")) 
    dec = "decimal(38,0)"
    full = (lw.join(F.broadcast(lang_tot), "lang")
            .join(word_tot, "word")
            .crossJoin(n_docs)
            .withColumn("b", F.col("n_lang") - F.col("a"))
            .withColumn("c", F.col("n_word") - F.col("a"))
            .withColumn("d", F.col("n") - F.col("n_lang")
                        - F.col("c")))
    num = (F.col("n").cast(dec)
           * (F.col("a").cast(dec) * F.col("d").cast(dec)
              - F.col("b").cast(dec) * F.col("c").cast(dec))
           * (F.col("a").cast(dec) * F.col("d").cast(dec)
              - F.col("b").cast(dec) * F.col("c").cast(dec)))
    den = (F.col("n_lang").cast(dec)
           * (F.col("n") - F.col("n_lang")).cast(dec)
           * F.col("n_word").cast(dec)
           * (F.col("n") - F.col("n_word")).cast(dec))
    scored = full.withColumn(
        "chi2",
        F.round(num.cast("double") / den.cast("double"), 6))
    w = Window.partitionBy("lang").orderBy(
        F.col("chi2").desc(), F.col("word"))
    return (scored.withColumn(
        "rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= CHI2_TOP_K)
        .select("lang", "word", F.col("a").alias("n_docs_with"),
                "chi2", "rnk"))


CHI2_TERMS_SQL = f"""
WITH presence AS (
    SELECT DISTINCT doc_id, lang,
           unnest(string_split(text, ' ')) AS word
    FROM documents
), lw AS (
    SELECT lang, word, count(*) AS a FROM presence GROUP BY 1, 2
), lang_tot AS (
    SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1
), word_tot AS (
    SELECT word, count(*) AS n_word FROM presence GROUP BY 1
), n_docs AS (SELECT count(*) AS n FROM documents),
full_t AS (
    SELECT lw.lang, lw.word, a, n_lang, n_word, n,
           n_lang - a AS b, n_word - a AS c,
           n - n_lang - (n_word - a) AS d
    FROM lw JOIN lang_tot USING (lang)
            JOIN word_tot USING (word), n_docs
), scored AS (
    SELECT lang, word, a,
           round(CAST(CAST(n AS HUGEINT)
                      * (CAST(a AS HUGEINT) * d
                         - CAST(b AS HUGEINT) * c)
                      * (CAST(a AS HUGEINT) * d
                         - CAST(b AS HUGEINT) * c) AS DOUBLE)
                 / CAST(CAST(n_lang AS HUGEINT)
                        * (n - n_lang)
                        * CAST(n_word AS HUGEINT)
                        * (n - n_word) AS DOUBLE), 6) AS chi2
    FROM full_t
)
SELECT lang, word, a AS n_docs_with, chi2,
       CAST(rnk AS BIGINT) AS rnk
FROM (SELECT *, row_number() OVER (PARTITION BY lang
                                   ORDER BY chi2 DESC, word) AS rnk
      FROM scored)
WHERE rnk <= {CHI2_TOP_K}
"""


# --- Zipf's-law fit -------------------------------------------------------


def zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law diagnostic: OLS slope/intercept of ln(freq) on
    ln(rank) over the corpus word-frequency table (natural corpora fit
    slope ≈ −1; synthetic/low-diversity corpora diverge — a standard
    pretraining-corpus health check).

    Exactness: ranks and frequencies are integers; each ln() is
    rounded to 10 dp (the ``token_entropy`` trick — a 1-ulp libm
    divergence cannot survive the round), each product term x·y and
    x·x is one correctly-rounded double op re-rounded to 10 dp, and
    every moment sum Σx, Σy, Σxy, Σx² runs over DECIMAL(25,10)-pinned
    terms so accumulation order cannot perturb the total. Slope and
    intercept are then a fixed order of double ops rounded to 6 dp.

    Scale: one word-count aggregate, one rank window over the
    vocabulary relation (vocab-sized, not corpus-sized), then a
    single-row reduction.
    """
    docs = load_table(spark, sf_dir, "documents")
    freq = (docs.select(F.explode(F.split("text", " ")).alias("word"))
            .groupBy("word").agg(F.count(F.lit(1)).alias("cnt")))
    ranked = freq.withColumn(
        "rnk", F.row_number().over(
            Window.orderBy(F.col("cnt").desc(), F.col("word"))))
    dec = "decimal(25,10)"
    x = F.round(F.log(F.col("rnk").cast("double")), 10)
    y = F.round(F.log(F.col("cnt").cast("double")), 10)
    pts = ranked.select(
        x.cast(dec).alias("x"), y.cast(dec).alias("y"),
        F.round(x * y, 10).cast(dec).alias("xy"),
        F.round(x * x, 10).cast(dec).alias("x2"))
    mom = pts.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum("xy").alias("sxy"), F.sum("x2").alias("sx2"))
    k = F.col("k").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sx2 = F.col("sx2").cast("double")
    slope = (k * sxy - sx * sy) / (k * sx2 - sx * sx)
    return mom.select(
        F.col("k").alias("vocab_size"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / k, 6).alias("zipf_intercept"))


ZIPF_FIT_SQL = """
WITH freq AS (
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS word
          FROM documents) GROUP BY 1
), ranked AS (
    SELECT cnt, row_number() OVER (ORDER BY cnt DESC, word) AS rnk
    FROM freq
), lns AS (
    SELECT round(ln(CAST(rnk AS DOUBLE)), 10) AS x,
           round(ln(CAST(cnt AS DOUBLE)), 10) AS y
    FROM ranked
), pts AS (
    SELECT CAST(x AS DECIMAL(25,10)) AS x,
           CAST(y AS DECIMAL(25,10)) AS y,
           CAST(round(x * y, 10) AS DECIMAL(25,10)) AS xy,
           CAST(round(x * x, 10) AS DECIMAL(25,10)) AS x2
    FROM lns
), mom AS (
    SELECT count(*) AS k, sum(x) AS sx, sum(y) AS sy,
           sum(xy) AS sxy, sum(x2) AS sx2
    FROM pts
)
SELECT k AS vocab_size,
       round((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(k AS DOUBLE) * CAST(sx2 AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
       AS zipf_slope,
       round((CAST(sy AS DOUBLE)
              - ((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(k AS DOUBLE) * CAST(sx2 AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                * CAST(sx AS DOUBLE)) / CAST(k AS DOUBLE), 6)
       AS zipf_intercept
FROM mom
"""


# --- tokenizer fertility --------------------------------------------------


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility: characters per BPE-ish token
    and BPE-tokens per whitespace-word — the standard multilingual
    tokenizer-efficiency metric (high fertility = the tokenizer
    fragments that language, inflating training cost per byte).

    Uses the same ``BPE_PATTERN`` as ``pandas_udf_token_count`` but
    JVM-side (``regexp_extract_all`` inside codegen) — the built-in
    twin of that declared-UDF demo.

    Exactness: all sums are integers; the two ratios are single double
    divisions rounded to 6 dp.

    Scale: zero-shuffle scan → expression pipeline, then one
    combinable per-lang aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.length("text").alias("n_chars"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_words"),
        F.size(F.regexp_extract_all(
            "text", F.lit(BPE_PATTERN), 0)).cast("bigint")
        .alias("n_bpe"))
    return (per_doc.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("chars"),
                 F.sum("n_words").alias("words"),
                 F.sum("n_bpe").alias("bpe_tokens"))
            .select("lang", "n_docs", "chars", "words", "bpe_tokens",
                    F.round(F.col("chars").cast("double")
                            / F.col("bpe_tokens"), 6)
                    .alias("chars_per_token"),
                    F.round(F.col("bpe_tokens").cast("double")
                            / F.col("words"), 6)
                    .alias("fertility")))


TOKENIZER_FERTILITY_SQL = f"""
WITH per_doc AS (
    SELECT lang, length(text) AS n_chars,
           len(string_split(text, ' ')) AS n_words,
           len(regexp_extract_all(text, '{BPE_PATTERN}')) AS n_bpe
    FROM documents
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS chars,
       CAST(sum(n_words) AS BIGINT) AS words,
       CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
       round(CAST(sum(n_chars) AS DOUBLE) / sum(n_bpe), 6)
           AS chars_per_token,
       round(CAST(sum(n_bpe) AS DOUBLE) / sum(n_words), 6)
           AS fertility
FROM per_doc GROUP BY lang
"""


# --- lexical richness -----------------------------------------------------


def hapax_ttr_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-richness diagnostics per language: type-token ratio
    (vocab / tokens) and hapax-legomena rate (fraction of the vocab
    occurring exactly once) — the corpus-diversity panel next to
    ``zipf_law_fit`` (a synthetic or template-heavy corpus shows a
    collapsed TTR and near-zero hapax mass).

    Exactness: all counts are integers; the two ratios are single
    rounded double divisions.

    Scale: one (lang, word) combinable count, then a per-lang rollup
    over the vocabulary relation.
    """
    docs = load_table(spark, sf_dir, "documents")
    wc = (docs.select(
        "lang", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("cnt")))
    return (wc.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("vocab"),
                 F.sum("cnt").alias("tokens"),
                 F.count(F.when(F.col("cnt") == 1, 1)).alias("hapax"))
            .select("lang", "vocab",
                    F.col("tokens").cast("bigint").alias("tokens"),
                    "hapax",
                    F.round(F.col("vocab").cast("double")
                            / F.col("tokens"), 6).alias("ttr"),
                    F.round(F.col("hapax").cast("double")
                            / F.col("vocab"), 6).alias("hapax_rate")))


HAPAX_TTR_SQL = """
WITH wc AS (
    SELECT lang, word, count(*) AS cnt
    FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
          FROM documents)
    GROUP BY 1, 2
)
SELECT lang, count(*) AS vocab,
       CAST(sum(cnt) AS BIGINT) AS tokens,
       count(CASE WHEN cnt = 1 THEN 1 END) AS hapax,
       round(CAST(count(*) AS DOUBLE) / sum(cnt), 6) AS ttr,
       round(CAST(count(CASE WHEN cnt = 1 THEN 1 END) AS DOUBLE)
             / count(*), 6) AS hapax_rate
FROM wc GROUP BY lang
"""


# --- doc→doc lexical similarity search ----------------------------------

RELATED_N_QUERY_DOCS = 10   # query set: doc_id < this
RELATED_TOP_K = 5
RELATED_MIN_DF = 2          # a linking word must appear in ≥ 2 docs
# ... and in ≤ 90% of docs (df·10 ≤ n·9).  The RELATIVE guard (the
# clustering_coefficient lesson): the sf0.1 corpus has a 31-word
# vocabulary where every word's df sits at 5-78% of docs, so an
# absolute-feeling 50% band kept ONE word and returned 0 rows.  A
# tight cap is also not load-bearing here the way it is for pair
# dedup — the query side is a bounded broadcast (≤ N_QUERY_DOCS
# vectors), so join fan-out is |postings|·|queries| = linear in
# postings at any df; the band only needs to drop truly corpus-wide
# stop-words.
RELATED_MAX_DF_PCT10 = 9


def related_docs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc→doc lexical similarity search ("find related documents"):
    for each of the first ``RELATED_N_QUERY_DOCS`` documents, the
    ``RELATED_TOP_K`` most similar other documents by cosine over raw
    term-frequency vectors restricted to discriminative words
    (``RELATED_MIN_DF ≤ df ≤ 90%`` of docs, integer-compared via
    ``df·10 ≤ n·RELATED_MAX_DF_PCT10``) — the
    sparse inverted-index formulation of find-similar, and the
    LEXICAL complement of the embedding ANN family (`bm25_topk_docs`
    answers term queries; this answers document queries).

    Spark-first shape — NO array/vector column: the tf vector stays a
    sparse (doc_id, word, tf) relation; dot products come from the
    word equi-join against the broadcast query postings and one
    combinable (query, doc) aggregation; squared norms are a
    reusable aggregate of the same guarded relation (the
    `daily_profile_similarity` sparse-profile trick at vocabulary
    scale). The df band is simultaneously the relevance guard
    (corpus-wide words carry no find-similar signal — poor man's
    idf) and the scale guard: posting-list length ≤ df cap ⇒ join
    fan-out per word is bounded, keeping the whole query linear in
    postings, not docs².

    Exactness: dot and both squared norms are pure integer sums;
    cosine is 3 correctly-rounded double ops in fixed order —
    identical cross-engine; ties rank by doc_id.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word"))
    tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    # guarded feeds norms, the query vectors AND the dot-product
    # probe — materialize the banded tf relation once
    # (truncate_lineage, the _shingle_sets convention) instead of
    # replaying tokenize→tf→df-window per consumer.
    guarded = truncate_lineage(
        tf.withColumn("df", F.count(F.lit(1)).over(
            Window.partitionBy("word")))
        .crossJoin(n_docs)
        .filter((F.col("df") >= RELATED_MIN_DF)
                & (F.col("df") * 10
                   <= F.col("n_docs") * RELATED_MAX_DF_PCT10))
        .select("doc_id", "word", "tf"))
    norms = guarded.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("n2"))
    q_tf = (guarded.filter(F.col("doc_id") < RELATED_N_QUERY_DOCS)
            .select(F.col("doc_id").alias("query_doc"), "word",
                    F.col("tf").alias("qtf")))
    q_norm = (norms.filter(F.col("doc_id") < RELATED_N_QUERY_DOCS)
              .select(F.col("doc_id").alias("query_doc"),
                      F.col("n2").alias("qn2")))
    dots = (guarded.join(F.broadcast(q_tf), "word")
            .filter(F.col("doc_id") != F.col("query_doc"))
            .groupBy("query_doc", "doc_id")
            .agg(F.sum(F.col("tf") * F.col("qtf")).alias("dot")))
    scored = (dots.join(norms, "doc_id")
              .join(F.broadcast(q_norm), "query_doc")
              .select("query_doc", "doc_id",
                      F.round(F.col("dot").cast("double")
                              / (F.sqrt(F.col("n2").cast("double"))
                                 * F.sqrt(F.col("qn2").cast("double"))),
                              6).alias("cos_sim")))
    w = Window.partitionBy("query_doc").orderBy(
        F.col("cos_sim").desc(), F.col("doc_id"))
    return (scored.withColumn(
        "rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= RELATED_TOP_K))


RELATED_DOCS_SQL = f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word
    FROM documents
), tf AS (
    SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY doc_id, word
), nd AS (SELECT count(*) AS n_docs FROM documents),
guarded AS (
    SELECT doc_id, word, tf FROM (
        SELECT tf.*, count(*) OVER (PARTITION BY word) AS df FROM tf
    ), nd
    WHERE df >= {RELATED_MIN_DF}
      AND df * 10 <= n_docs * {RELATED_MAX_DF_PCT10}
), norms AS (
    SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2
    FROM guarded GROUP BY doc_id
), dots AS (
    SELECT q.doc_id AS query_doc, g.doc_id,
           CAST(sum(g.tf * q.tf) AS BIGINT) AS dot
    FROM guarded g
    JOIN guarded q ON q.word = g.word
                  AND q.doc_id < {RELATED_N_QUERY_DOCS}
                  AND g.doc_id <> q.doc_id
    GROUP BY 1, 2
), scored AS (
    SELECT d.query_doc, d.doc_id,
           round(CAST(d.dot AS DOUBLE)
                 / (sqrt(CAST(n.n2 AS DOUBLE))
                    * sqrt(CAST(qn.n2 AS DOUBLE))), 6) AS cos_sim
    FROM dots d
    JOIN norms n ON n.doc_id = d.doc_id
    JOIN norms qn ON qn.doc_id = d.query_doc
)
SELECT query_doc, doc_id, cos_sim, rank FROM (
    SELECT *, CAST(row_number() OVER (
        PARTITION BY query_doc
        ORDER BY cos_sim DESC, doc_id) AS BIGINT) AS rank
    FROM scored
) WHERE rank <= {RELATED_TOP_K}
"""


# --- BPE tokenizer-training step ----------------------------------------

BPE_TOP = 20


def bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE iteration of byte-pair-encoding tokenizer TRAINING
    (Sennrich et al. 2016): over the corpus vocabulary in its initial
    character-symbol state, count every adjacent symbol pair weighted
    by word frequency and report the top ``BPE_TOP`` merge candidates
    — the argmax of this relation IS the first BPE merge rule. The
    training-side complement of `tokenizer_fertility` (which measures
    an already-trained tokenizer).

    Spark-first shape: word frequencies are one combinable agg; pair
    generation is a per-row expression (``transform`` over an index
    sequence — no UDF); pair totals are a second combinable agg whose
    group count is bounded by |alphabet|² — tiny at any corpus scale;
    top-k via TakeOrderedAndProject, no global sort. Counting is
    positional (overlapping pairs count per occurrence: 'aaa' yields
    (a,a) twice), matching the reference BPE algorithm.

    Exactness: all counts are integer sums; ties order by the pair
    itself.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split("text", " ")).alias("word"))
    words = (tok.filter(F.length("word") >= 2)
             .groupBy("word").agg(F.count(F.lit(1)).alias("wf")))
    pairs = F.transform(
        F.sequence(F.lit(1), F.length("word") - 1),
        lambda i: F.concat(F.col("word").substr(i, F.lit(1)),
                           F.lit(" "),
                           F.col("word").substr(i + 1, F.lit(1))))
    pair_counts = (words.select(F.explode(pairs).alias("pair"), "wf")
                   .groupBy("pair")
                   .agg(F.sum("wf").alias("pair_count")))
    return (pair_counts
            .select(F.substring_index("pair", " ", 1).alias("left"),
                    F.substring_index("pair", " ", -1).alias("right"),
                    "pair_count")
            .orderBy(F.col("pair_count").desc(), "left", "right")
            .limit(BPE_TOP))


BPE_MERGE_SQL = f"""
WITH tok AS (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents
), words AS (
    SELECT word, count(*) AS wf FROM tok
    WHERE len(word) >= 2 GROUP BY word
), pairs AS (
    SELECT unnest(list_transform(
               range(1, len(word)),
               i -> word[i] || ' ' || word[i+1])) AS pair,
           wf
    FROM words
), pc AS (
    SELECT pair, CAST(sum(wf) AS BIGINT) AS pair_count
    FROM pairs GROUP BY pair
)
SELECT string_split(pair, ' ')[1] AS "left",
       string_split(pair, ' ')[2] AS "right",
       pair_count
FROM pc
ORDER BY pair_count DESC, "left", "right"
LIMIT {BPE_TOP}
"""


BPE_TRAIN_MERGES = 3   # unrolled training rounds (a spec, not a loop)


def _bpe_apply_merge(seq: F.Column, left: F.Column,
                     right: F.Column) -> F.Column:
    """Apply ONE BPE merge rule to a space-separated symbol sequence,
    left-to-right non-overlapping (the reference BPE semantics), as
    pure string expressions — no lambdas, no UDF, engine-identical.

    The double-space trick: pad so every symbol has exactly one space
    flank on each side; the literal search ``' l  r '`` then consumes
    one flank from each end, leaving the neighbor's flank intact, so
    consecutive occurrences all merge in ONE global replace() pass
    ('a a a a' + (a,a) → 'aa aa', never 'aa a a')."""
    padded = F.concat(F.lit(" "),
                      F.replace(seq, F.lit(" "), F.lit("  ")),
                      F.lit(" "))
    search = F.concat(F.lit(" "), left, F.lit("  "), right, F.lit(" "))
    repl = F.concat(F.lit(" "), left, right, F.lit(" "))
    return F.trim(F.replace(F.replace(padded, search, repl),
                            F.lit("  "), F.lit(" ")))


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL byte-pair-encoding tokenizer training, ``BPE_TRAIN_MERGES``
    rounds unrolled (Sennrich et al. 2016) — where ``bpe_merge_step``
    scores the FIRST merge's candidates, this learns the actual merge
    TABLE: each round counts frequency-weighted adjacent symbol pairs
    over the current vocabulary state, picks the argmax rule, and
    applies it to every word before the next round. Output: the
    learned rules (merge_idx, left, right, pair_count).

    Spark-first iteration WITHOUT driver collects: the argmax rule is
    a 1-row relation cross-joined (broadcast) into the vocabulary
    state; merge application is the `_bpe_apply_merge` string-
    expression pass, so each round is (combinable pair count) →
    (1-row argmax) → (per-row projection). The vocabulary-state
    relation is vocab-sized (NOT corpus-sized — word frequencies are
    aggregated once up front) and lineage-cut per round, the
    ``k_core_words`` discipline against the 3^R plan blowup.

    Exactness: counts are integer sums; argmax ties break on the pair
    string; merge application is deterministic string surgery.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("word"))
    words = (tok.filter(F.length("word") >= 2)
             .groupBy("word").agg(F.count(F.lit(1)).alias("wf")))
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)))
    state = truncate_lineage(
        words.select(F.concat_ws(" ", chars).alias("seq"), "wf"))
    rules = []
    for idx in range(1, BPE_TRAIN_MERGES + 1):
        syms = F.split("seq", " ")
        pair_col = F.transform(
            F.sequence(F.lit(1), F.size(syms) - 1),
            lambda i: F.concat(F.element_at(syms, i), F.lit(" "),
                               F.element_at(syms, i + 1)))
        pc = (state.filter(F.size(syms) >= 2)
              .select(F.explode(pair_col).alias("pair"), "wf")
              .groupBy("pair").agg(F.sum("wf").alias("pair_count")))
        top = truncate_lineage(
            pc.orderBy(F.col("pair_count").desc(), "pair").limit(1)
            .select(F.substring_index("pair", " ", 1).alias("left"),
                    F.substring_index("pair", " ", -1).alias("right"),
                    "pair_count"))
        rules.append(top.select(
            F.lit(idx).cast("bigint").alias("merge_idx"),
            "left", "right", "pair_count"))
        state = truncate_lineage(
            state.join(top)
            .select(_bpe_apply_merge(F.col("seq"), F.col("left"),
                                     F.col("right")).alias("seq"),
                    "wf"))
    out = rules[0]
    for r in rules[1:]:
        out = out.unionByName(r)
    return out


def _bpe_round_ctes() -> str:
    blocks = []
    for i in range(1, BPE_TRAIN_MERGES + 1):
        blocks.append(f""",
pc{i} AS (
    SELECT s[CAST(j AS INT)] || ' ' || s[CAST(j AS INT) + 1] AS pair,
           CAST(sum(wf) AS BIGINT) AS pair_count
    FROM (SELECT string_split(seq, ' ') AS s, wf FROM state{i - 1}
          WHERE len(string_split(seq, ' ')) >= 2),
         unnest(range(1, len(s))) t(j)
    GROUP BY 1
),
top{i} AS (
    SELECT string_split(pair, ' ')[1] AS lft,
           string_split(pair, ' ')[2] AS rgt, pair_count
    FROM pc{i} ORDER BY pair_count DESC, pair LIMIT 1
),
state{i} AS (
    SELECT trim(replace(replace(
               ' ' || replace(seq, ' ', '  ') || ' ',
               ' ' || lft || '  ' || rgt || ' ',
               ' ' || lft || rgt || ' '), '  ', ' ')) AS seq, wf
    FROM state{i - 1} CROSS JOIN top{i}
)""")
    return "".join(blocks)


BPE_TRAIN_SQL = f"""
WITH words AS (
    SELECT word, count(*) AS wf
    FROM (SELECT unnest(string_split(text, ' ')) AS word
          FROM documents)
    WHERE len(word) >= 2 GROUP BY word
),
state0 AS (
    SELECT array_to_string(list_transform(
               range(1, len(word) + 1),
               i -> word[CAST(i AS INT)]), ' ') AS seq, wf
    FROM words
){_bpe_round_ctes()}
SELECT merge_idx, lft AS "left", rgt AS "right", pair_count FROM (
    {" UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS merge_idx, lft, rgt, pair_count "
        f"FROM top{i}" for i in range(1, BPE_TRAIN_MERGES + 1))}
)
"""


# --- vocabulary coverage curve ------------------------------------------

VOCAB_CUTOFFS = (5, 10, 25, 1000)


def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative token coverage at vocabulary-size cutoffs: "a
    vocabulary of the top-N words covers X% of all token
    occurrences" — the actionable number behind vocab-size /
    OOV-budget decisions (where `zipf_law_fit` reports the
    distribution's SHAPE parameter, this reports the design table a
    tokenizer builder actually reads). Cutoffs where the corpus
    vocabulary is smaller than N are absent on both engines (the
    synthetic documents table has a 31-word vocabulary at every SF,
    so the 1000 cutoff is absent here and present on any real
    corpus).

    Scale: word counts are one combinable aggregation; everything
    downstream (ranking + running sum) is a single-partition window
    over the VOCABULARY-sized relation — the value-domain-size
    exception (`winsorized_stats` convention), never a corpus-sized
    global sort.

    Exactness: counts and running sums are integers under a total
    (count desc, word) order; coverage is one correctly-rounded
    division.
    """
    docs = load_table(spark, sf_dir, "documents")
    wc = (docs.select(F.explode(F.split("text", " ")).alias("word"))
          .filter(F.length("word") > 0)
          .groupBy("word").agg(F.count(F.lit(1)).alias("cnt")))
    total = wc.agg(F.sum("cnt").alias("total_tokens"))
    w = Window.orderBy(F.col("cnt").desc(), "word")
    ranked = (wc.withColumn("vocab_size", F.row_number().over(w)
                            .cast("bigint"))
              .withColumn("cum_tokens",
                          F.sum("cnt").over(
                              w.rowsBetween(Window.unboundedPreceding,
                                            Window.currentRow))))
    return (ranked
            .filter(F.col("vocab_size").isin(*VOCAB_CUTOFFS))
            .crossJoin(total)
            .select("vocab_size", "cum_tokens", "total_tokens",
                    F.round(F.col("cum_tokens").cast("double")
                            / F.col("total_tokens"), 6)
                    .alias("coverage")))


VOCAB_COVERAGE_SQL = f"""
WITH tok AS (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents
), wc AS (
    SELECT word, count(*) AS cnt FROM tok
    WHERE len(word) > 0 GROUP BY word
), total AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens FROM wc),
ranked AS (
    SELECT CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT)
               AS vocab_size,
           CAST(sum(cnt) OVER (ORDER BY cnt DESC, word
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_tokens
    FROM wc
)
SELECT vocab_size, cum_tokens, total_tokens,
       round(CAST(cum_tokens AS DOUBLE) / total_tokens, 6) AS coverage
FROM ranked, total
WHERE vocab_size IN {VOCAB_CUTOFFS}
"""


# --- BPE encode with the trained merge table ------------------------------

def bpe_apply_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Close the tokenizer loop: ENCODE the corpus with the merge
    table ``bpe_train_merges`` learns — per document, the word count,
    character count, BPE token count after applying all
    ``BPE_TRAIN_MERGES`` trained merges, and the chars-per-token
    compression ratio (the number a tokenizer eval actually reports;
    Sennrich et al. 2016 §5).

    Spark-first: training state is VOCAB-sized (word → current
    segmentation), re-derived with the same argmax rounds as
    ``bpe_train_merges``; each round's winning rule is one collected
    row. Encoding applies the learned rules to every corpus token as
    literal string expressions, so the corpus-sized pass is one
    explode + one combinable aggregation with no join against the
    vocabulary (single-char words segment to themselves).

    Exactness: all counts are integer sums; the ratio is one
    correctly-rounded double division."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("word"))
    words = (tok.filter(F.length("word") >= 2)
             .groupBy("word").agg(F.count(F.lit(1)).alias("wf")))
    chars = F.concat_ws(" ", F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1))))
    state = truncate_lineage(words.select(chars.alias("seq"), "wf"))
    rules = []
    for _ in range(BPE_TRAIN_MERGES):
        syms = F.split("seq", " ")
        pair_col = F.transform(
            F.sequence(F.lit(1), F.size(syms) - 1),
            lambda i: F.concat(F.element_at(syms, i), F.lit(" "),
                               F.element_at(syms, i + 1)))
        top = (state.filter(F.size(syms) >= 2)
               .select(F.explode(pair_col).alias("pair"), "wf")
               .groupBy("pair").agg(F.sum("wf").alias("pair_count"))
               .orderBy(F.col("pair_count").desc(), "pair").first())
        if top is None:  # every word is already one symbol
            break
        left, right = top.pair.split(" ")
        rules.append((F.lit(left), F.lit(right)))
        state = truncate_lineage(state.select(
            _bpe_apply_merge(F.col("seq"), *rules[-1]).alias("seq"), "wf"))
    seg = chars
    for rule in rules:
        seg = _bpe_apply_merge(seg, *rule)
    occ = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word"))
    return (occ.filter(F.col("word") != "")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum(F.length("word")).alias("n_chars"),
                 F.sum(F.size(F.split(seg, " "))).alias("n_bpe_tokens"))
            .withColumn("chars_per_token",
                        F.round(F.col("n_chars")
                                / F.col("n_bpe_tokens"), 10)))


def _bpe_encode_round_ctes() -> str:
    """The training rounds of ``BPE_TRAIN_SQL`` with ``word`` carried
    through the state — the encode oracle needs it as the join key."""
    blocks = []
    for i in range(1, BPE_TRAIN_MERGES + 1):
        blocks.append(f""",
epc{i} AS (
    SELECT s[CAST(j AS INT)] || ' ' || s[CAST(j AS INT) + 1] AS pair,
           CAST(sum(wf) AS BIGINT) AS pair_count
    FROM (SELECT string_split(seq, ' ') AS s, wf FROM est{i - 1}
          WHERE len(string_split(seq, ' ')) >= 2),
         unnest(range(1, len(s))) t(j)
    GROUP BY 1
),
etop{i} AS (
    SELECT string_split(pair, ' ')[1] AS lft,
           string_split(pair, ' ')[2] AS rgt
    FROM epc{i} ORDER BY pair_count DESC, pair LIMIT 1
),
est{i} AS (
    SELECT word, trim(replace(replace(
               ' ' || replace(seq, ' ', '  ') || ' ',
               ' ' || lft || '  ' || rgt || ' ',
               ' ' || lft || rgt || ' '), '  ', ' ')) AS seq, wf
    FROM est{i - 1} CROSS JOIN etop{i}
)""")
    return "".join(blocks)


BPE_ENCODE_SQL = f"""
WITH ewords AS (
    SELECT word, count(*) AS wf
    FROM (SELECT unnest(string_split(text, ' ')) AS word
          FROM documents)
    WHERE len(word) >= 2 GROUP BY word
),
est0 AS (
    SELECT word, array_to_string(list_transform(
               range(1, len(word) + 1),
               i -> word[CAST(i AS INT)]), ' ') AS seq, wf
    FROM ewords
){_bpe_encode_round_ctes()},
seg AS (
    SELECT word, len(string_split(seq, ' ')) AS n_sub
    FROM est{BPE_TRAIN_MERGES}
),
occ AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word
    FROM documents
)
SELECT doc_id,
       count(*) AS n_words,
       CAST(sum(len(word)) AS BIGINT) AS n_chars,
       CAST(sum(COALESCE(n_sub, 1)) AS BIGINT) AS n_bpe_tokens,
       round(CAST(sum(len(word)) AS DOUBLE)
             / sum(COALESCE(n_sub, 1)), 10) AS chars_per_token
FROM occ LEFT JOIN seg USING (word)
WHERE word <> ''
GROUP BY doc_id
"""


# --- Kneser-Ney bigram LM scoring -----------------------------------------

KN_DISCOUNT = 0.75   # absolute discount D = 3/4 (exactly representable)


def kneser_ney_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney bigram document scoring (Kneser & Ney 1995; the
    smoothing KenLM actually ships, so this is the faithful step
    toward CCNet next to ``bigram_logprob_interpolated``'s
    Jelinek-Mercer mix): per document, the mean ln of
    P_KN(w|v) = max(c(v,w)−D, 0)/c(v,·)
              + D·N₁₊(v·)/c(v,·) · N₁₊(·w)/N₁₊(··),
    D = 3/4. The signature Kneser-Ney move is the CONTINUATION
    unigram: a word scores by how many distinct contexts precede it,
    not by raw frequency — "francisco" is frequent but follows only
    "san", so its continuation mass is tiny.

    Exactness: every count is an integer aggregation (type counts
    N₁₊ are row counts of the bigram-type relation); D = 3/4 keeps
    the discount subtraction exact; the probability is evaluated in
    ONE pinned operator order on both engines; the ln per bigram TYPE
    is round(·,10)→DECIMAL(25,10)-pinned before the per-doc
    occurrence sum (the ``token_entropy`` trick). max(c−D, 0) is
    vacuous for observed bigrams (c ≥ 1 > D) — scoring the training
    corpus never sees an unseen bigram, so every probability is
    strictly positive by construction.

    Scale: identical plan family to the JM scorer — the LM is one
    combinable vocab²-bounded (v,w) aggregation; prefix totals,
    continuation counts and the 1-row type total attach by equi-join
    (broadcast while they fit the session threshold);
    one combinable per-doc sum. No windows, no self-joins.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    bg = (docs
          .select("doc_id",
                  F.explode(adjacent_pairs(toks, "v", "w")).alias("p"))
          .select("doc_id", "p.v", "p.w"))
    lm2 = truncate_lineage(
        bg.groupBy("v", "w").agg(F.count(F.lit(1)).alias("c2")))
    pref = lm2.groupBy("v").agg(F.sum("c2").alias("cv"),
                                F.count(F.lit(1)).alias("n1v"))
    cont = lm2.groupBy("w").agg(F.count(F.lit(1)).alias("n1w"))
    types = lm2.agg(F.count(F.lit(1)).alias("n1tot"))
    p_kn = ((F.col("c2") - F.lit(KN_DISCOUNT)) / F.col("cv")
            + F.lit(KN_DISCOUNT) * F.col("n1v") / F.col("cv")
            * (F.col("n1w") / F.col("n1tot").cast("double")))
    scored = (
        lm2.join(pref, "v")
        .join(cont, "w")
        .join(types)
        .select("v", "w",
                F.round(F.log(p_kn), 10).cast("decimal(25,10)")
                .alias("logp")))
    return (
        bg.join(scored, ["v", "w"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"),
             F.sum("logp").alias("lp_sum"))
        .select("doc_id", "n_bigrams",
                F.round(F.col("lp_sum").cast("double")
                        / F.col("n_bigrams"), 6)
                .alias("avg_kn_logprob")))


KNESER_NEY_SQL = f"""
WITH bg AS (
    SELECT doc_id, toks[CAST(i AS INT)] AS v,
           toks[CAST(i AS INT) + 1] AS w
    FROM (SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents),
         unnest(range(1, len(toks))) t(i)
), lm2 AS (
    SELECT v, w, count(*) AS c2 FROM bg GROUP BY v, w
), pref AS (
    SELECT v, CAST(sum(c2) AS BIGINT) AS cv, count(*) AS n1v
    FROM lm2 GROUP BY v
), cont AS (
    SELECT w, count(*) AS n1w FROM lm2 GROUP BY w
), types AS (SELECT count(*) AS n1tot FROM lm2),
scored AS (
    SELECT lm2.v, lm2.w,
           CAST(round(ln((c2 - {KN_DISCOUNT!r}) / cv
                         + {KN_DISCOUNT!r} * n1v / cv
                         * (n1w / CAST(n1tot AS DOUBLE))), 10)
                AS DECIMAL(25,10)) AS logp
    FROM lm2
    JOIN pref USING (v) JOIN cont USING (w) CROSS JOIN types
)
SELECT doc_id, count(*) AS n_bigrams,
       round(CAST(sum(logp) AS DOUBLE) / count(*), 6)
           AS avg_kn_logprob
FROM bg JOIN scored USING (v, w)
GROUP BY doc_id
"""


def ranker_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between the BM25 and Dirichlet
    query-likelihood rankings, per query — the ranker-agreement audit
    run before swapping retrieval models (high ρ = the cheaper ranker
    is a drop-in; low ρ = re-judge). Both rankers score the SAME
    candidate set (docs matching ≥ 1 query term, via the shared
    ``_bm25_per_doc`` / ``_ql_per_doc`` builders), so the comparison
    is like-for-like over n = |candidates| items.

    ρ = 1 − 6·Σd² / (n³ − n) over deterministic ranks (row_number by
    score desc, doc_id — the tie convention every ranked entry in this
    module uses, documented in place of classic mid-ranks). Σd² and
    n³−n are exact integers (n³ overflows int64 past ~2 M candidates
    per query — switch to DECIMAL(38,0) there); the single division is
    one correctly-rounded double op (round 10), NULL-guarded at n ≤ 1.
    ``top1_agree`` flags whether the two rankers pick the same #1 doc.

    Scale: both score relations aggregate query-term postings only;
    the rank windows partition per query; the join is per-(query, doc)
    on already-reduced relations. Nothing corpus-sized shuffles twice.
    """
    bm = _bm25_per_doc(spark, sf_dir)
    ql = _ql_per_doc(spark, sf_dir)
    wa = Window.partitionBy("query_id").orderBy(
        F.col("score_sum").desc(), F.col("doc_id"))
    wb = Window.partitionBy("query_id").orderBy(
        F.col("ql_sum").desc(), F.col("doc_id"))
    ra = bm.select("query_id", "doc_id",
                   F.row_number().over(wa).alias("r1"))
    rb = ql.select("query_id", "doc_id",
                   F.row_number().over(wb).alias("r2"))
    j = ra.join(rb, ["query_id", "doc_id"])
    d2 = (F.col("r1") - F.col("r2")).cast("long")
    n = F.count(F.lit(1)).cast("long")
    agg = j.groupBy("query_id").agg(
        n.alias("n_candidates"),
        F.sum(d2 * d2).alias("sum_d2"),
        F.max(F.when(F.col("r1") == 1, F.col("doc_id")))
        .alias("top_a"),
        F.max(F.when(F.col("r2") == 1, F.col("doc_id")))
        .alias("top_b"))
    nn = F.col("n_candidates")
    rho = F.round(
        F.lit(1.0) - (6 * F.col("sum_d2")).cast("double")
        / (nn * nn * nn - nn).cast("double"), 10)
    return agg.select(
        "query_id", "n_candidates",
        F.when(nn > 1, rho).alias("spearman_rho"),
        (F.col("top_a") == F.col("top_b")).cast("int")
        .alias("top1_agree"))


RANK_CORRELATION_SQL = f"""
WITH bm AS (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score_sum DESC, doc_id) AS r1
    FROM ({_BM25_PREFIX_SQL}
          SELECT query_id, doc_id, score_sum FROM per_doc) t
),
qlr AS (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY ql_sum DESC, doc_id) AS r2
    FROM ({_QL_PREFIX_SQL.format(values=_bm25_values_sql())}
          SELECT query_id, doc_id, ql_sum FROM per_doc) t
),
j AS (
    SELECT bm.query_id, bm.doc_id, r1, r2
    FROM bm JOIN qlr ON qlr.query_id = bm.query_id
                    AND qlr.doc_id = bm.doc_id
)
SELECT query_id,
       CAST(count(*) AS BIGINT) AS n_candidates,
       CASE WHEN count(*) > 1 THEN
           round(1.0 - CAST(6 * sum((r1 - r2) * (r1 - r2)) AS DOUBLE)
                 / CAST(count(*) * count(*) * count(*) - count(*)
                        AS DOUBLE), 10)
       END AS spearman_rho,
       CAST(max(CASE WHEN r1 = 1 THEN doc_id END)
            = max(CASE WHEN r2 = 1 THEN doc_id END) AS INT)
           AS top1_agree
FROM j GROUP BY query_id
"""


LLR_TOP = 20   # collocations reported


def dunning_llr_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by Dunning's log-likelihood ratio
    (Dunning 1993) — the statistic that replaced PMI in serious
    collocation pipelines because it stays calibrated for RARE pairs
    (PMI explodes for hapax pairs; ``skipgram_pmi`` is the windowed
    PMI companion, this is the adjacent-bigram LLR): per bigram the
    2×2 contingency over bigram positions, LLR = 2·Σ kᵢⱼ·ln(kᵢⱼ·N /
    (Rᵢ·Cⱼ)) with 0·ln 0 = 0, top-20 by LLR.

    Exactness: counts and margins are integers; each of the 4 terms is
    doubles in one written order (kᵢⱼ·N exact in int64 to N ≈ 3×10⁹
    bigrams — DECIMAL beyond), round(·,10)-pinned to DECIMAL(25,10),
    summed exactly; LLR = round(2·sum, 6). Ties order by words.

    Scale: ONE combinable bigram count; margins are windows over the
    vocab²-bounded bigram relation; top-k is TakeOrdered, never a
    global sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    zipped = F.arrays_zip(F.slice(toks, 1, m).alias("w1"),
                          F.slice(toks, 2, m).alias("w2"))
    k = (docs.select(F.explode(zipped).alias("p"))
         .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
         .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("k11")))
    c1 = F.sum("k11").over(Window.partitionBy("w1"))
    c2 = F.sum("k11").over(Window.partitionBy("w2"))
    nn = F.sum("k11").over(Window.partitionBy())
    g = k.select("w1", "w2", "k11", c1.alias("r"), c2.alias("c"),
                 nn.alias("n"))

    def term(kc: F.Column, rr: F.Column, cc: F.Column) -> F.Column:
        arg = (kc * F.col("n")).cast("double") / (rr * cc).cast("double")
        return F.coalesce(
            F.when(kc > 0,
                   F.round(kc * F.log(arg), 10).cast("decimal(25,10)")),
            F.lit(0).cast("decimal(25,10)"))

    k11 = F.col("k11")
    k12 = F.col("r") - k11
    k21 = F.col("c") - k11
    k22 = F.col("n") - F.col("r") - F.col("c") + k11
    total = (term(k11, F.col("r"), F.col("c"))
             + term(k12, F.col("r"), F.col("n") - F.col("c"))
             + term(k21, F.col("n") - F.col("r"), F.col("c"))
             + term(k22, F.col("n") - F.col("r"),
                    F.col("n") - F.col("c")))
    scored = g.select("w1", "w2", "k11",
                      F.round(F.lit(2.0) * total.cast("double"), 6)
                      .alias("llr"))
    return (scored
            .orderBy(F.col("llr").desc(), "w1", "w2")
            .limit(LLR_TOP))


def _llr_term_sql(k: str, r: str, c: str) -> str:
    return (f"COALESCE(CASE WHEN {k} > 0 THEN "
            f"CAST(round({k} * ln(CAST({k} * n AS DOUBLE) "
            f"/ CAST(({r}) * ({c}) AS DOUBLE)), 10) AS DECIMAL(25,10)) "
            f"END, CAST(0 AS DECIMAL(25,10)))")


DUNNING_LLR_SQL = f"""
WITH k AS (
    SELECT w1, w2, count(*) AS k11 FROM (
        SELECT string_split(text, ' ')[i] AS w1,
               string_split(text, ' ')[i + 1] AS w2
        FROM documents,
             unnest(range(1, len(string_split(text, ' ')))) AS t(i)
    ) GROUP BY w1, w2
),
g AS (
    SELECT w1, w2, k11,
           sum(k11) OVER (PARTITION BY w1) AS r,
           sum(k11) OVER (PARTITION BY w2) AS c,
           sum(k11) OVER () AS n
    FROM k
)
SELECT w1, w2, k11,
       round(2.0 * CAST(
           {_llr_term_sql('k11', 'r', 'c')}
         + {_llr_term_sql('(r - k11)', 'r', 'n - c')}
         + {_llr_term_sql('(c - k11)', 'n - r', 'c')}
         + {_llr_term_sql('(n - r - c + k11)', 'n - r', 'n - c')}
       AS DOUBLE), 6) AS llr
FROM g
ORDER BY llr DESC, w1, w2
LIMIT {LLR_TOP}
"""


# --- late-interaction retrieval (ColBERT MaxSim) --------------------------

# Query terms with their 8-dim ±1 sign vectors, derived offline from
# md5(term): dim i is +1 iff hex digit i of the md5 is >= '8'.  The
# SAME derivation is applied to every document token inside the query
# plan, so the "token embedding" is a pure deterministic function both
# engines compute bit-identically (the md5-as-randomness trick
# hash_train_test_split pioneered).
MAXSIM_QUERY_SIGNS = {
    "spark":  (1, 1, 1, -1, -1, 1, -1, 1),
    "table":  (1, 1, 1, 1, 1, -1, 1, 1),
    "merge":  (-1, -1, -1, -1, -1, 1, -1, -1),
    "window": (-1, -1, 1, 1, 1, -1, -1, 1),
}
MAXSIM_TOP = 10


def _sign_dot(tok, signs):
    """dot(sign_vec(tok), signs) as an integer expression: +s_i when
    hex digit i of md5(tok) has its high bit set, else -s_i."""
    terms = [
        F.when(F.substring(F.md5(tok), i + 1, 1) >= "8",
               F.lit(s)).otherwise(F.lit(-s))
        for i, s in enumerate(signs)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def late_interaction_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction retrieval (ColBERT, Khattab & Zaharia 2020,
    SIGIR): score(q, d) = Σ_{t∈q} max_{t'∈d} ⟨E(t), E(t')⟩ — every
    query token keeps its own vector and matches its best document
    token, instead of one pooled document vector.  Token "embeddings"
    here are deterministic 8-dim ±1 sign vectors derived from
    md5(token) (see MAXSIM_QUERY_SIGNS), so each ⟨·,·⟩ is an integer
    in [-8, 8] and the whole scoring is engine-exact.

    Exactness: pure integer arithmetic — the per-token dot is a sum of
    eight ±1 CASE terms over md5 hex digits, identical in both
    engines; ties at the top-k boundary break on doc_id.

    Scale: zero-shuffle scoring — per-document array expressions over
    array_distinct(tokens) (MaxSim is invariant to token multiplicity,
    so dedup first), then a TakeOrderedAndProject top-k.  At 100 TB the
    per-doc work is |q|·|distinct tokens| integer ops inside
    whole-stage codegen; no join, no exchange before the final bounded
    ordering.  This is the exact-scoring twin of the `bm25_topk_docs`
    bag-of-words ranker: same corpus scan shape, token-level
    interaction instead of term-frequency pooling.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(F.split("text", " "))
    out = docs.select("doc_id", toks.alias("toks"))
    score_cols = []
    def scorer(signs):
        return lambda t: _sign_dot(t, signs)

    for term, signs in MAXSIM_QUERY_SIGNS.items():
        col = f"s_{term}"
        out = out.withColumn(
            col, F.array_max(F.transform("toks", scorer(signs))))
        score_cols.append(col)
    maxsim = score_cols[0]
    total = F.col(score_cols[0])
    for c in score_cols[1:]:
        total = total + F.col(c)
    return (out.withColumn("maxsim", total)
            .select("doc_id", *score_cols, "maxsim")
            .orderBy(F.col("maxsim").desc(), "doc_id")
            .limit(MAXSIM_TOP))


def _sign_dot_sql(tok: str, signs) -> str:
    return " + ".join(
        f"CASE WHEN substring(md5({tok}), {i + 1}, 1) >= '8' "
        f"THEN {s} ELSE {-s} END"
        for i, s in enumerate(signs))


MAXSIM_SQL = f"""
WITH scored AS (
    SELECT doc_id,
           {", ".join(
        f"list_max(list_transform(list_distinct(string_split(text, ' ')), "
        f"t -> {_sign_dot_sql('t', signs)})) AS s_{term}"
        for term, signs in MAXSIM_QUERY_SIGNS.items())}
    FROM documents
)
SELECT doc_id, {", ".join(f"s_{t}" for t in MAXSIM_QUERY_SIGNS)},
       {" + ".join(f"s_{t}" for t in MAXSIM_QUERY_SIGNS)} AS maxsim
FROM scored
ORDER BY maxsim DESC, doc_id
LIMIT {MAXSIM_TOP}
"""


# --- within-document repeated-n-gram masking ------------------------------

MASK_N = 4  # masked-window width = the repeated-gram length


def repeated_ngram_span_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition mask: every 4-gram occurrence whose
    identical gram already appeared EARLIER in the same document masks
    its 4-token span — the self-repetition counterpart of the
    cross-document `duplicate_spans` (Lee et al. 2022 mask repeated
    substrings before training so the loss never rewards degenerate
    copying).  Reported per doc: gram/repeat counts, the exact number
    of token positions covered by the union of masked spans, and the
    masked fraction.

    Exactness: "repeated" is `array_position(grams, grams[i]) < i` —
    first-occurrence index strictly earlier — evaluated on the SAME
    per-row gram array in both engines; the interval union over
    sorted fixed-width spans is 4 + Σ min(4, gap) over adjacent masked
    starts, all integer; mask_frac is one int/int division rounded to
    10 dp on both sides.

    Scale: ZERO shuffle — the entire mask is a per-row array program
    (grams, first-occurrence test, pairwise gap sum) inside
    whole-stage codegen; nothing leaves the row.  At 100 TB this runs
    at scan speed, unlike a (doc, gram) explode + window formulation
    which would shuffle every gram occurrence.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    d = docs.select(
        "doc_id", F.size(toks).alias("n_tokens"),
        sliding_ngrams(toks, MASK_N).alias("grams"))
    idx = F.transform("grams", lambda g, i: F.struct(
        (i + 1).alias("pos"), g.alias("g")))
    rep = F.transform(
        F.filter(idx, lambda s: F.array_position(
            F.col("grams"), s["g"]) < s["pos"]),
        lambda s: s["pos"])
    d = d.withColumn("rep", rep)
    m = F.greatest(F.size("rep") - 1, F.lit(0))
    gaps = F.zip_with(
        F.slice("rep", 2, m), F.slice("rep", 1, m),
        lambda b, a: F.least(F.lit(MASK_N), b - a))
    covered = F.when(F.size("rep") == 0, F.lit(0)).otherwise(
        F.lit(MASK_N) + F.aggregate(gaps, F.lit(0), lambda acc, x: acc + x))
    return (d.select(
        "doc_id", "n_tokens",
        F.size("grams").alias("n_grams"),
        F.size("rep").alias("n_repeated"),
        covered.alias("masked_tokens"))
        .withColumn("mask_frac",
                    F.round(F.col("masked_tokens") / F.col("n_tokens"), 10)))


REPEATED_NGRAM_MASK_SQL = f"""
WITH g AS (
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           list_transform(
               range(1, greatest(len(string_split(text, ' '))
                                 - {MASK_N - 2}, 1)),
               i -> concat_ws(' ', string_split(text, ' ')[i],
                              string_split(text, ' ')[i + 1],
                              string_split(text, ' ')[i + 2],
                              string_split(text, ' ')[i + 3])) AS grams
    FROM documents
), r AS (
    SELECT doc_id, n_tokens, grams,
           list_filter(range(1, len(grams) + 1),
                       i -> list_position(grams, grams[i]) < i) AS rep
    FROM g
)
SELECT doc_id, n_tokens, len(grams) AS n_grams,
       len(rep) AS n_repeated,
       CAST(CASE WHEN len(rep) = 0 THEN 0
            ELSE {MASK_N} + COALESCE(list_sum(list_transform(
                     range(2, len(rep) + 1),
                     i -> least({MASK_N}, rep[i] - rep[i - 1]))), 0)
       END AS BIGINT) AS masked_tokens,
       round(CAST(CASE WHEN len(rep) = 0 THEN 0
            ELSE {MASK_N} + COALESCE(list_sum(list_transform(
                     range(2, len(rep) + 1),
                     i -> least({MASK_N}, rep[i] - rep[i - 1]))), 0)
       END AS DOUBLE) / n_tokens, 10) AS mask_frac
FROM r
"""


# --- RAG ingestion chunking (expression path) -----------------------------

CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


def rag_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking for RAG ingestion — 32-token
    chunks at stride 24 (8-token overlap so no sentence straddles a
    boundary unseen) — as PURE JVM expressions: the codegen twin of
    `udtf_chunk_documents` the way `tokenizer_fertility` twins the BPE
    UDF demo.  Emits one row per chunk with its start offset, token
    count, boundary tokens, and reconstructed character length.

    Exactness: chunk starts are 1 + 24k for k in [0, ⌊(n-1)/24⌋] —
    every token lands in ≥1 chunk, the last chunk may be short; all
    outputs are integer arithmetic and token lookups over the same
    split array in both engines.

    Scale: zero shuffle — starts/slice/explode all inside the row;
    output size is a bounded ~1.33× blowup of the corpus (stride/chunk
    overlap), the explode is Spark's native generator (no UDTF python
    worker, no Arrow hop), and downstream embedding/indexing stages
    inherit the corpus partitioning untouched.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    d = docs.select("doc_id", toks.alias("toks"),
                    F.size(toks).alias("n"))
    starts = F.transform(
        F.sequence(F.lit(0), F.floor((F.col("n") - 1) / CHUNK_STRIDE)),
        lambda k: k * CHUNK_STRIDE + 1)
    chunk = F.slice("toks", F.col("start").cast("int"), CHUNK_TOKENS)
    return (d.select("doc_id", "toks",
                     F.posexplode(starts).alias("chunk_id", "start"))
            .select("doc_id", "chunk_id",
                    F.col("start").alias("start_tok"),
                    chunk.alias("chunk"))
            .select(
                "doc_id", "chunk_id", "start_tok",
                F.size("chunk").alias("n_chunk_tokens"),
                F.element_at("chunk", 1).alias("first_token"),
                F.element_at("chunk", -1).alias("last_token"),
                (F.aggregate(F.transform("chunk", F.length),
                             F.lit(0), lambda a, x: a + x)
                 + F.size("chunk") - 1).alias("chunk_chars")))


RAG_CHUNK_SQL = f"""
WITH d AS (
    SELECT doc_id, string_split(text, ' ') AS toks,
           len(string_split(text, ' ')) AS n
    FROM documents
), c AS (
    SELECT doc_id, CAST(k AS INT) AS chunk_id,
           CAST(k * {CHUNK_STRIDE} + 1 AS BIGINT) AS start_tok,
           list_slice(toks, k * {CHUNK_STRIDE} + 1,
                      k * {CHUNK_STRIDE} + {CHUNK_TOKENS}) AS chunk
    FROM d, unnest(range(0, (n - 1) // {CHUNK_STRIDE} + 1)) AS t(k)
)
SELECT doc_id, chunk_id, start_tok,
       len(chunk) AS n_chunk_tokens,
       chunk[1] AS first_token,
       chunk[-1] AS last_token,
       CAST(list_sum(list_transform(chunk, t -> len(t)))
            + len(chunk) - 1 AS INT) AS chunk_chars
FROM c
"""


# --- feature-hashing collision audit --------------------------------------

FEATHASH_M = 4096  # hashed feature-space width (2^12 buckets)


def feature_hash_collision_audit(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Hashing-trick collision audit (Weinberger et al. 2009, ICML
    "Feature Hashing for Large Scale Multitask Learning"): hash the
    corpus vocabulary into 2^12 buckets and measure what the trick
    costs — how many buckets are occupied, how many terms share a
    bucket, the worst bucket load — against the uniform-hashing
    prediction E[buckets] = m·(1 − (1 − 1/m)^n).  The
    `bloom_fp_rate_audit` pattern applied to the OTHER md5-backed
    approximation the pipeline ships (`count_min_words` rides the
    same row-hash family).

    Exactness: buckets are md5-derived integers; every count is
    exact; the measured collision fraction is one int/int division
    (round 10); the prediction uses pow, the one libm call whose
    cross-engine agreement is not guaranteed bit-level — rounded to
    6 dp, the repo's tf-idf-logarithm convention.

    Scale: vocabulary distinct (the only wide exchange — the same
    one word_count pays), then a bucket-keyed combinable count and a
    4-scalar final agg. No joins, no windows, nothing quadratic.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = (docs.select(F.explode(F.split("text", " ")).alias("w"))
             .distinct())
    bucket = (F.conv(F.substring(F.md5("w"), 1, 15), 16, 10)
              .cast("long") % FEATHASH_M)
    per_bucket = (words.select(bucket.alias("b"))
                  .groupBy("b").agg(F.count(F.lit(1)).alias("c")))
    agg = per_bucket.agg(
        F.sum("c").alias("n_terms"),
        F.count(F.lit(1)).alias("buckets_used"),
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0))
        .alias("colliding_terms"),
        F.max("c").alias("max_bucket_load"))
    m = float(FEATHASH_M)
    predicted = m * (1.0 - F.pow(F.lit(1.0 - 1.0 / m),
                                 F.col("n_terms").cast("double")))
    return agg.select(
        "n_terms", F.lit(FEATHASH_M).alias("m_buckets"),
        "buckets_used", "colliding_terms", "max_bucket_load",
        F.round(F.col("colliding_terms") / F.col("n_terms"), 10)
        .alias("collision_term_frac"),
        F.round(predicted, 6).alias("buckets_used_predicted"))


FEATHASH_AUDIT_SQL = f"""
WITH words AS (
    SELECT DISTINCT unnest(string_split(text, ' ')) AS w
    FROM documents
), per_bucket AS (
    SELECT ('0x' || substring(md5(w), 1, 15))::BIGINT
               % {FEATHASH_M} AS b,
           count(*) AS c
    FROM words GROUP BY 1
)
SELECT CAST(sum(c) AS BIGINT) AS n_terms,
       {FEATHASH_M} AS m_buckets,
       count(*) AS buckets_used,
       CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
           AS colliding_terms,
       max(c) AS max_bucket_load,
       round(CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
             / sum(c), 10) AS collision_term_frac,
       round({float(FEATHASH_M)} * (1.0 - pow(1.0 - 1.0 / {float(FEATHASH_M)},
             CAST(sum(c) AS DOUBLE))), 6) AS buckets_used_predicted
FROM per_bucket
"""


# --- held-out bigram perplexity (train/test composition) ------------------


def heldout_bigram_perplexity(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Held-out language-model evaluation — the leakage-free
    measurement every LM-quality number should be: train the
    Jelinek-Mercer bigram⊕unigram mix (λ=1/2, the
    `bigram_logprob_interpolated` model) on the md5 TRAIN split
    (`hash_train_test_split`'s exact 75% predicate) and score ONLY
    the held-out 25%, reporting per-language mean log-prob and
    perplexity.  Unseen events need mass, so the unigram leg is
    Laplace-smoothed over the train vocabulary (+1 UNK class):
    P(w|v) = λ·c₂(v,w)/c(v) [0 when v unseen] +
    (1−λ)·(c₁(w)+1)/(N+V+1) — strictly positive for every held-out
    token, OOV included.

    Exactness: split membership is the md5 hex predicate both engines
    compute identically; all probabilities are correctly-rounded
    exact-int divisions scaled by the dyadic λ; the per-occurrence ln
    is round(·,10)→DECIMAL-pinned before the order-insensitive sum;
    the final mean is rounded to 6 dp and the perplexity exp(−mean)
    is computed from that identical rounded double (then 6-dp pinned
    — exp is libm).

    Scale: LMs are combinable aggregations over the TRAIN split
    (vocab/vocab²-bounded) attached by equi-join; the held-out side
    is one scan + per-lang combinable sum. The planner broadcasts the
    model while it fits the session threshold and shuffles it past
    that; held-out scoring stays embarrassingly parallel.
    """
    docs = load_table(spark, sf_dir, "documents")
    is_train = (F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1)
        < TRAIN_FRAC_HEX)
    toks = F.split("text", " ")
    train = docs.filter(is_train)
    test = docs.filter(~is_train)

    train_tok = train.select(F.explode(toks).alias("w"))
    lm1 = train_tok.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    tot = train_tok.agg(
        F.count(F.lit(1)).alias("n_train_tokens"),
        F.countDistinct("w").alias("v_train"))
    train_bg = (train.select(
        F.explode(adjacent_pairs(toks, "v", "w")).alias("p"))
        .select("p.v", "p.w"))
    lm2 = train_bg.groupBy("v", "w").agg(F.count(F.lit(1)).alias("c2"))
    pref = lm2.groupBy("v").agg(F.sum("c2").alias("cv"))

    test_bg = (test.select(
        "doc_id", "lang",
        F.explode(adjacent_pairs(toks, "v", "w")).alias("p"))
        .select("doc_id", "lang", "p.v", "p.w"))
    mixed = (
        F.coalesce(
            F.lit(BIGRAM_LAMBDA)
            * (F.col("c2").cast("double") / F.col("cv")), F.lit(0.0))
        + F.lit(1.0 - BIGRAM_LAMBDA)
        * ((F.coalesce(F.col("c1"), F.lit(0)) + 1).cast("double")
           / (F.col("n_train_tokens") + F.col("v_train") + 1)))
    scored = (test_bg
              .join(lm2, ["v", "w"], "left")
              .join(pref, "v", "left")
              .join(lm1, "w", "left")
              .join(tot)
              .select("doc_id", "lang",
                      F.round(F.log(mixed), 10).cast("decimal(25,10)")
                      .alias("logp")))
    per_lang = (scored.groupBy("lang")
                .agg(F.countDistinct("doc_id").alias("n_test_docs"),
                     F.count(F.lit(1)).alias("n_bigrams"),
                     F.sum("logp").alias("lp_sum")))
    avg = F.round(
        F.col("lp_sum").cast("double") / F.col("n_bigrams"), 6)
    return per_lang.select(
        "lang", "n_test_docs", "n_bigrams",
        avg.alias("avg_logprob"),
        F.round(F.exp(-avg), 6).alias("perplexity"))


HELDOUT_PPL_SQL = f"""
WITH train AS (
    SELECT * FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
          < '{TRAIN_FRAC_HEX}'
), test AS (
    SELECT * FROM documents
    WHERE NOT substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
          < '{TRAIN_FRAC_HEX}'
), train_tok AS (
    SELECT unnest(string_split(text, ' ')) AS w FROM train
), lm1 AS (
    SELECT w, count(*) AS c1 FROM train_tok GROUP BY w
), tot AS (
    SELECT count(*) AS n_train_tokens, count(DISTINCT w) AS v_train
    FROM train_tok
), train_bg AS (
    SELECT toks[CAST(i AS INT)] AS v, toks[CAST(i AS INT) + 1] AS w
    FROM (SELECT string_split(text, ' ') AS toks FROM train),
         unnest(range(1, len(toks))) t(i)
), lm2 AS (
    SELECT v, w, count(*) AS c2 FROM train_bg GROUP BY v, w
), pref AS (
    SELECT v, sum(c2) AS cv FROM lm2 GROUP BY v
), test_bg AS (
    SELECT doc_id, lang,
           toks[CAST(i AS INT)] AS v, toks[CAST(i AS INT) + 1] AS w
    FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks
          FROM test),
         unnest(range(1, len(toks))) t(i)
), scored AS (
    SELECT b.doc_id, b.lang,
           CAST(round(ln(
               COALESCE({BIGRAM_LAMBDA}
                        * (CAST(lm2.c2 AS DOUBLE) / pref.cv), 0.0)
               + {1.0 - BIGRAM_LAMBDA}
               * (CAST(COALESCE(lm1.c1, 0) + 1 AS DOUBLE)
                  / (tot.n_train_tokens + tot.v_train + 1))
           ), 10) AS DECIMAL(25,10)) AS logp
    FROM test_bg b
    LEFT JOIN lm2 ON b.v = lm2.v AND b.w = lm2.w
    LEFT JOIN pref ON b.v = pref.v
    LEFT JOIN lm1 ON b.w = lm1.w
    CROSS JOIN tot
), per_lang AS (
    SELECT lang, count(DISTINCT doc_id) AS n_test_docs,
           count(*) AS n_bigrams, sum(logp) AS lp_sum
    FROM scored GROUP BY lang
)
SELECT lang, n_test_docs, n_bigrams,
       round(CAST(lp_sum AS DOUBLE) / n_bigrams, 6) AS avg_logprob,
       round(exp(-round(CAST(lp_sum AS DOUBLE) / n_bigrams, 6)), 6)
           AS perplexity
FROM per_lang
"""


# --- word burstiness / adaptation -----------------------------------------


def word_burstiness_adaptation(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Word burstiness (Church & Gale 1995, "Poisson mixtures";
    Church 2000 "Empirical estimates of adaptation"): natural-language
    words ADAPT — seeing a word once makes a second occurrence in the
    same document far likelier than a Poisson process allows. Per
    term: the measured adaptation P(tf ≥ 2 | tf ≥ 1) = df₂/df versus
    the Poisson prediction (1 − e^{−λ} − λe^{−λ})/(1 − e^{−λ}) at the
    term's corpus rate λ = tf_total/N, and the excess. The
    burstiness_fano operator asks this about EVENT arrivals; this one
    asks it about tokens — the statistic that motivates tf-saturation
    in BM25 (k₁) and per-doc tf clipping in dedup shingles.

    Exactness: df/df₂/tf are exact ints; λ and the measured ratio are
    correctly-rounded int divisions; e^{−λ} is the one libm call —
    the prediction and excess are round(·,6)-pinned (the tf-idf ln
    convention), measured is round(·,10) (safe band).

    Scale: one (doc, term) combinable count (the tf relation every
    retrieval op shares), one term rollup, corpus size broadcast as a
    1-row aggregate. Vocabulary-bounded output.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (docs.select("doc_id",
                      F.explode(F.split("text", " ")).alias("w"))
          .groupBy("doc_id", "w")
          .agg(F.count(F.lit(1)).alias("tf")))
    per_term = (tf.groupBy("w")
                .agg(F.count(F.lit(1)).alias("df"),
                     F.sum(F.when(F.col("tf") >= 2, 1).otherwise(0))
                     .alias("df2"),
                     F.sum("tf").alias("tf_total")))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    lam = F.col("tf_total") / F.col("n_docs")
    e = F.exp(-lam)
    pred = (1 - e - lam * e) / (1 - e)
    return (per_term.crossJoin(n_docs)
            .select("w", "df", "df2", "tf_total",
                    F.round(F.col("df2") / F.col("df"), 10)
                    .alias("adaptation_measured"),
                    F.round(pred, 6).alias("adaptation_poisson"),
                    F.round(F.col("df2") / F.col("df") - pred, 6)
                    .alias("adaptation_excess")))


WORD_BURSTINESS_SQL = """
WITH tf AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w
    FROM documents
), tf2 AS (
    SELECT doc_id, w, count(*) AS tf FROM tf GROUP BY 1, 2
), per_term AS (
    SELECT w, count(*) AS df,
           CAST(sum(CASE WHEN tf >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS df2,
           CAST(sum(tf) AS BIGINT) AS tf_total
    FROM tf2 GROUP BY w
), n AS (SELECT count(*) AS n_docs FROM documents)
SELECT w, df, df2, tf_total,
       round(CAST(df2 AS DOUBLE) / df, 10) AS adaptation_measured,
       round((1 - exp(-(CAST(tf_total AS DOUBLE) / n_docs))
              - (CAST(tf_total AS DOUBLE) / n_docs)
                * exp(-(CAST(tf_total AS DOUBLE) / n_docs)))
             / (1 - exp(-(CAST(tf_total AS DOUBLE) / n_docs))), 6)
           AS adaptation_poisson,
       round(CAST(df2 AS DOUBLE) / df
             - (1 - exp(-(CAST(tf_total AS DOUBLE) / n_docs))
                - (CAST(tf_total AS DOUBLE) / n_docs)
                  * exp(-(CAST(tf_total AS DOUBLE) / n_docs)))
               / (1 - exp(-(CAST(tf_total AS DOUBLE) / n_docs))), 6)
           AS adaptation_excess
FROM per_term CROSS JOIN n
"""


# --- winnowing fingerprints -------------------------------------------------

WINNOW_K = 3   # tokens per k-gram
WINNOW_W = 4   # k-gram hashes per winnowing window


def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every ``WINNOW_K``-token
    k-gram, slide a ``WINNOW_W``-hash window over the hash sequence,
    and keep each window's MINIMUM hash. The selected set is the
    doc's fingerprint: any match of length >= W + K - 1 tokens between
    two documents is GUARANTEED to surface as a shared fingerprint
    (the paper's local-detection guarantee — pinned by the pure-Python
    property in tests/test_round7_ops.py), while storage shrinks to a
    measured density near the paper's 2/(W+1) expectation for random
    hashes. The local counterpart of ``rolling_hash_fingerprint`` and
    the substring-sensitive complement of MinHash (which fingerprints
    the bag, not positions).

    Per doc: k-gram count, window count, distinct selected
    fingerprints, measured density vs the 2/(W+1) literal.

    Exactness: hashes are the engine's md5-top-60-bit convention
    (`conv(hex,16,10)` == `('0x'||hex)::BIGINT`, bit-identical);
    window minima and distinct counts are integer ops. Density is one
    int/int division in [0,1], round(·,10). Short docs are total:
    fewer than K tokens -> 0 grams, fewer than W grams -> 0 windows,
    NULL density (the `functions/tokens.py` empty-safe discipline).

    Scale: a pure per-row array program — zero shuffle, no UDFs, the
    `repeated_ngram_span_mask` cost profile. At 100 TB the fingerprint
    SET (explode + band join, exactly the MinHash-LSH plan) is where
    the pair search would go; this operator is the per-doc selection
    stage, which parallelizes embarrassingly.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    grams = sliding_ngrams(toks, WINNOW_K)
    hashes = F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10)
                   .cast("bigint"))
    with_h = docs.select("doc_id", hashes.alias("h"))
    m = F.size("h")
    n_win = F.greatest(m - (WINNOW_W - 1), F.lit(0))
    starts = F.slice(F.transform("h", lambda _, i: i + 1), 1, n_win)
    selected = F.transform(
        starts, lambda i: F.array_min(F.slice("h", i, WINNOW_W)))
    return (with_h.select(
        "doc_id", m.alias("n_grams"), n_win.alias("n_windows"),
        F.size(F.array_distinct(selected)).alias("n_fingerprints"))
        .select("doc_id", "n_grams", "n_windows", "n_fingerprints",
                F.when(F.col("n_windows") > 0,
                       F.round(F.col("n_fingerprints")
                               / F.col("n_windows"), 10))
                .alias("density"),
                F.lit(round(2.0 / (WINNOW_W + 1), 10))
                .alias("expected_density")))


WINNOWING_SQL = f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), g AS (
    SELECT doc_id,
           list_transform(
               range(1, greatest(len(toks) - {WINNOW_K} + 2, 1)),
               i -> ('0x' || substring(md5(toks[CAST(i AS INT)]
                         || ' ' || toks[CAST(i AS INT) + 1]
                         || ' ' || toks[CAST(i AS INT) + 2]), 1, 15))
                    ::BIGINT) AS h
    FROM t
), w AS (
    SELECT doc_id, len(h) AS n_grams,
           greatest(len(h) - {WINNOW_W - 1}, 0) AS n_windows,
           list_transform(
               range(1, greatest(len(h) - {WINNOW_W} + 2, 1)),
               i -> list_min(h[CAST(i AS INT):CAST(i AS INT)
                               + {WINNOW_W - 1}])) AS sel
    FROM g
)
SELECT doc_id, n_grams, n_windows,
       len(list_distinct(sel)) AS n_fingerprints,
       CASE WHEN n_windows > 0
            THEN round(len(list_distinct(sel))
                       / CAST(n_windows AS DOUBLE), 10) END AS density,
       CAST({round(2.0 / (WINNOW_W + 1), 10)!r} AS DOUBLE)
           AS expected_density
FROM w
"""


# --- Heaps' law fit --------------------------------------------------------

HEAPS_BUCKET_DOCS = 16   # docs per curve checkpoint (see Scale note)


def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law diagnostic — the vocabulary-GROWTH scaling twin of
    ``zipf_law_fit``'s frequency-rank law: V(N) ≈ K·N^β (Heaps 1978;
    β ≈ 0.4-0.6 for natural text), fit by OLS of ln V on ln N over
    the corpus read in doc_id order. A corpus whose vocabulary
    saturates early (tiny β) is repetitive/templated; β near 1 means
    unbounded novelty (OCR noise, IDs) — both are pretraining red
    flags, and the tokenizer-vocab planner reads K, β directly.

    The curve is checkpointed every ``HEAPS_BUCKET_DOCS`` documents:
    per-bucket token totals and first-occurrence counts (a term
    credits the bucket of its MINIMUM doc_id) prefix-sum into
    (N, V) points at bucket boundaries.

    Exactness: the ``zipf_law_fit`` convention verbatim — integer
    counts, each ln round(·,10), each product re-rounded, moment sums
    over DECIMAL(25,10), fixed-order double fit rounded to 6 dp.

    Scale: one distinct (term, min doc_id) aggregation + one per-doc
    token count — both combinable; the prefix window runs over the
    BUCKET relation (n_docs / bucket-width rows), never the corpus:
    at 100 TB, widen HEAPS_BUCKET_DOCS so checkpoints stay ~1e3 and
    the window stays driver-trivial. No corpus-sized single-partition
    stage exists in the plan.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(f"doc_id div {HEAPS_BUCKET_DOCS}")
    nt_b = (docs.select(bucket.alias("bucket"),
                        F.size(F.split("text", " ")).alias("nt"))
            .groupBy("bucket").agg(F.sum("nt").alias("toks")))
    first = (docs.select("doc_id",
                         F.explode(F.split("text", " ")).alias("word"))
             .groupBy("word").agg(F.min("doc_id").alias("fd")))
    new_b = (first.select(F.expr(f"fd div {HEAPS_BUCKET_DOCS}")
                          .alias("bucket"))
             .groupBy("bucket").agg(F.count(F.lit(1)).alias("new_terms")))
    w = (Window.orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    curve = (nt_b.join(new_b, "bucket", "left")
             .select("bucket", "toks",
                     F.coalesce("new_terms", F.lit(0)).alias("nw"))
             .select(F.sum("toks").over(w).alias("n_cum"),
                     F.sum("nw").over(w).alias("v_cum")))
    dec = "decimal(25,10)"
    x = F.round(F.log(F.col("n_cum").cast("double")), 10)
    y = F.round(F.log(F.col("v_cum").cast("double")), 10)
    pts = curve.select(
        "n_cum", "v_cum",
        x.cast(dec).alias("x"), y.cast(dec).alias("y"),
        F.round(x * y, 10).cast(dec).alias("xy"),
        F.round(x * x, 10).cast(dec).alias("x2"))
    mom = pts.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.max("n_cum").alias("total_tokens"),
        F.max("v_cum").alias("vocab_size"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum("xy").alias("sxy"), F.sum("x2").alias("sx2"))
    k = F.col("n_points").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sx2 = F.col("sx2").cast("double")
    beta = (k * sxy - sx * sy) / (k * sx2 - sx * sx)
    # + 0.0 canonicalizes IEEE -0.0 (a saturated vocabulary makes the
    # slope numerator exactly zero, with sign differing by engine)
    return mom.select(
        "n_points", "total_tokens", "vocab_size",
        (F.round(beta, 6) + F.lit(0.0)).alias("heaps_beta"),
        (F.round((sy - beta * sx) / k, 6) + F.lit(0.0))
        .alias("heaps_ln_k"))


HEAPS_FIT_SQL = f"""
WITH nt_b AS (
    SELECT doc_id // {HEAPS_BUCKET_DOCS} AS bucket,
           sum(len(string_split(text, ' '))) AS toks
    FROM documents GROUP BY 1
), first AS (
    SELECT word, min(doc_id) AS fd
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents) GROUP BY word
), new_b AS (
    SELECT fd // {HEAPS_BUCKET_DOCS} AS bucket, count(*) AS new_terms
    FROM first GROUP BY 1
), curve AS (
    SELECT sum(n.toks) OVER (ORDER BY n.bucket
                             ROWS UNBOUNDED PRECEDING) AS n_cum,
           sum(COALESCE(w.new_terms, 0))
               OVER (ORDER BY n.bucket ROWS UNBOUNDED PRECEDING)
               AS v_cum
    FROM nt_b n LEFT JOIN new_b w ON n.bucket = w.bucket
), lns AS (
    SELECT n_cum, v_cum,
           round(ln(CAST(n_cum AS DOUBLE)), 10) AS x,
           round(ln(CAST(v_cum AS DOUBLE)), 10) AS y
    FROM curve
), pts AS (
    SELECT n_cum, v_cum,
           CAST(x AS DECIMAL(25,10)) AS x,
           CAST(y AS DECIMAL(25,10)) AS y,
           CAST(round(x * y, 10) AS DECIMAL(25,10)) AS xy,
           CAST(round(x * x, 10) AS DECIMAL(25,10)) AS x2
    FROM lns
), mom AS (
    SELECT count(*) AS n_points,
           CAST(max(n_cum) AS BIGINT) AS total_tokens,
           CAST(max(v_cum) AS BIGINT) AS vocab_size,
           sum(x) AS sx, sum(y) AS sy, sum(xy) AS sxy, sum(x2) AS sx2
    FROM pts
)
SELECT n_points, total_tokens, vocab_size,
       round((CAST(n_points AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n_points AS DOUBLE) * CAST(sx2 AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) + 0.0
           AS heaps_beta,
       round((CAST(sy AS DOUBLE)
              - (CAST(n_points AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n_points AS DOUBLE) * CAST(sx2 AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * CAST(sx AS DOUBLE))
             / CAST(n_points AS DOUBLE), 6) + 0.0 AS heaps_ln_k
FROM mom
"""


# --- Good-Turing frequency discounts ---------------------------------------

GT_MAX_R = 5  # report the low-count classes, where discounting matters


def good_turing_discounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing discounted counts over corpus TRIGRAM frequencies
    (Good 1953; Church & Gale 1991 used exactly this bigram/trigram
    setting): for each observed count r, the frequency of frequencies
    N_r and the discounted count r* = (r+1)·N_{r+1}/N_r, plus the total
    probability mass the r-class keeps, r*·N_r/N. r=1's class mass is
    simultaneously the Good-Turing estimate of UNSEEN-event mass — the
    number an n-gram LM must reserve before smoothing (Kneser-Ney's
    fixed D=3/4 in ``kneser_ney_bigram_logprob`` is the parametric
    shortcut for the same quantity; this op measures it nonparametrically
    from the corpus itself). Trigrams, not unigrams/bigrams: the ~65-word
    synthetic vocabulary saturates low bigram counts at sf0.1 (N_1 = 0),
    while the trigram table keeps every r ≤ 6 class populated at all
    three SFs (measured).

    Exactness: counts and N·r products are exact BIGINT end-to-end;
    r* and the class mass are built from ONE division each of
    bit-identical operands (correctly-rounded IEEE ops on identical
    expression trees), so no decimal pin is needed.

    Scale: two combinable aggregations (trigram counts — the corpus-
    sized shuffle any n-gram LM already pays — then the frequency-of-
    frequencies rollup over the TYPE table); the r+1 lookup is a self-
    join on the ≤max(r)-row FoF relation and the N total attaches as a
    broadcast 1-row relation. Nothing after the first groupBy is
    corpus-sized.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    counts = (docs.select(F.explode(sliding_ngrams(toks, 3)).alias("g"))
              .groupBy("g").agg(F.count(F.lit(1)).alias("r")))
    fof = counts.groupBy("r").agg(F.count(F.lit(1)).alias("n_r"))
    total = fof.agg(F.sum(F.col("r") * F.col("n_r")).alias("n_total"))
    nxt = fof.select((F.col("r") - F.lit(1)).alias("r"),
                     F.col("n_r").alias("n_next"))
    n_next = F.coalesce("n_next", F.lit(0))
    r_star = (((F.col("r") + F.lit(1)) * n_next).cast("double")
              / F.col("n_r").cast("double"))
    return (fof.filter(F.col("r") <= GT_MAX_R)
            .join(nxt, "r", "left")
            .crossJoin(total)
            .select(F.col("r").cast("bigint").alias("r"),
                    "n_r",
                    n_next.cast("bigint").alias("n_next"),
                    "n_total",
                    r_star.alias("r_star"),
                    (r_star * F.col("n_r").cast("double")
                     / F.col("n_total").cast("double"))
                    .alias("class_mass")))


GOOD_TURING_SQL = f"""
WITH counts AS (
    SELECT g, count(*) AS r FROM (
        SELECT unnest(list_transform(
                   range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
                   i -> string_split(text, ' ')[i] || ' ' ||
                        string_split(text, ' ')[i+1] || ' ' ||
                        string_split(text, ' ')[i+2])) AS g
        FROM documents
    ) GROUP BY g
), fof AS (
    SELECT r, count(*) AS n_r FROM counts GROUP BY r
), total AS (
    SELECT CAST(sum(r * n_r) AS BIGINT) AS n_total FROM fof
)
SELECT CAST(f.r AS BIGINT) AS r,
       f.n_r AS n_r,
       CAST(COALESCE(nx.n_r, 0) AS BIGINT) AS n_next,
       t.n_total AS n_total,
       CAST((f.r + 1) * COALESCE(nx.n_r, 0) AS DOUBLE)
           / CAST(f.n_r AS DOUBLE) AS r_star,
       CAST((f.r + 1) * COALESCE(nx.n_r, 0) AS DOUBLE)
           / CAST(f.n_r AS DOUBLE)
           * CAST(f.n_r AS DOUBLE) / CAST(t.n_total AS DOUBLE)
           AS class_mass
FROM fof f LEFT JOIN fof nx ON nx.r = f.r + 1, total t
WHERE f.r <= {GT_MAX_R}
"""


# --- word2vec negative-sampling distribution --------------------------------

NEG_TOP_K = 30  # report the head, where damping bites hardest


def negative_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The word2vec negative-sampling distribution (Mikolov et al.
    2013): P_neg(w) ∝ count(w)^(3/4) — the 3/4-power damping that
    keeps frequent words from dominating the negative draws, the same
    flattening family as ``mixture_sampling_weights``' α=0.5 language
    temperature but applied at the VOCABULARY level. Reports the
    top-``NEG_TOP_K`` head words with raw unigram probability, damped
    probability, and the damp ratio (<1 on the head, >1 on the tail —
    the mass the trick moves).

    Exactness: counts are exact integers; each c^0.75 is the one libm
    pow per TERM, round(·,6)-pinned to DECIMAL(25,6) (the engines'
    shared pow convention — bits may differ at the last ulp), the
    normalizer is an exact decimal sum of those pinned terms, and
    every probability/ratio is a division of bit-identical operands.

    Scale: one corpus-sized word count (combinable, 1 exchange);
    everything else runs on the vocabulary relation — the two totals
    attach as a broadcast 1-row relation and the head is
    TakeOrdered(K), never a global sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (docs.select(F.explode(F.split("text", " ")).alias("word"))
              .groupBy("word").agg(F.count(F.lit(1)).alias("c")))
    w6 = (F.round(F.pow(F.col("c").cast("double"), F.lit(0.75)), 6)
          .cast("decimal(25,6)"))
    weighted = counts.select("word", "c", w6.alias("w"))
    totals = weighted.agg(F.sum("w").alias("z"),
                          F.sum("c").alias("n_tokens"))
    p_uni = F.col("c").cast("double") / F.col("n_tokens").cast("double")
    p_neg = (F.col("w").cast("double") / F.col("z").cast("double"))
    return (weighted.crossJoin(totals)
            .select("word", "c",
                    F.col("w").cast("double").alias("damped_weight"),
                    p_uni.alias("p_unigram"),
                    p_neg.alias("p_negative"),
                    (p_neg / p_uni).alias("damp_ratio"))
            .orderBy(F.desc("c"), "word").limit(NEG_TOP_K))


NEGATIVE_SAMPLING_SQL = f"""
WITH counts AS (
    SELECT word, count(*) AS c FROM (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ) GROUP BY word
), weighted AS (
    SELECT word, c,
           CAST(round(pow(CAST(c AS DOUBLE), 0.75), 6)
                AS DECIMAL(25,6)) AS w
    FROM counts
), totals AS (
    SELECT sum(w) AS z, CAST(sum(c) AS BIGINT) AS n_tokens FROM weighted
)
SELECT word, c,
       CAST(w AS DOUBLE) AS damped_weight,
       CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS p_unigram,
       CAST(w AS DOUBLE) / CAST(z AS DOUBLE) AS p_negative,
       (CAST(w AS DOUBLE) / CAST(z AS DOUBLE))
           / (CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS damp_ratio
FROM weighted, totals
ORDER BY c DESC, word
LIMIT {NEG_TOP_K}
"""


# --- rank-biased overlap ranker agreement -----------------------------------

RBO_DEPTH = 10   # evaluation depth k
RBO_P = 0.9      # persistence: expected depth viewed = 1/(1-p) = 10
# per-depth coefficient of A_d in the truncated RBO sum,
# (1-p)·p^(d-1)/d, FROZEN to exact 15-digit decimal literals shared by
# both engines — so every term is exact DECIMAL×INT arithmetic and no
# runtime rounding exists to disagree about (Spark round() is HALF_UP
# on the double's exact binary expansion; DuckDB rounds in double
# space — they differ on near-half terms, found at sf0.001/0.01)
_RBO_C = [f"{(1 - RBO_P) * RBO_P ** (d - 1) / d:.15f}"
          for d in range(1, RBO_DEPTH + 1)]


def rbo_ranker_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-Biased Overlap between the BM25 and Dirichlet-QL rankings
    (Webber, Moffat & Zobel 2010) — the TOP-WEIGHTED agreement measure
    beside ``ranker_rank_correlation``'s Spearman ρ, which weights all
    depths equally: RBO_min@k = (1−p)·Σ_{d≤k} p^(d−1)·A_d/d, where A_d
    is the overlap of the two depth-d prefixes. Spearman answers "do
    the rankers order the POOL alike"; RBO answers "would a user who
    mostly looks at the top see the same results" — the question that
    actually gates a ranker swap in production. Both rankings come
    from the same shared builders over the same candidate set.

    A doc enters both depth-d prefixes iff max(r1, r2) ≤ d, so A_d is
    one conditional count and the truncated sum needs no per-prefix
    set intersection: each doc explodes to the depths [max(r1,r2)..k]
    it contributes to. Queries whose prefixes share nothing by depth k
    correctly score 0 (left-join + coalesce).

    Exactness: ranks and A_d are exact integers; each depth term is
    A_d × c_d where c_d = (1−p)·p^(d−1)/d is FROZEN to a 15-digit
    decimal literal shared by both formulations — the whole truncated
    sum is exact DECIMAL×INT arithmetic with no runtime rounding or
    pow anywhere (runtime round(·,10) was tried first and the two
    engines' rounding modes disagreed on a near-half term); overlap@k
    is one exact-operand division.

    Scale: the two score relations aggregate query-term postings only
    (the BM25/QL plans); ranks are per-query windows, the depth
    explode is ≤ k rows per candidate, and everything groups on the
    query-id keyed, candidate-bounded relation. Nothing corpus-sized
    shuffles twice, and the joined rank relation is materialized once
    for its two consumers.
    """
    bm = _bm25_per_doc(spark, sf_dir)
    ql = _ql_per_doc(spark, sf_dir)
    wa = Window.partitionBy("query_id").orderBy(
        F.col("score_sum").desc(), F.col("doc_id"))
    wb = Window.partitionBy("query_id").orderBy(
        F.col("ql_sum").desc(), F.col("doc_id"))
    ra = bm.select("query_id", "doc_id",
                   F.row_number().over(wa).alias("r1"))
    rb = ql.select("query_id", "doc_id",
                   F.row_number().over(wb).alias("r2"))
    # j feeds BOTH the base census and the depth explode — materialize
    # once (the multiply-referenced-relation rule) or Spark re-plans
    # the whole two-ranker pipeline per consumer
    j = truncate_lineage(
        ra.join(rb, ["query_id", "doc_id"])
        .select("query_id", F.greatest("r1", "r2").alias("m")))
    base = j.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(F.when(F.col("m") <= RBO_DEPTH, 1).otherwise(0))
        .alias("a_k"))
    coefs = F.array(*[F.lit(c).cast("decimal(16,15)")
                      for c in _RBO_C])
    depth = (j.filter(F.col("m") <= RBO_DEPTH)
             .select("query_id",
                     F.explode(F.sequence("m", F.lit(RBO_DEPTH)))
                     .alias("d"))
             .groupBy("query_id", "d")
             .agg(F.count(F.lit(1)).alias("a_d")))
    term = (F.col("a_d").cast("decimal(6,0)")
            * F.element_at(coefs, F.col("d")))
    rbo = (depth.select("query_id", term.alias("term"))
           .groupBy("query_id")
           .agg(F.sum("term").alias("rbo_dec")))
    return (base.join(rbo, "query_id", "left")
            .select("query_id", "n_candidates",
                    (F.col("a_k").cast("double") / F.lit(float(RBO_DEPTH)))
                    .alias("overlap_at_k"),
                    F.coalesce(F.col("rbo_dec").cast("double"),
                               F.lit(0.0)).alias("rbo_min")))


_RBO_C_SQL = ("[" + ", ".join(f"{c}::DECIMAL(16,15)"
                              for c in _RBO_C) + "]")

RBO_AGREEMENT_SQL = f"""
WITH bm AS (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score_sum DESC, doc_id) AS r1
    FROM ({{bm25}}
          SELECT query_id, doc_id, score_sum FROM per_doc) t
),
qlr AS (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY ql_sum DESC, doc_id) AS r2
    FROM ({{ql}}
          SELECT query_id, doc_id, ql_sum FROM per_doc) t
),
j AS (
    SELECT bm.query_id, greatest(r1, r2) AS m
    FROM bm JOIN qlr ON qlr.query_id = bm.query_id
                    AND qlr.doc_id = bm.doc_id
),
base AS (
    SELECT query_id, count(*) AS n_candidates,
           CAST(sum(CASE WHEN m <= {RBO_DEPTH} THEN 1 ELSE 0 END)
                AS BIGINT) AS a_k
    FROM j GROUP BY query_id
),
depth AS (
    SELECT query_id, g.d, count(*) AS a_d
    FROM j, LATERAL (SELECT unnest(generate_series(m, {RBO_DEPTH}))
                     AS d) g
    WHERE m <= {RBO_DEPTH}
    GROUP BY query_id, g.d
),
rbo AS (
    SELECT query_id,
           sum(CAST(a_d AS DECIMAL(6,0)) * ({_RBO_C_SQL})[d])
               AS rbo_dec
    FROM depth GROUP BY query_id
)
SELECT b.query_id, b.n_candidates,
       CAST(b.a_k AS DOUBLE) / {float(RBO_DEPTH)!r} AS overlap_at_k,
       COALESCE(CAST(r.rbo_dec AS DOUBLE), 0.0) AS rbo_min
FROM base b LEFT JOIN rbo r ON b.query_id = r.query_id
"""

RBO_AGREEMENT_SQL = RBO_AGREEMENT_SQL.format(
    bm25=_BM25_PREFIX_SQL,
    ql=_QL_PREFIX_SQL.format(values=_bm25_values_sql()))


# --- FORCAST readability gate ---------------------------------------------

FORCAST_EASY_MONO_RATE = 0.6  # grade 20 - 15r <= 11  <=>  r >= 0.6


def readability_forcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language readability readout via the FORCAST formula
    (Caylor et al. 1973): grade = 20 − monosyllables-per-150-words/10
    = 20 − 15·r with r the per-doc monosyllabic-word rate. FORCAST is
    the readability instrument designed for NON-NARRATIVE text — it
    uses no sentence boundaries, which is exactly right for this
    corpus (space-separated tokens, no punctuation) and for the
    boilerplate/list/table text a crawl is full of, where
    Flesch-Kincaid's sentence division is undefined. Joins the
    quality-gate family (gopher_quality_gate, doc_quality_stats) as
    the graded-difficulty axis none of them measure.

    Syllables: maximal ``[aeiouy]+`` vowel runs (the standard
    dictionary-free heuristic); a word is monosyllabic iff it has
    exactly one run. Both engines run the identical regex per word
    via higher-order ``filter`` — per-row expressions, no explode, no
    UDF.

    Exactness: r_d = m_d / w_d is ONE division of exact-integer
    operands (bit-identical); |r| ≤ 1 so round(·,10) → DECIMAL(25,10)
    pins it for the order-insensitive sum; the per-lang mean grade
    uses linearity (mean(20 − 15r) = 20 − 15·mean(r)) so no per-doc
    grade is ever rounded. The accessibility band compares r against
    the exact rational 0.6 threshold, not the derived grade.

    Scale: per-row token/filter expressions inside whole-stage
    codegen, then ONE combinable per-lang aggregation — a single
    exchange over ≤|langs| groups at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = F.size(F.split(F.col("text"), " "))
    mono = F.size(F.expr(
        "filter(split(text, ' '), "
        "w -> size(regexp_extract_all(w, '[aeiouy]+', 0)) = 1)"))
    r = mono.cast("double") / words.cast("double")
    per_doc = docs.select(
        "lang",
        F.round(r, 10).cast("decimal(25,10)").alias("r_dec"),
        (r >= F.lit(FORCAST_EASY_MONO_RATE)).cast("long").alias("easy"))
    return (per_doc.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("r_dec").alias("sr"),
                 F.sum("easy").alias("n_accessible"))
            .select("lang", "n_docs",
                    (F.lit(20.0) - F.lit(15.0)
                     * (F.col("sr").cast("double")
                        / F.col("n_docs").cast("double")))
                    .alias("mean_grade"),
                    "n_accessible",
                    (F.col("n_accessible").cast("double")
                     / F.col("n_docs").cast("double"))
                    .alias("accessible_share")))


READABILITY_FORCAST_SQL = f"""
WITH per_doc AS (
    SELECT lang,
           CAST(round(CAST(len(list_filter(string_split(text, ' '),
                     w -> len(regexp_extract_all(w, '[aeiouy]+')) = 1))
                     AS DOUBLE)
                      / CAST(len(string_split(text, ' ')) AS DOUBLE), 10)
                AS DECIMAL(25,10)) AS r_dec,
           CASE WHEN CAST(len(list_filter(string_split(text, ' '),
                     w -> len(regexp_extract_all(w, '[aeiouy]+')) = 1))
                     AS DOUBLE)
                     / CAST(len(string_split(text, ' ')) AS DOUBLE)
                     >= {FORCAST_EASY_MONO_RATE} THEN 1 ELSE 0 END AS easy
    FROM documents
)
SELECT lang, count(*) AS n_docs,
       20.0 - 15.0 * (CAST(sum(r_dec) AS DOUBLE)
                      / CAST(count(*) AS DOUBLE)) AS mean_grade,
       CAST(sum(easy) AS BIGINT) AS n_accessible,
       CAST(sum(easy) AS DOUBLE) / CAST(count(*) AS DOUBLE)
           AS accessible_share
FROM per_doc GROUP BY lang
"""


# --- RAKE keyphrase extraction --------------------------------------------

# RAKE's stopword list is the practitioner's knob (Rose et al. 2010 use
# SMART/Fox lists); on this corpus the analogous choice is the frozen
# high-frequency function-word set below — both engines inline the
# identical literals.
RAKE_STOPWORDS = ("the", "a", "data", "line", "row", "value",
                  "small", "fast")
RAKE_TOP = 20


def rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) as a pure
    relational program: token streams are split into candidate
    phrases at stopword boundaries, each word is scored deg(w)/
    freq(w) — degree counts co-membership in phrases, so words that
    appear inside long multi-word phrases outrank equally-frequent
    loners — and a phrase scores the sum of its word scores. Output
    is the top-20 phrases by score with their occurrence counts, the
    classic unsupervised keyword table.

    Exactness: phrase segmentation is a per-document running count of
    stopwords (window over a total order); deg/freq is one exact
    double division rounded to 10 (the fleet's df-ratio convention);
    the phrase score is a DECIMAL(25,10) sum of those pinned ratios —
    order-insensitive by construction; top-20 is a row_number over a
    total order.

    Scale: the phrase-id window is PARTITIONED BY doc_id; word scores
    are one combinable aggregation over the token relation; the only
    global window ranks the post-aggregation distinct-phrase relation.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w"))
    is_stop = F.col("w").isin(*RAKE_STOPWORDS)
    w_run = Window.partitionBy("doc_id").orderBy("pos")
    marked = toks.select(
        "doc_id", "pos", "w", is_stop.alias("is_stop"),
        F.sum(is_stop.cast("int")).over(w_run).alias("pid"))
    body = marked.filter(~F.col("is_stop"))
    w_ph = Window.partitionBy("doc_id", "pid")
    plens = body.withColumn("plen", F.count(F.lit(1)).over(w_ph))
    scores = (plens.groupBy("w")
              .agg(F.count(F.lit(1)).alias("freq"),
                   F.sum("plen").alias("deg"))
              .select("w", F.round(F.col("deg") / F.col("freq"), 10)
                      .alias("score_w")))
    phrases = (body.groupBy("doc_id", "pid")
               .agg(F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(
                           F.struct("pos", "w"))),
                       lambda s: s["w"]), " ").alias("phrase")))
    occ = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).alias("n_occurrences"))
    ph_words = occ.select(
        "phrase", "n_occurrences",
        F.explode(F.split("phrase", " ")).alias("w"))
    scored = (ph_words.join(scores, "w")
              .groupBy("phrase", "n_occurrences")
              .agg(F.count(F.lit(1)).alias("n_words"),
                   F.sum(F.col("score_w").cast("decimal(25,10)"))
                   .alias("sdec"))
              .select("phrase", "n_words", "n_occurrences",
                      F.col("sdec").cast("double").alias("score")))
    w_top = Window.orderBy(F.desc("score"), F.asc("phrase"))
    return (scored.withColumn(
        "rk", F.row_number().over(w_top).cast("bigint"))
        .filter(F.col("rk") <= RAKE_TOP)
        .select("rk", "phrase", "n_words", "n_occurrences", "score"))


_RAKE_STOPS_SQL = ", ".join(f"'{w}'" for w in RAKE_STOPWORDS)

RAKE_SQL = f"""
WITH toks AS (
    SELECT doc_id, ws[i] AS w, i AS pos,
           ws[i] IN ({_RAKE_STOPS_SQL}) AS is_stop
    FROM (SELECT doc_id, string_split(text, ' ') AS ws
          FROM documents),
         unnest(range(1, len(ws) + 1)) AS t(i)
), marked AS (
    SELECT doc_id, pos, w, is_stop,
           sum(CASE WHEN is_stop THEN 1 ELSE 0 END) OVER (
               PARTITION BY doc_id ORDER BY pos) AS pid
    FROM toks
), body AS (
    SELECT doc_id, pos, w, pid FROM marked WHERE NOT is_stop
), plens AS (
    SELECT *, count(*) OVER (PARTITION BY doc_id, pid) AS plen
    FROM body
), scores AS (
    SELECT w, count(*) AS freq, CAST(sum(plen) AS BIGINT) AS deg,
           round(CAST(sum(plen) AS BIGINT) / CAST(count(*) AS DOUBLE),
                 10) AS score_w
    FROM plens GROUP BY w
), phrases AS (
    SELECT doc_id, pid, string_agg(w, ' ' ORDER BY pos) AS phrase
    FROM body GROUP BY doc_id, pid
), occ AS (
    SELECT phrase, count(*) AS n_occurrences FROM phrases GROUP BY 1
), ph_words AS (
    SELECT phrase, n_occurrences,
           unnest(string_split(phrase, ' ')) AS w
    FROM occ
), scored AS (
    SELECT phrase, n_occurrences, count(*) AS n_words,
           CAST(sum(CAST(score_w AS DECIMAL(25,10))) AS DOUBLE)
               AS score
    FROM ph_words JOIN scores USING (w)
    GROUP BY phrase, n_occurrences
)
SELECT rk, phrase, n_words, n_occurrences, score
FROM (SELECT *, row_number() OVER (
          ORDER BY score DESC, phrase) AS rk
      FROM scored)
WHERE rk <= {RAKE_TOP}
"""


# --- Burrows' Delta stylometry --------------------------------------------

DELTA_TOP_WORDS = 20


def burrows_delta_stylometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta (Burrows 2002), the standard authorship-
    attribution distance, between every pair of sources: each
    source's relative frequencies of the corpus's top-20 words are
    z-scored against the across-source mean/σ of that word, and
    Δ(a,b) = mean_w |z_{w,a} − z_{w,b}| — the drift companion to
    `psi_drift_by_source`/`kl_divergence_by_source` that reads STYLE
    (function-word profile) rather than content, and the table a
    contamination hunt ranks source pairs by.

    Exactness: relative frequencies are exact divisions pinned at
    round 10 and accumulated as exact decimals (sums AND sums of
    decimal squares — no float ever accumulates); mean/σ/z and the
    |z|-difference means are fixed-order doubles over identical
    operands, with |z| diffs re-pinned at 10 before the decimal pair
    sum; σ=0 words contribute z=0 by convention.

    Scale: one (word, source) count aggregation; the top-K ranking
    and everything after run on vocab- and |sources|²-sized
    relations.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source",
                       F.explode(F.split("text", " ")).alias("w"))
    # materialized once: totals, the top-K ranking, the dense grid and
    # both z-join sides all branch from this relation — without the cut
    # each branch would re-scan and re-shuffle the token stream
    ws = truncate_lineage(toks.groupBy("w", "source").agg(
        F.count(F.lit(1)).alias("c")))
    totals = ws.groupBy("source").agg(F.sum("c").alias("tot"))
    vocab = ws.groupBy("w").agg(F.sum("c").alias("cw"))
    topk = (vocab.withColumn(
        "rk", F.row_number().over(
            Window.orderBy(F.desc("cw"), F.asc("w"))))
        .filter(F.col("rk") <= DELTA_TOP_WORDS).select("w"))
    grid = (topk.crossJoin(totals)
            .join(ws, ["w", "source"], "left")
            .select("w", "source",
                    F.round(F.coalesce("c", F.lit(0)).cast("double")
                            / F.col("tot").cast("double"), 10)
                    .cast("decimal(12,10)").alias("f")))
    mom = grid.groupBy("w").agg(
        F.count(F.lit(1)).alias("s"),
        F.sum("f").alias("sf"),
        F.sum(F.col("f") * F.col("f")).alias("sff"))
    sd = F.sqrt((F.col("sff").cast("double")
                 - F.col("sf").cast("double")
                 * F.col("sf").cast("double")
                 / F.col("s").cast("double"))
                / (F.col("s").cast("double") - 1.0))
    z = truncate_lineage(grid.join(mom, "w")
         .select("w", "source",
                 F.when(sd > 0,
                        (F.col("f").cast("double")
                         - F.col("sf").cast("double")
                         / F.col("s").cast("double")) / sd)
                 .otherwise(F.lit(0.0)).alias("z")))
    a = z.select(F.col("w").alias("w"),
                 F.col("source").alias("source_a"),
                 F.col("z").alias("z_a"))
    b = z.select(F.col("w").alias("wb"),
                 F.col("source").alias("source_b"),
                 F.col("z").alias("z_b"))
    pairs = (a.join(b, (F.col("w") == F.col("wb"))
                    & (F.col("source_a") < F.col("source_b")))
             .select("source_a", "source_b",
                     F.round(F.abs(F.col("z_a") - F.col("z_b")), 10)
                     .cast("decimal(25,10)").alias("az")))
    return (pairs.groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).alias("k_words"),
                 F.round(F.sum("az").cast("double")
                         / F.count(F.lit(1)), 6).alias("delta")))


BURROWS_DELTA_SQL = f"""
WITH toks AS (
    SELECT source, unnest(string_split(text, ' ')) AS w
    FROM documents
), ws AS (
    SELECT w, source, count(*) AS c FROM toks GROUP BY 1, 2
), totals AS (
    SELECT source, CAST(sum(c) AS BIGINT) AS tot FROM ws GROUP BY 1
), topk AS (
    SELECT w
    FROM (SELECT w, row_number() OVER (
              ORDER BY sum(c) DESC, w) AS rk
          FROM ws GROUP BY w)
    WHERE rk <= {DELTA_TOP_WORDS}
), grid AS (
    SELECT t.w, s.source,
           CAST(round(CAST(COALESCE(ws.c, 0) AS DOUBLE)
                      / CAST(s.tot AS DOUBLE), 10)
                AS DECIMAL(12,10)) AS f
    FROM topk t CROSS JOIN totals s
    LEFT JOIN ws ON ws.w = t.w AND ws.source = s.source
), mom AS (
    SELECT w, count(*) AS s, sum(f) AS sf, sum(f * f) AS sff
    FROM grid GROUP BY w
), z AS (
    SELECT g.w, g.source,
           CASE WHEN sqrt((CAST(sff AS DOUBLE)
                           - CAST(sf AS DOUBLE) * CAST(sf AS DOUBLE)
                             / CAST(s AS DOUBLE))
                          / (CAST(s AS DOUBLE) - 1.0)) > 0
                THEN (CAST(f AS DOUBLE)
                      - CAST(sf AS DOUBLE) / CAST(s AS DOUBLE))
                     / sqrt((CAST(sff AS DOUBLE)
                             - CAST(sf AS DOUBLE) * CAST(sf AS DOUBLE)
                               / CAST(s AS DOUBLE))
                            / (CAST(s AS DOUBLE) - 1.0))
                ELSE 0.0 END AS z
    FROM grid g JOIN mom USING (w)
), pairs AS (
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(round(abs(a.z - b.z), 10) AS DECIMAL(25,10)) AS az
    FROM z a JOIN z b
      ON a.w = b.w AND a.source < b.source
)
SELECT source_a, source_b, count(*) AS k_words,
       round(CAST(sum(az) AS DOUBLE) / count(*), 6) AS delta
FROM pairs GROUP BY 1, 2
"""
