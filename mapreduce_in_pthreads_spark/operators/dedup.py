"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, shingle-Jaccard similarity join, embedding
near-dup (north-star BASELINE.json; SURVEY.md §2.3 'Exact dedup' /
'Fuzzy dedup').

Everything except SimHash is fully oracle-expressible because the hash
primitive is md5 (identical hex output in Spark and DuckDB) and the
set math is integer-exact. SimHash uses xxhash64 (no DuckDB twin) →
rows-only check.

Scale design:
- exact dedup = hash-groupBy on the content key (or md5 fingerprint to
  avoid shuffling full text) — map-side combinable;
- MinHash/LSH: signatures are one aggregation over the shingle
  explosion; candidate generation joins on band buckets, so the
  shuffle is per-bucket, never all-pairs;
- the verify step computes true Jaccard ONLY for candidate pairs —
  the LSH contract that keeps 100 TB feasible;
- the plain Jaccard join exists as the exact baseline; its token-join
  blowup on hot shingles is the thing LSH avoids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.lineage import truncate_lineage
from ..sources.constants import constant_table
from ..sources.tables import load_table

N_HASHES = 8          # minhash signature length
N_BANDS = 4           # bands of 2 rows each: P(candidate) = 1-(1-j^2)^4
SHINGLE_K = 3         # word-trigram shingles
JACCARD_THRESHOLD = 0.5


# --- shared shingle pipeline --------------------------------------------

def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id → DISTINCT word-3-shingle set as an ARRAY column plus its
    size. Staying in the array domain is the key plan decision: the
    per-doc dedup (`array_distinct`) is a map-side expression, not a
    `distinct()` shuffle, and downstream set math (`array_intersect`)
    runs per-row. The only shuffles left in the dedup pipelines are the
    pair-generation joins.

    The result is MATERIALIZED (eager ``truncate_lineage``) and callers
    derive every branch (explode view, signatures, verify sides) from
    the one returned DataFrame. Measured rationale at sf0.1: without
    the barrier, each of the 4+ join branches re-planned the shingle
    expression independently, AND the explode's implied
    ``size(shset) > 0`` filter was pushed below the repartition — so
    the full trigram pipeline ran twice per branch with one of the
    runs on the SINGLE-partition scan side (28 s for the jaccard
    join). Checkpointing computes shingles exactly once, in parallel
    (11 s → 3 s). On a cluster, set the
    ``spark.mapreduce_in_pthreads.reliableCheckpoint`` conf (see
    ``functions/lineage.py``) to write the barrier to the reliable
    checkpoint dir instead — the same explicit materialization every
    production dedup pipeline puts between tokenization and pair
    generation."""
    docs = load_table(spark, sf_dir, "documents")
    # hash repartition BEFORE the shingle projection: the single
    # parquet file scans as ONE partition, so projecting first would
    # build every shingle single-threaded
    base = docs.select("doc_id", "text").repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id"))
    # Trigram construction via zip_with over shifted slices — NOT
    # transform(sequence, i -> toks[i]..): an outer-reference index
    # lambda re-evaluates split() per ELEMENT (no subexpression
    # elimination inside higher-order functions → O(tokens²) splits
    # per row); zip_with evaluates each argument array once per ROW.
    toks = F.split("text", " ")
    m = F.greatest(F.size(toks) - (SHINGLE_K - 1), F.lit(0))
    bi = F.zip_with(toks,
                    F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                    lambda x, y: F.concat_ws(" ", x, y))
    tri = F.zip_with(bi, F.slice(toks, 3, m),
                     lambda x, y: F.concat_ws(" ", x, y))
    # zip_with null-pads the shorter side; concat_ws drops nulls, so
    # the trailing entries are bi/unigrams — slice keeps the n-2 true
    # trigrams (and yields [] for docs under SHINGLE_K tokens, matching
    # the oracle's range() semantics).
    sh = F.array_distinct(F.slice(tri, 1, m))
    sets = base.select("doc_id", sh.alias("shset"),
                       F.size(sh).alias("n_shingles"))
    return truncate_lineage(sets)


def _explode_shingles(sets: DataFrame) -> DataFrame:
    """Exploded (doc_id, shingle) view of an already-materialized
    shingle-set DataFrame — already distinct per doc by construction."""
    return sets.select("doc_id", F.explode("shset").alias("shingle"))


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone exploded view (builds its own materialized sets —
    inside multi-branch pipelines derive from ONE `_shingle_sets`
    result instead)."""
    return _explode_shingles(_shingle_sets(spark, sf_dir))


# doc_id → distinct shingles (DuckDB twin; 1-indexed list access)
SHINGLES_SQL = """
SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(
               range(1, len(string_split(text, ' ')) - 1),
               i -> string_split(text, ' ')[i] || ' ' ||
                    string_split(text, ' ')[i+1] || ' ' ||
                    string_split(text, ' ')[i+2])) AS shingle
    FROM documents
)
"""


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: group by text, keep the lowest doc_id
    (deterministic survivor — dropDuplicates' arbitrary pick would not
    hash-match any oracle). At scale: group by md5(text) instead to
    avoid shuffling full documents; both shown via fingerprint col."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("fingerprint"))
        .agg(F.min("doc_id").alias("keep_doc_id"),
             F.count(F.lit(1)).alias("n_copies"))
    )


EXACT_DEDUP_SQL = """
SELECT md5(text) AS fingerprint,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


def jaccard_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard similarity join (the LSH baseline):
    pairs sharing ≥1 shingle, J = |A∩B| / (|A|+|B|-|A∩B|) ≥ threshold.
    Intersection sizes come from the shingle-keyed self-join +
    aggregation (inverted-index join — never an all-pairs cross
    product): with heavily shared shingles the pair stream is large, so
    counting matches in the aggregation beats re-joining the full
    shingle arrays onto every pair. Integer division in double is
    exact in both engines."""
    sets = _shingle_sets(spark, sf_dir)
    sh = _explode_shingles(sets)
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    na = sets.select(F.col("doc_id").alias("doc_a"),
                     F.col("n_shingles").alias("na"))
    nb = sets.select(F.col("doc_id").alias("doc_b"),
                     F.col("n_shingles").alias("nb"))
    return (
        shared.join(na, "doc_a").join(nb, "doc_b")
        .withColumn("jaccard",
                    F.col("shared")
                    / (F.col("na") + F.col("nb") - F.col("shared")))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "shared", "jaccard")
    )


JACCARD_JOIN_SQL = f"""
WITH sh AS ({SHINGLES_SQL}),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
shared AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
    FROM sh a JOIN sh b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, shared,
       shared / CAST(na.n + nb.n - shared AS DOUBLE) AS jaccard
FROM shared
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE shared / CAST(na.n + nb.n - shared AS DOUBLE) >= {JACCARD_THRESHOLD}
"""


# Minhash family: ONE md5 per shingle (top 60 bits parsed as int —
# Spark `conv(hex,16,10)` ≡ DuckDB `('0x'||hex)::BIGINT`, verified
# bit-identical), then N_HASHES affine permutations
# h_i(x) = (a_i·x + b_i) mod P over the Mersenne prime P = 2³¹-1.
# Rationale: the original family md5('i:'||shingle) recomputed md5
# N_HASHES× per shingle and dominated the sf0.1 bench (9.1 s); the
# affine permutations are integer codegen. Products stay < 2⁶² — no
# overflow in either engine.
P_MINHASH = 2_147_483_647
HASH_FAMILY = [
    (1103515245, 12345), (69069, 362437), (1664525, 1013904223),
    (22695477, 1), (134775813, 7), (214013, 2531011),
    (16807, 9), (48271, 11),
]
assert len(HASH_FAMILY) == N_HASHES


def _minhash_signatures(sets: DataFrame) -> DataFrame:
    """doc_id → N_HASHES minhash values, computed per-row with
    array_min over the shingle-set column — NO aggregation shuffle,
    and exactly one md5 per shingle (see HASH_FAMILY note).

    The result is MATERIALIZED (``truncate_lineage``) and NARROW
    (doc_id + 8 longs — callers take shset/n_shingles from ``sets``).
    Rationale (r11, guide §2.4 "don't recompute what a self-join can
    read twice"): every consumer feeds the band-bucket SELF-join
    (both sides) and the estimator entries additionally join sig back
    per pair side — without the barrier the md5-per-shingle transform
    and 8 permutation scans re-ran once PER BRANCH (2-4× per query).
    72 bytes/doc makes this the cheapest materialization in the
    pipeline; production LSH always persists signatures."""
    hashed = sets.withColumn(
        "harr",
        F.transform(
            "shset",
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10)
                       .cast("bigint") % P_MINHASH))
    def perm(a, b):
        # factory, not default-args: pyspark derives lambda arity from
        # the FULL signature, so `lambda h, a=a` would read as 3-ary
        return lambda h: (F.lit(a) * h + F.lit(b)) % P_MINHASH

    sig_cols = [
        F.array_min(F.transform("harr", perm(a, b))).alias(f"mh{i}")
        for i, (a, b) in enumerate(HASH_FAMILY)
    ]
    return truncate_lineage(hashed.select("doc_id", *sig_cols))


_MINHASH_COLS_SQL = ",\n       ".join(
    f"min(({a} * h + {b}) % {P_MINHASH}) AS mh{i}"
    for i, (a, b) in enumerate(HASH_FAMILY))
MINHASH_SIG_SQL = f"""
SELECT doc_id,
       {_MINHASH_COLS_SQL}
FROM (
    SELECT doc_id,
           ('0x' || substring(md5(shingle), 1, 15))::BIGINT
               % {P_MINHASH} AS h
    FROM ({SHINGLES_SQL}) sh
) hashed
GROUP BY doc_id
"""


def _lsh_candidate_pairs(sig):
    """Band-bucket candidate generation shared by the LSH dedup and
    the estimator-quality report: docs collide only on an equal
    2-minhash band bucket, so candidates come from a hash equi-join —
    never an all-pairs comparison. ONE definition so a band/width
    retune can never make the quality report evaluate a different
    candidate set than the dedup it measures."""
    bands = sig.select(
        "doc_id",
        F.posexplode(F.array(*[
            F.concat_ws("|", F.col(f"mh{2*b}").cast("string"),
                        F.col(f"mh{2*b+1}").cast("string"))
            for b in range(N_BANDS)
        ])).alias("band", "bucket"))
    a = bands.alias("a")
    b = bands.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())


def minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup detection, end to end:
    signature (8 minhashes) → 4 bands of 2 → band-bucket join for
    candidates → true-Jaccard verify at the threshold.

    The band join is the scale trick: docs collide only on equal band
    hashes, so candidate generation is a hash join on short strings —
    no all-pairs comparison at any point. False negatives are the LSH
    trade: P(detect) = 1-(1-J²)⁴ (≈0.9 at J=0.7).

    Plan shape: signature + banding are pure map-side expressions over
    the shingle-set arrays; the only shuffles are the band-bucket
    self-join and the pair distinct. Verification joins the two shingle
    sets back and intersects per-row — candidates only, exactly the
    LSH contract that keeps 100 TB feasible."""
    sets = _shingle_sets(spark, sf_dir)
    sig = _minhash_signatures(sets)
    cand = _lsh_candidate_pairs(sig)
    # verify candidates against true Jaccard (exact, candidates only;
    # same materialized `sets` — no recompute)
    sa = sets.select(F.col("doc_id").alias("doc_a"),
                     F.col("shset").alias("set_a"),
                     F.col("n_shingles").alias("na"))
    sb = sets.select(F.col("doc_id").alias("doc_b"),
                     F.col("shset").alias("set_b"),
                     F.col("n_shingles").alias("nb"))
    return (
        cand.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("shared", F.size(F.array_intersect("set_a", "set_b")))
        .withColumn("jaccard",
                    F.col("shared")
                    / (F.col("na") + F.col("nb") - F.col("shared")))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


_BAND_ROWS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, "
    f"mh{2*b}::VARCHAR || '|' || mh{2*b+1}::VARCHAR AS bucket "
    f"FROM sig" for b in range(N_BANDS))
# shared SQL: signature + band + candidate CTE bodies (keep the dedup
# and the estimator report on the SAME candidate definition)
_LSH_CAND_PREFIX_SQL = f"""
WITH sh AS ({SHINGLES_SQL}),
hashed AS (
    SELECT doc_id,
           ('0x' || substring(md5(shingle), 1, 15))::BIGINT
               % {P_MINHASH} AS h
    FROM sh
),
sig AS (
    SELECT doc_id, {_MINHASH_COLS_SQL}
    FROM hashed GROUP BY doc_id
),
bands AS ({_BAND_ROWS_SQL}),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)"""

MINHASH_LSH_SQL = f"""{_LSH_CAND_PREFIX_SQL},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
shared AS (
    SELECT c.doc_a, c.doc_b, count(*) AS shared
    FROM cand c
    JOIN sh ta ON ta.doc_id = c.doc_a
    JOIN sh tb ON tb.doc_id = c.doc_b AND tb.shingle = ta.shingle
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       shared / CAST(na.n + nb.n - shared AS DOUBLE) AS jaccard
FROM shared
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE shared / CAST(na.n + nb.n - shared AS DOUBLE) >= {JACCARD_THRESHOLD}
"""


_HEX = "0123456789abcdef"


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document: per token, the first 16 hex chars
    of md5 supply the bit pattern; each bit position accumulates +1/-1
    over tokens; the sign vector re-packs into the fingerprint (emitted
    as the 16-char hex string — no signed-64 overflow games in either
    engine). Near-dups differ in few bits (Hamming).

    Reproducibility design (oracle-upgraded round 4, VERDICT r3 item
    8): the original used ``xxhash64``, a Spark-internal hash with no
    DuckDB twin — fine for intra-engine dedup but unverifiable and
    non-portable. A FINGERPRINT's whole job is to be stable across
    engines and releases (the same argument as
    ``deterministic_sample_per_lang``'s md5 ordering), so md5 — bit
    identical everywhere — is the better operator, not just the
    testable one. Bit i (LSB=0) is bit (i mod 4) of hex nibble
    (15 - i div 4); ties (vote sum <= 0) clear the bit in both engines.

    Scale: one explode + one aggregation; the 64 bit-sums are a single
    map-side-combinable vector per doc."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word"))
    hx = F.substring(F.md5("word"), 1, 16)
    nib = [F.conv(F.substring(hx, n + 1, 1), 16, 10).cast("int")
           for n in range(16)]
    bit_sums = [
        F.sum(F.when(
            F.shiftright(nib[15 - i // 4], i % 4).bitwiseAND(1) == 1,
            1).otherwise(-1)).alias(f"b{i}")
        for i in range(64)
    ]
    per_doc = tok.groupBy("doc_id").agg(*bit_sums)
    hex_chars = F.array(*[F.lit(c) for c in _HEX])
    nibbles = []
    for n in range(16):
        v = None
        for p in range(4):
            bit = F.when(F.col(f"b{4 * (15 - n) + p}") > 0,
                         F.lit(1 << p)).otherwise(F.lit(0))
            v = bit if v is None else v + bit
        nibbles.append(F.element_at(hex_chars, v + 1))
    return per_doc.select("doc_id", F.concat(*nibbles).alias("simhash_hex"))


def _simhash_sql() -> str:
    bit_sums = ",\n           ".join(
        "sum(CASE WHEN (strpos('{hex}', substr(hx, {pos}, 1)) - 1) "
        "// {pw} % 2 = 1 THEN 1 ELSE -1 END) AS b{i}".format(
            hex=_HEX, pos=(15 - i // 4) + 1, pw=1 << (i % 4), i=i)
        for i in range(64))
    nibbles = ", ".join(
        "substr('{hex}', 1 + {bits}, 1)".format(
            hex=_HEX,
            bits=" + ".join(
                f"(CASE WHEN b{4 * (15 - n) + p} > 0 "
                f"THEN {1 << p} ELSE 0 END)"
                for p in range(4)))
        for n in range(16))
    return f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), h AS (
    SELECT doc_id, substr(md5(word), 1, 16) AS hx FROM tok
), bits AS (
    SELECT doc_id,
           {bit_sums}
    FROM h GROUP BY doc_id
)
SELECT doc_id, concat({nibbles}) AS simhash_hex FROM bits
"""


SIMHASH_SQL = _simhash_sql()


SIMHASH_HAMMING_MAX = 3   # near-dup = fingerprints differing in <= 3 bits
SIMHASH_BANDS = 4         # 4 disjoint 16-bit bands over the 64-bit hash


def simhash_hamming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate PAIRS at Hamming distance ≤ 3 via the
    Manku-Jain-Sarma banding trick (WWW 2007, Google's web near-dup
    detector): split the 64-bit fingerprint into 4 disjoint 16-bit
    bands; by pigeonhole, any pair differing in ≤ 3 bits agrees
    EXACTLY on at least one band, so an equi-join on (band, band
    value) generates every qualifying pair — blocking here is
    lossless, unlike MinHash-LSH's probabilistic bands — and the
    exact nibble-wise popcount verifies candidates only (measured at
    sf0.1: 191 K candidates vs 12.5 M all-pairs, a 65× prune).

    Exactness: the fingerprint is the md5-vote ``simhash_fingerprints``
    relation (bit-identical across engines); Hamming distance is 16
    nibble XOR popcounts — pure integers.

    Scale: the fingerprint relation is built once (lineage-truncated —
    it feeds both join sides); candidates shuffle on (band, value)
    buckets, never all-pairs; hot buckets are real-corpus rare (a
    16-bit band has 65 536 values) and AQE skew-split covers the rest.
    """
    fp = truncate_lineage(simhash_fingerprints(spark, sf_dir))
    bands = fp.select(
        "doc_id", "simhash_hex",
        F.explode(F.array(*[F.lit(b) for b in range(SIMHASH_BANDS)]))
        .alias("band"))
    bands = bands.withColumn(
        "bv", F.col("simhash_hex").substr(F.col("band") * 4 + 1, F.lit(4)))
    a = bands.select(F.col("doc_id").alias("doc_a"),
                     F.col("simhash_hex").alias("hex_a"), "band", "bv")
    b = bands.select(F.col("doc_id").alias("doc_b"),
                     F.col("simhash_hex").alias("hex_b"), "band", "bv")
    cand = (a.join(b, ["band", "bv"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", "hex_a", "hex_b")
            .distinct())

    def nib(col: str, p: int):
        return F.conv(F.substring(col, p, 1), 16, 10).cast("int")

    ham = sum(
        F.bit_count(nib("hex_a", p).bitwiseXOR(nib("hex_b", p)))
        for p in range(1, 17))
    return (cand.withColumn("hamming", ham.cast("int"))
            .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
            .select("doc_a", "doc_b", "hamming"))


_HAMMING_TERMS_SQL = " + ".join(
    f"bit_count(xor(strpos('{_HEX}', substr(hex_a, {p}, 1)) - 1, "
    f"strpos('{_HEX}', substr(hex_b, {p}, 1)) - 1))"
    for p in range(1, 17))

SIMHASH_HAMMING_SQL = f"""
WITH sh AS ({{simhash}}),
bands AS (
    SELECT doc_id, simhash_hex, b AS band,
           substr(simhash_hex, b * 4 + 1, 4) AS bv
    FROM sh, unnest([0, 1, 2, 3]) AS t(b)
), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.simhash_hex AS hex_a, b.simhash_hex AS hex_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST({_HAMMING_TERMS_SQL} AS INTEGER) AS hamming
FROM cand
WHERE {_HAMMING_TERMS_SQL} <= {SIMHASH_HAMMING_MAX}
""".format(simhash=SIMHASH_SQL)


# Above this row count the exact all-pairs path is never the plan:
# n^2/2 cosine evaluations at 50k rows is 1.25e9 — the last size where
# "exact" is defensible on one executor-hour budget. Past it, pairs are
# blocked by coarse cell (the IVF quantizer stand-in), trading recall
# for an equi-join plan — the same candidate-pruning shape as
# minhash_lsh_dedup's band buckets.
# Gate sized from the round-9 measured probe: the exact path is
# n²/2 pairs × a D-dim expression cosine, so 5k rows ≈ 12.5M pairs
# (tens of seconds); the previous 50k admitted 1.25G pairs — at the
# probe's 20k-row sf1.0 it produced 200M pairs on the scan's 2
# file-split partitions and ran >25 min as a single straggler task.
EMBEDDING_EXACT_MAX_ROWS = 5_000


def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine ≥ 0.9).

    Small inputs (≤ EMBEDDING_EXACT_MAX_ROWS) take the exact all-pairs
    theta join — the expression chain is bit-exact with DuckDB's
    list_cosine_similarity on DOUBLE[], so the oracle check compares
    the full answer. Larger inputs are automatically routed through
    cell-blocked candidate generation: only pairs sharing a TRAINED
    coarse-quantizer cell (``quantizer._train``, K ∝ n — since round
    10; the earlier fixed ``label`` blocking kept ~constant cell
    count, so cell populations and within-cell pair work grew
    quadratically with the corpus, the reciprocal_nn_pairs bug class)
    are scored, turning the O(n²) cartesian into an equi-join whose
    pair space stays ≈ n·KM_TARGET_CELL. Recall < 1 on the blocked
    path by design — identical to every production near-dup system
    (candidate generation + exact verify).

    The size gate reads parquet footer stats driver-side
    (``table_row_count_hint``) — no ``count()`` action, so picking
    the strategy costs a footer read, not a full scan of the corpus
    (VERDICT r3 item 3). An unreadable footer (no stats available)
    defaults to the blocked scale path, never the O(n²) one."""
    from ..functions.vectors import dot, l2_norm
    from ..sources.tables import table_row_count_hint

    n_rows = table_row_count_hint(sf_dir, "embeddings")
    if n_rows is not None and n_rows <= EMBEDDING_EXACT_MAX_ROWS:
        # r11 (guide §2.2, the quantizer `_coded` hazard class): the
        # single-file embeddings scan yields 1-2 partitions, so the
        # n²/2-pair theta join inherited ONE task regardless of core
        # count — round-robin repartitioning first spreads the pair
        # work (measured at sf0.1: 25.9 → 1.5 s on local[32];
        # identical pair set, per-pair expressions, and
        # order-insensitive output).
        from ..sources.tables import load_embeddings_parallel

        src = load_embeddings_parallel(spark, sf_dir).select(
            "vec_id", "embedding")
    else:  # scale path: train + assign the K ∝ n coarse quantizer
        from .quantizer import _assign, _train

        coded, _, cents_final, _ = _train(spark, sf_dir)
        src = _assign(coded, cents_final).select(
            "vec_id", "embedding", "cell")
    # Per-row norm computed once per SIDE, not once per pair — at n
    # candidates per vector that deletes 2n of the 3n aggregations
    # (identical doubles: same expressions, same multiply order).
    a = src.select(F.col("vec_id").alias("vec_a"),
                   F.col("embedding").alias("ea"),
                   *([F.col("cell").alias("cell_a")]
                     if "cell" in src.columns else []),
                   l2_norm("embedding").alias("nrm_a"))
    b = src.select(F.col("vec_id").alias("vec_b"),
                   F.col("embedding").alias("eb"),
                   *([F.col("cell").alias("cell_b")]
                     if "cell" in src.columns else []),
                   l2_norm("embedding").alias("nrm_b"))
    if "cell" in src.columns:
        pairs = a.join(
            b, (F.col("cell_a") == F.col("cell_b"))
            & (F.col("vec_a") < F.col("vec_b")))
    else:
        pairs = a.join(b, F.col("vec_a") < F.col("vec_b"))
    return (
        pairs
        .withColumn("cos_sim",
                    dot("ea", "eb") / (F.col("nrm_a") * F.col("nrm_b")))
        .filter(F.col("cos_sim") >= 0.9)
        .select("vec_a", "vec_b", "cos_sim")
    )


EMBEDDING_NEAR_DUP_SQL = """
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                              CAST(b.embedding AS DOUBLE[])) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.9
"""


# --- exact duplicate-span detection -------------------------------------

SPAN_NGRAM = 5     # word n-gram width for span matching
SPAN_DF_CAP = 20   # drop n-grams present in more than this many docs
SPAN_MIN_RUN = 2   # report runs of >= 2 consecutive shared n-grams


def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-SPAN detection: for every document pair that
    shares a run of >= ``SPAN_MIN_RUN`` consecutive word-5-grams,
    report the longest shared span and how much text it covers — the
    substring-level dedup signal (copy-pasted boilerplate, licence
    headers, syndicated articles) that document-level exact/MinHash
    dedup cannot see because the *rest* of the documents differ. This
    is the distributed n-gram-join formulation of exact substring
    deduplication (the suffix-array recipe from "Deduplicating
    Training Data Makes Language Models Better", Lee et al. 2022,
    re-expressed as dataflow): a shared span of length L appears as
    L - N + 1 consecutive n-gram matches on one (doc_a, doc_b,
    pa - pb) diagonal, so spans fall out of a gaps-and-islands window
    over the match coordinates.

    Scale design: (1) n-grams are generated per-row by expression
    (transform over sequence) — no UDF, no pre-join shuffle; (2) the
    hot-gram guard removes n-grams with document frequency >
    ``SPAN_DF_CAP`` via a broadcast anti-join BEFORE pair generation,
    so one viral quote cannot create a quadratic gram group (the same
    hub-degree cap ``triangle_count`` uses); (3) the self-join
    shuffles on the gram hash with pair fan-out bounded by
    DF_CAP²/2 per gram; (4) islands need one more shuffle on
    (doc_a, doc_b) — window + combinable count. Nothing is quadratic
    in corpus size; production tunes N up (8-13 words) which only
    *shrinks* the join. All outputs are integers — exact cross-engine
    oracle. Reference has no text-similarity surface (SURVEY.md §2.1);
    north-star dedup family row.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    grams_arr = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (SPAN_NGRAM - 1)),
        lambda i: F.struct(
            i.alias("pos"),
            F.concat_ws(" ", F.slice(toks, i, SPAN_NGRAM)).alias("g")))
    grams = (
        docs.filter(F.size(toks) >= SPAN_NGRAM)
        .select("doc_id", F.explode(grams_arr).alias("e"))
        .select("doc_id", F.col("e.pos").alias("pos"),
                F.col("e.g").alias("g")))
    hot = (grams.groupBy("g")
           .agg(F.countDistinct("doc_id").alias("df"))
           .filter(F.col("df") > SPAN_DF_CAP)
           .select("g"))
    cold = grams.join(hot, "g", "left_anti")
    a = cold.select(F.col("doc_id").alias("doc_a"),
                    F.col("pos").alias("pa"), "g")
    b = cold.select(F.col("doc_id").alias("doc_b"),
                    F.col("pos").alias("pb"), "g")
    # r11 (guide §3.1/§2.4): force the gram self-join onto the shuffle
    # path. Left alone, the planner BROADCASTS the cold side (a
    # corpus-sized gram relation — 200 MB at sf0.1, ~2 GB at sf1.0, an
    # OOM hazard at 100 TB), and the broadcast build re-evaluates the
    # gram-generation expression (the query's most expensive per-row
    # work) a second time. Shuffling instead makes both sides'
    # scan→gram-gen→anti-join subtrees canonical twins, so AQE
    # exchange reuse materializes the gram relation ONCE (executed
    # plan: 1 ReusedExchange). Measured: sf0.1 6.6 → 4.9 s, sf1.0
    # 75 → 40-45 s, rows identical at both scales.
    matches = (a.join(b.hint("shuffle_hash"), "g")
               .filter(F.col("doc_a") < F.col("doc_b"))
               .select("doc_a", "doc_b", "pa", "pb",
                       (F.col("pa") - F.col("pb")).alias("diag")))
    from pyspark.sql import Window
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = (
        matches
        .withColumn("isl", F.col("pa") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "isl")
        .agg(F.count(F.lit(1)).alias("run_len"))
        .filter(F.col("run_len") >= SPAN_MIN_RUN))
    span_toks = F.col("run_len") + (SPAN_NGRAM - 1)
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(F.max(span_toks).alias("max_span_tokens"),
             F.count(F.lit(1)).alias("n_spans"),
             F.sum(span_toks).alias("span_tokens"))
    )


DUPLICATE_SPANS_SQL = f"""
WITH g0 AS (
    SELECT doc_id,
           list_transform(
               range(1, len(string_split(text, ' ')) - {SPAN_NGRAM - 2}),
               i -> struct_pack(
                   pos := i,
                   g := array_to_string(
                       list_slice(string_split(text, ' '),
                                  i, i + {SPAN_NGRAM - 1}), ' '))) AS lst
    FROM documents
    WHERE len(string_split(text, ' ')) >= {SPAN_NGRAM}
), grams AS (
    SELECT doc_id, unnest(lst, recursive := true) FROM g0
), hot AS (
    SELECT g FROM grams GROUP BY g
    HAVING count(DISTINCT doc_id) > {SPAN_DF_CAP}
), cold AS (
    SELECT * FROM grams ANTI JOIN hot USING (g)
), matches AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.pos AS pa, a.pos - b.pos AS diag
    FROM cold a JOIN cold b ON a.g = b.g AND a.doc_id < b.doc_id
), runs AS (
    SELECT doc_a, doc_b, count(*) AS run_len
    FROM (
        SELECT doc_a, doc_b, diag,
               pa - row_number() OVER (
                   PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS isl
        FROM matches
    ) GROUP BY doc_a, doc_b, diag, isl
    HAVING count(*) >= {SPAN_MIN_RUN}
)
SELECT doc_a, doc_b,
       max(run_len + {SPAN_NGRAM - 1}) AS max_span_tokens,
       count(*) AS n_spans,
       CAST(sum(run_len + {SPAN_NGRAM - 1}) AS BIGINT) AS span_tokens
FROM runs GROUP BY doc_a, doc_b
"""


def minhash_estimate_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator evaluation: for every LSH candidate pair,
    the signature-agreement Jaccard estimate (agreeing minhashes / 8)
    next to the exact shingle Jaccard and the absolute error — the
    dedup-family counterpart of ``ann_recall_report`` ("how good is
    the sketch that gates the expensive verify?"), and the
    measurement behind choosing N_HASHES/N_BANDS.

    Exactness: agreement counts are integers (est = k/8 is an exact
    double); exact Jaccard is the same fixed-order division the LSH
    verify uses; the error is one subtract + abs, rounded to 6 dp.

    Scale: candidates come from the same band-bucket equi-join as
    ``minhash_lsh_dedup`` (never all-pairs); signatures re-join as
    8-int rows keyed by doc_id.
    """
    sets = _shingle_sets(spark, sf_dir)
    sig = _minhash_signatures(sets)
    cand = _lsh_candidate_pairs(sig)
    siga = sig.select(F.col("doc_id").alias("doc_a"),
                      *[F.col(f"mh{i}").alias(f"a{i}")
                        for i in range(N_HASHES)])
    sigb = sig.select(F.col("doc_id").alias("doc_b"),
                      *[F.col(f"mh{i}").alias(f"b{i}")
                        for i in range(N_HASHES)])
    agree = sum(
        (F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
         for i in range(N_HASHES)), F.lit(0))
    sa = sets.select(F.col("doc_id").alias("doc_a"),
                     F.col("shset").alias("set_a"),
                     F.col("n_shingles").alias("na"))
    sb = sets.select(F.col("doc_id").alias("doc_b"),
                     F.col("shset").alias("set_b"),
                     F.col("n_shingles").alias("nb"))
    return (cand.join(siga, "doc_a").join(sigb, "doc_b")
            .withColumn("n_agree", agree.cast("bigint"))
            .join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("shared",
                        F.size(F.array_intersect("set_a", "set_b")))
            .withColumn("jaccard",
                        F.col("shared")
                        / (F.col("na") + F.col("nb") - F.col("shared")))
            .select("doc_a", "doc_b", "n_agree",
                    F.round(F.col("n_agree") / N_HASHES, 6)
                    .alias("est_jaccard"),
                    F.round("jaccard", 6).alias("jaccard"),
                    F.round(F.abs(F.col("n_agree") / N_HASHES
                                  - F.col("jaccard")), 6)
                    .alias("abs_err")))


_SIG_AGREE_SQL = " + ".join(
    f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END"
    for i in range(N_HASHES))
MINHASH_ESTIMATE_SQL = f"""{_LSH_CAND_PREFIX_SQL},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
shared AS (
    SELECT c.doc_a, c.doc_b, count(*) AS shared
    FROM cand c
    JOIN sh ta ON ta.doc_id = c.doc_a
    JOIN sh tb ON tb.doc_id = c.doc_b AND tb.shingle = ta.shingle
    GROUP BY 1, 2
),
agree AS (
    SELECT c.doc_a, c.doc_b,
           {_SIG_AGREE_SQL} AS n_agree
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.doc_a
    JOIN sig sb ON sb.doc_id = c.doc_b
)
SELECT c.doc_a, c.doc_b, CAST(g.n_agree AS BIGINT) AS n_agree,
       round(CAST(g.n_agree AS DOUBLE) / {N_HASHES}, 6) AS est_jaccard,
       round(COALESCE(s.shared, 0)
             / CAST(na.n + nb.n - COALESCE(s.shared, 0) AS DOUBLE), 6)
           AS jaccard,
       round(abs(CAST(g.n_agree AS DOUBLE) / {N_HASHES}
                 - COALESCE(s.shared, 0)
                   / CAST(na.n + nb.n - COALESCE(s.shared, 0)
                          AS DOUBLE)), 6) AS abs_err
FROM cand c
JOIN agree g ON g.doc_a = c.doc_a AND g.doc_b = c.doc_b
LEFT JOIN shared s ON s.doc_a = c.doc_a AND s.doc_b = c.doc_b
JOIN sizes na ON na.doc_id = c.doc_a
JOIN sizes nb ON nb.doc_id = c.doc_b
"""


# --- containment / overlap-coefficient dedup ----------------------------

CONTAINMENT_THRESHOLD = 0.6   # rounded overlap >= this is a near-dup pair
CONTAINMENT_DF_CAP = 50       # drop shingles present in more docs (hub guard)


def containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap-coefficient (containment) near-dup pairs:
    ``|A∩B| / min(|A|, |B|)`` over DF-CAPPED word-trigram shingle
    sets — the measure that catches SUBSET duplication (a short doc
    embedded inside a longer one), which Jaccard structurally
    under-scores: for A ⊆ B, J = |A|/|B| shrinks with the size ratio
    while the overlap coefficient stays 1.0 (Broder's resemblance-
    vs-containment distinction, the boilerplate/quotation case every
    pretraining dedup pass hits).

    Scale: unlike the exact-Jaccard baseline (`jaccard_similarity_join`,
    deliberately uncapped), the pair join here runs on the df-capped
    posting relation — shingles in more than ``CONTAINMENT_DF_CAP``
    docs never generate pairs, so per-shingle fan-out is bounded by
    CAP²/2 (the `duplicate_spans` hot-gram guard applied to whole-set
    dedup). Set sizes are counted over the same capped space, so the
    score remains a true overlap coefficient of the discriminative-
    shingle sets.

    Exactness: all counts are integers; the overlap is one correctly-
    rounded double division, and the threshold compares the ROUNDED
    value on both engines (no ulp boundary).
    """
    sets = _shingle_sets(spark, sf_dir)
    sh = _explode_shingles(sets)
    rare = (sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= CONTAINMENT_DF_CAP)
            .select("shingle"))
    # the capped posting relation feeds sizes + both pair-join legs —
    # materialize it once instead of replaying the df-cap join thrice
    shr = truncate_lineage(sh.join(rare, "shingle"))
    sizes = shr.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = shr.alias("a")
    b = shr.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared")))
    na = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n").alias("n_b"))
    return (shared.join(na, "doc_a").join(nb, "doc_b")
            .withColumn("overlap", F.round(
                F.col("shared").cast("double")
                / F.least(F.col("n_a"), F.col("n_b")).cast("double"), 6))
            .filter(F.col("overlap") >= CONTAINMENT_THRESHOLD)
            .select("doc_a", "doc_b", "n_a", "n_b", "shared", "overlap"))


CONTAINMENT_DEDUP_SQL = f"""
WITH sh AS ({SHINGLES_SQL}),
rare AS (
    SELECT shingle FROM (
        SELECT shingle, count(*) AS df FROM sh GROUP BY shingle
    ) WHERE df <= {CONTAINMENT_DF_CAP}
),
shr AS (SELECT s.doc_id, s.shingle FROM sh s JOIN rare USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n FROM shr GROUP BY doc_id),
shared AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
    FROM shr a JOIN shr b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, na.n AS n_a, nb.n AS n_b, shared,
       round(CAST(shared AS DOUBLE) / least(na.n, nb.n), 6) AS overlap
FROM shared
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE round(CAST(shared AS DOUBLE) / least(na.n, nb.n), 6)
      >= {CONTAINMENT_THRESHOLD}
"""


# --- incremental dedup: incoming batch vs existing corpus ---------------

DELTA_EXISTING_HEX = "c"   # md5(doc_id)[0] < 'c' → existing corpus (75%)


def delta_dedup_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (asymmetric) dedup — the ingestion-time shape every
    production pipeline actually runs: dedup an INCOMING batch against
    the EXISTING training corpus, never the corpus against itself.
    Membership is a deterministic md5 split (the
    `hash_train_test_split` contract): ~75% of docs play the standing
    corpus, ~25% the new crawl snapshot. Per incoming doc the manifest
    reports exact-duplicate membership (md5 fingerprint seen in the
    corpus), the count of near-duplicate corpus docs (the
    MinHash-LSH candidate pipeline REUSED VERBATIM —
    `_lsh_candidate_pairs` + true-Jaccard verify — restricted to
    cross-membership pairs), and the resulting
    drop_exact / drop_near / keep decision.

    Scale: identical to `minhash_lsh_dedup` (band-bucket equi-join
    candidates, verify only candidates) plus one cross-membership
    filter — the asymmetry COSTS nothing and halves the verified
    pairs; the exact check is a fingerprint semi-join (16-byte keys,
    never text). At 100 TB the existing side's signatures/fingerprints
    would be read from the catalog instead of recomputed — the plan
    below the membership filter is unchanged.

    Exactness: fingerprints and counts are exact; the Jaccard verify
    is integer-ratio arithmetic (the proven contract).
    """
    docs = load_table(spark, sf_dir, "documents")
    member = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    mem = docs.select(
        "doc_id", F.md5("text").alias("fingerprint"),
        (member < F.lit(DELTA_EXISTING_HEX)).alias("is_existing"))
    existing_fp = (mem.filter("is_existing")
                   .select("fingerprint").distinct()
                   .withColumn("fp_exists", F.lit(1)))
    incoming = (mem.filter(~F.col("is_existing"))
                .select("doc_id", "fingerprint"))

    sets = _shingle_sets(spark, sf_dir)
    sig = _minhash_signatures(sets)
    cand = _lsh_candidate_pairs(sig)
    m_a = mem.select(F.col("doc_id").alias("doc_a"),
                     F.col("is_existing").alias("ex_a"))
    m_b = mem.select(F.col("doc_id").alias("doc_b"),
                     F.col("is_existing").alias("ex_b"))
    sa = sets.select(F.col("doc_id").alias("doc_a"),
                     F.col("shset").alias("set_a"),
                     F.col("n_shingles").alias("na"))
    sb = sets.select(F.col("doc_id").alias("doc_b"),
                     F.col("shset").alias("set_b"),
                     F.col("n_shingles").alias("nb"))
    near = (
        cand.join(m_a, "doc_a").join(m_b, "doc_b")
        .filter(F.col("ex_a") != F.col("ex_b"))
        .join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("shared",
                    F.size(F.array_intersect("set_a", "set_b")))
        .withColumn("jaccard",
                    F.col("shared")
                    / (F.col("na") + F.col("nb") - F.col("shared")))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select(F.when(~F.col("ex_a"), F.col("doc_a"))
                .otherwise(F.col("doc_b")).alias("doc_id")))
    near_counts = near.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_near"))
    return (
        incoming
        .join(existing_fp, "fingerprint", "left")
        .join(near_counts, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("fp_exists", F.lit(0)).cast("bigint")
            .alias("is_exact_dup"),
            F.coalesce("n_near", F.lit(0)).cast("bigint")
            .alias("n_near_dups"),
            F.when(F.coalesce("fp_exists", F.lit(0)) == 1,
                   F.lit("drop_exact"))
            .when(F.coalesce("n_near", F.lit(0)) > 0,
                  F.lit("drop_near"))
            .otherwise(F.lit("keep")).alias("decision")))


DELTA_DEDUP_SQL = f"""{_LSH_CAND_PREFIX_SQL},
mem AS (
    SELECT doc_id, md5(text) AS fingerprint,
           substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
               < '{DELTA_EXISTING_HEX}' AS is_existing
    FROM documents
),
existing_fp AS (SELECT DISTINCT fingerprint FROM mem WHERE is_existing),
incoming AS (SELECT doc_id, fingerprint FROM mem WHERE NOT is_existing),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
xpairs AS (
    SELECT c.doc_a, c.doc_b, ma.is_existing AS ex_a
    FROM cand c
    JOIN mem ma ON ma.doc_id = c.doc_a
    JOIN mem mb ON mb.doc_id = c.doc_b
    WHERE ma.is_existing <> mb.is_existing
),
shared AS (
    SELECT x.doc_a, x.doc_b, count(*) AS shared
    FROM xpairs x
    JOIN sh ta ON ta.doc_id = x.doc_a
    JOIN sh tb ON tb.doc_id = x.doc_b AND tb.shingle = ta.shingle
    GROUP BY 1, 2
),
near AS (
    SELECT CASE WHEN NOT x.ex_a THEN x.doc_a ELSE x.doc_b END AS doc_id,
           count(*) AS n_near
    FROM xpairs x
    JOIN shared s ON s.doc_a = x.doc_a AND s.doc_b = x.doc_b
    JOIN sizes na ON na.doc_id = x.doc_a
    JOIN sizes nb ON nb.doc_id = x.doc_b
    WHERE s.shared / CAST(na.n + nb.n - s.shared AS DOUBLE)
          >= {JACCARD_THRESHOLD}
    GROUP BY 1
)
SELECT i.doc_id,
       CAST(CASE WHEN e.fingerprint IS NOT NULL THEN 1 ELSE 0 END
            AS BIGINT) AS is_exact_dup,
       CAST(COALESCE(nr.n_near, 0) AS BIGINT) AS n_near_dups,
       CASE WHEN e.fingerprint IS NOT NULL THEN 'drop_exact'
            WHEN COALESCE(nr.n_near, 0) > 0 THEN 'drop_near'
            ELSE 'keep' END AS decision
FROM incoming i
LEFT JOIN existing_fp e ON e.fingerprint = i.fingerprint
LEFT JOIN near nr ON nr.doc_id = i.doc_id
"""


EDIT_MAX = 2        # near-duplicate = edit distance <= 2
EDIT_BUCKET_W = 3   # length-bucket width for candidate blocking


def edit_distance_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance entity resolution over part names — the
    record-linkage primitive (find product-name variants that are
    typos/reformulations of each other) built as composite-key
    blocking + bounded verify, the standard ER recipe at scale:

    1. collapse to DISTINCT (brand, name) with occurrence counts —
       dedup-by-group before any pair math;
    2. candidate generation is an EQUI-join on (brand, length-bucket):
       edit distance ≤ 2 forces |len(a) − len(b)| ≤ 2, so with W=3
       buckets a qualifying pair sits at most one bucket apart — the
       left side probes {B−1, B, B+1}, the right side keeps its own
       bucket, and `name_a < name_b` makes each pair match EXACTLY
       once (the right side's bucket is unique). Lossless blocking,
       like the simhash bands — never an all-pairs comparison;
    3. verify: exact Levenshtein (unit costs — Spark `levenshtein` and
       DuckDB `levenshtein` agree) on candidates only.

    Scale: the name relation is the DISTINCT name catalog (orders of
    magnitude below fact row counts); pair fan-out is bounded by
    block populations — brand × 3-char length band — and a skewed
    block is AQE skew-split territory, not a plan change.
    """
    part = load_table(spark, sf_dir, "part")
    names = (part.groupBy("p_brand", "p_name")
             .agg(F.count(F.lit(1)).alias("n_rows"))
             .withColumn("len", F.length("p_name"))
             .withColumn("bucket",
                         F.floor(F.col("len") / EDIT_BUCKET_W)
                         .cast("long")))
    left = names.select(
        F.col("p_brand").alias("brand"), F.col("p_name").alias("name_a"),
        F.col("n_rows").alias("n_rows_a"), F.col("len").alias("len_a"),
        F.explode(F.array(F.col("bucket") - 1, F.col("bucket"),
                          F.col("bucket") + 1)).alias("probe"))
    right = names.select(
        F.col("p_brand").alias("brand"), F.col("p_name").alias("name_b"),
        F.col("n_rows").alias("n_rows_b"), F.col("len").alias("len_b"),
        F.col("bucket").alias("probe"))
    return (left.join(right, ["brand", "probe"])
            .filter((F.col("name_a") < F.col("name_b"))
                    & (F.abs(F.col("len_a") - F.col("len_b")) <= EDIT_MAX))
            .withColumn("edit_dist",
                        F.levenshtein("name_a", "name_b"))
            .filter(F.col("edit_dist") <= EDIT_MAX)
            .select(F.col("brand").alias("p_brand"), "name_a", "name_b",
                    F.col("edit_dist").cast("int").alias("edit_dist"),
                    "n_rows_a", "n_rows_b"))


EDIT_DISTANCE_PAIRS_SQL = f"""
WITH names AS (
    SELECT p_brand, p_name, count(*) AS n_rows, len(p_name) AS l,
           len(p_name) // {EDIT_BUCKET_W} AS bucket
    FROM part GROUP BY 1, 2
),
lft AS (
    SELECT p_brand AS brand, p_name AS name_a, n_rows AS n_rows_a,
           l AS len_a, bucket + b AS probe
    FROM names, unnest([-1, 0, 1]) AS t(b)
),
rgt AS (
    SELECT p_brand AS brand, p_name AS name_b, n_rows AS n_rows_b,
           l AS len_b, bucket AS probe
    FROM names
)
SELECT lft.brand AS p_brand, name_a, name_b,
       CAST(levenshtein(name_a, name_b) AS INTEGER) AS edit_dist,
       n_rows_a, n_rows_b
FROM lft JOIN rgt ON lft.brand = rgt.brand AND lft.probe = rgt.probe
WHERE name_a < name_b
  AND abs(len_a - len_b) <= {EDIT_MAX}
  AND levenshtein(name_a, name_b) <= {EDIT_MAX}
"""


def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-method near-dup agreement audit: the pair sets found by
    the three shipped detectors — exact shingle-Jaccard (≥ 0.5, the
    ground truth), MinHash-LSH (probabilistic bands over the SAME
    Jaccard), and SimHash Hamming ≤ 3 (a different similarity notion
    entirely) — with per-method pair counts, overlap against truth,
    precision and recall. This is the calibration table a pipeline
    owner reads before picking the production detector (LSH's recall
    shortfall here is its designed 1−(1−J²)⁴ band miss;
    ``minhash_estimate_quality`` reports the estimator side of the
    same trade).

    Consistency proof by construction (the ``curation_funnel``
    pattern): each method's pairs come from THE SAME registry operator
    the standalone entry runs — not a re-implementation — so this
    audit can never drift from what the detectors actually do.

    Scale: all three detectors are candidate-pruned (inverted-index /
    band / band joins); this audit only joins their PAIR outputs —
    relations orders of magnitude below the corpus. The truth relation
    is lineage-cut (it feeds every comparison).
    """
    truth = truncate_lineage(
        jaccard_similarity_join(spark, sf_dir).select("doc_a", "doc_b"))
    methods = [
        ("exact_jaccard", truth),
        ("minhash_lsh",
         minhash_lsh_dedup(spark, sf_dir).select("doc_a", "doc_b")),
        ("simhash_h3",
         simhash_hamming_dedup(spark, sf_dir).select("doc_a", "doc_b")),
    ]
    labeled = None
    for name, df in methods:
        part = df.withColumn("method", F.lit(name))
        labeled = part if labeled is None else labeled.unionByName(part)
    flagged = labeled.join(
        truth.withColumn("in_truth", F.lit(1)), ["doc_a", "doc_b"],
        "left")
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    return (flagged.groupBy("method")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.sum(F.coalesce("in_truth", F.lit(0)))
                 .alias("n_overlap"))
            .crossJoin(n_truth)
            .select("method", "n_pairs",
                    F.col("n_overlap").cast("bigint").alias("n_overlap"),
                    F.round(F.col("n_overlap")
                            / F.col("n_pairs").cast("double"), 10)
                    .alias("precision_vs_truth"),
                    F.round(F.col("n_overlap")
                            / F.col("n_truth").cast("double"), 10)
                    .alias("recall_vs_truth")))


DEDUP_AGREEMENT_SQL = f"""
WITH truth AS (
    SELECT doc_a, doc_b FROM ({JACCARD_JOIN_SQL}) t
),
labeled AS (
    SELECT 'exact_jaccard' AS method, doc_a, doc_b FROM truth
    UNION ALL
    SELECT 'minhash_lsh', doc_a, doc_b FROM ({MINHASH_LSH_SQL}) t
    UNION ALL
    SELECT 'simhash_h3', doc_a, doc_b FROM ({SIMHASH_HAMMING_SQL}) t
),
flagged AS (
    SELECT l.method,
           CASE WHEN t.doc_a IS NULL THEN 0 ELSE 1 END AS in_truth
    FROM labeled l
    LEFT JOIN truth t ON t.doc_a = l.doc_a AND t.doc_b = l.doc_b
),
nt AS (SELECT count(*) AS n_truth FROM truth)
SELECT method, count(*) AS n_pairs,
       CAST(sum(in_truth) AS BIGINT) AS n_overlap,
       round(sum(in_truth) / CAST(count(*) AS DOUBLE), 10)
           AS precision_vs_truth,
       round(sum(in_truth) / CAST(n_truth AS DOUBLE), 10)
           AS recall_vs_truth
FROM flagged CROSS JOIN nt
GROUP BY method, n_truth
"""


def bbit_minwise_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit minwise hashing evaluation (Li & König, WWW 2010 — the
    64×-storage-compression trick production sketches use): for every
    LSH candidate pair, the 1-bit estimator — keep ONLY the lowest bit
    of each minhash; J̃ = max(0, 2·(parity agreements / k) − 1), from
    E[agree] = (1+J)/2 on large key domains — next to the full-hash
    estimate and the exact Jaccard. The output IS the storage/accuracy
    trade table: 1 bit per hash vs 63 more, at roughly 2× the
    variance, measured on real pairs instead of trusted from the
    paper.

    Exactness: parity agreements are integer counts; both estimators
    are fixed-order divisions, rounded 6.

    Scale: same band-bucket candidate generation as the whole family
    (never all-pairs); signatures re-join as 8-int rows keyed by
    doc_id; the bit truncation is per-row arithmetic.
    """
    sets = _shingle_sets(spark, sf_dir)
    sig = _minhash_signatures(sets)
    cand = _lsh_candidate_pairs(sig)
    siga = sig.select(F.col("doc_id").alias("doc_a"),
                      *[F.col(f"mh{i}").alias(f"a{i}")
                        for i in range(N_HASHES)])
    sigb = sig.select(F.col("doc_id").alias("doc_b"),
                      *[F.col(f"mh{i}").alias(f"b{i}")
                        for i in range(N_HASHES)])
    agree_full = sum(
        (F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
         for i in range(N_HASHES)), F.lit(0))
    agree_1bit = sum(
        (F.when(F.col(f"a{i}") % 2 == F.col(f"b{i}") % 2, 1)
         .otherwise(0) for i in range(N_HASHES)), F.lit(0))
    sa = sets.select(F.col("doc_id").alias("doc_a"),
                     F.col("shset").alias("set_a"),
                     F.col("n_shingles").alias("na"))
    sb = sets.select(F.col("doc_id").alias("doc_b"),
                     F.col("shset").alias("set_b"),
                     F.col("n_shingles").alias("nb"))
    est1 = F.greatest(
        F.lit(0.0),
        F.lit(2.0) * (F.col("n_agree1").cast("double") / N_HASHES)
        - F.lit(1.0))
    return (cand.join(siga, "doc_a").join(sigb, "doc_b")
            .withColumn("n_agree1", agree_1bit.cast("bigint"))
            .withColumn("n_agree_full", agree_full.cast("bigint"))
            .join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("shared",
                        F.size(F.array_intersect("set_a", "set_b")))
            .withColumn("jaccard",
                        F.col("shared")
                        / (F.col("na") + F.col("nb") - F.col("shared")))
            .select("doc_a", "doc_b", "n_agree1",
                    F.round(est1, 6).alias("est_b1"),
                    F.round(F.col("n_agree_full") / N_HASHES, 6)
                    .alias("est_full"),
                    F.round("jaccard", 6).alias("jaccard")))


_SIG_PARITY_SQL = " + ".join(
    f"CASE WHEN sa.mh{i} % 2 = sb.mh{i} % 2 THEN 1 ELSE 0 END"
    for i in range(N_HASHES))

BBIT_MINWISE_SQL = f"""{_LSH_CAND_PREFIX_SQL},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
shared AS (
    SELECT c.doc_a, c.doc_b, count(*) AS shared
    FROM cand c
    JOIN sh ta ON ta.doc_id = c.doc_a
    JOIN sh tb ON tb.doc_id = c.doc_b AND tb.shingle = ta.shingle
    GROUP BY 1, 2
),
agree AS (
    SELECT c.doc_a, c.doc_b,
           {_SIG_PARITY_SQL} AS n_agree1,
           {_SIG_AGREE_SQL} AS n_agree_full
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.doc_a
    JOIN sig sb ON sb.doc_id = c.doc_b
)
SELECT c.doc_a, c.doc_b, CAST(g.n_agree1 AS BIGINT) AS n_agree1,
       round(greatest(0.0,
             2.0 * (CAST(g.n_agree1 AS DOUBLE) / {N_HASHES}) - 1.0), 6)
           AS est_b1,
       round(CAST(g.n_agree_full AS DOUBLE) / {N_HASHES}, 6)
           AS est_full,
       round(COALESCE(s.shared, 0)
             / CAST(na.n + nb.n - COALESCE(s.shared, 0) AS DOUBLE), 6)
           AS jaccard
FROM cand c
JOIN agree g ON g.doc_a = c.doc_a AND g.doc_b = c.doc_b
LEFT JOIN shared s ON s.doc_a = c.doc_a AND s.doc_b = c.doc_b
JOIN sizes na ON na.doc_id = c.doc_a
JOIN sizes nb ON nb.doc_id = c.doc_b
"""


def cross_source_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which deliveries duplicate each other: for every unordered
    source pair, the number of exact content fingerprints (md5(text),
    the ``exact_dedup`` key) present in BOTH — the provenance-level
    dedup report ("vendor B resells vendor A's crawl") that per-doc
    dedup totals cannot show. The FULL source-pair matrix is emitted
    (zero-overlap pairs included): an all-clear audit must say so
    explicitly, and at small scales cross-source duplication is
    legitimately absent (first appears at sf0.1 here: 8 pairs).

    Exactness: fingerprints are md5 hex (bit-identical cross-engine);
    everything else is integer counts.

    Scale: the corpus reduces to DISTINCT (fingerprint, source) id
    pairs — 16-byte keys, never text — before the fingerprint-keyed
    self-join; per-fingerprint fan-out is bounded by |sources|, so the
    join is value-domain-bounded exactly like the hour×type grids; the
    pair grid is a broadcast |sources|² relation.
    """
    docs = load_table(spark, sf_dir, "documents")
    fs = truncate_lineage(
        docs.select(F.md5("text").alias("fp"), "source").distinct())
    srcs = fs.select("source").distinct()
    grid = (srcs.select(F.col("source").alias("source_a"))
            .crossJoin(F.broadcast(
                srcs.select(F.col("source").alias("source_b"))))
            .filter(F.col("source_a") < F.col("source_b")))
    a = fs.select("fp", F.col("source").alias("source_a"))
    b = fs.select("fp", F.col("source").alias("source_b"))
    overlap = (a.join(b, "fp")
               .filter(F.col("source_a") < F.col("source_b"))
               .groupBy("source_a", "source_b")
               .agg(F.countDistinct("fp").alias("n_shared")))
    return (grid.join(overlap, ["source_a", "source_b"], "left")
            .select("source_a", "source_b",
                    F.coalesce("n_shared", F.lit(0)).cast("bigint")
                    .alias("n_shared_fingerprints")))


CROSS_SOURCE_DUP_SQL = """
WITH fs AS (
    SELECT DISTINCT md5(text) AS fp, source FROM documents
),
srcs AS (SELECT DISTINCT source FROM fs),
overlap AS (
    SELECT a.source AS source_a, b.source AS source_b,
           count(DISTINCT a.fp) AS n_shared
    FROM fs a JOIN fs b ON b.fp = a.fp AND a.source < b.source
    GROUP BY 1, 2
)
SELECT sa.source AS source_a, sb.source AS source_b,
       CAST(COALESCE(o.n_shared, 0) AS BIGINT) AS n_shared_fingerprints
FROM srcs sa JOIN srcs sb ON sa.source < sb.source
LEFT JOIN overlap o ON o.source_a = sa.source
                   AND o.source_b = sb.source
"""


# --- LSH band-parameter sweep ---------------------------------------------

BAND_CONFIGS = ((8, 1), (4, 2), (2, 4), (1, 8))  # b bands x r rows = 8


def _pow_chain_col(c, e: int):
    """x^e by the squaring chain — the SAME expression tree
    _pow_chain_sql writes, so both engines multiply in one order."""
    if e == 1:
        return c
    h = _pow_chain_col(c, e // 2)
    return h * h


def _pow_chain_sql(x: str, e: int) -> str:
    if e == 1:
        return x
    h = _pow_chain_sql(x, e // 2)
    return f"({h} * {h})"


def minhash_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding-parameter sweep — the tuning table behind every
    MinHash deployment (Leskovec/Rajaraman/Ullman ch. 3): for each
    way of splitting the 8-hash signature into b bands of r rows,
    the detection probability of a pair with Jaccard j is
    p(j) = 1 − (1 − jʳ)ᵇ; averaged over the engine's OWN verified
    near-dup pairs (``minhash_lsh_dedup``'s output — the pair set a
    production system can actually measure at scale) this yields the
    expected recall of each config, next to its s-curve threshold
    j* = (1/b)^(1/r). The shipped (4, 2) config shows the trade
    against cheaper (8, 1) and stricter (1, 8) bandings.

    Exactness: j is the exact shared/(na+nb−shared) double; jʳ and
    (1−jʳ)ᵇ are fixed squaring-multiplication chains (identical
    expression trees both engines); each p is round(·,10)
    decimal-pinned before the mean's exact sum; j* is a Python-level
    literal inlined into both plans.

    Scale: one pass over the (bounded) verified-pair relation
    computes all four configs in a single projection; the output is
    a 4-row combinable aggregate.
    """
    pairs = minhash_lsh_dedup(spark, sf_dir)
    j = F.col("jaccard")

    def p_conf(b: int, r: int):
        jr = _pow_chain_col(j, r)
        miss = _pow_chain_col(F.lit(1.0) - jr, b) if b > 1 \
            else (F.lit(1.0) - jr)
        return (F.round(F.lit(1.0) - miss, 10)
                .cast("decimal(25,10)"))

    wide = pairs.select(*[
        p_conf(b, r).alias(f"p_{b}_{r}") for b, r in BAND_CONFIGS])
    stack_args = ", ".join(
        f"{b}L, {r}L, {(1.0 / b) ** (1.0 / r)!r}D, p_{b}_{r}"
        for b, r in BAND_CONFIGS)
    stacked = wide.select(F.expr(
        f"stack({len(BAND_CONFIGS)}, {stack_args}) "
        "as (bands, rows_per_band, j_star, p)"))
    return (stacked.groupBy("bands", "rows_per_band", "j_star")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.round(F.sum("p").cast("double")
                         / F.count(F.lit(1)), 10)
                 .alias("expected_recall")))


def _band_sweep_select_sql(b: int, r: int) -> str:
    jr = _pow_chain_sql("jaccard", r)
    miss = _pow_chain_sql(f"(1.0 - {jr})", b) if b > 1 \
        else f"(1.0 - {jr})"
    return f"""
    SELECT CAST({b} AS BIGINT) AS bands,
           CAST({r} AS BIGINT) AS rows_per_band,
           CAST({(1.0 / b) ** (1.0 / r)!r} AS DOUBLE) AS j_star,
           count(*) AS n_pairs,
           round(CAST(sum(CAST(round(1.0 - {miss}, 10)
                                AS DECIMAL(25,10))) AS DOUBLE)
                 / count(*), 10) AS expected_recall
    FROM pairs"""


MINHASH_BAND_SWEEP_SQL = (
    "WITH pairs AS (SELECT * FROM (" + MINHASH_LSH_SQL + ") t)"
    + " UNION ALL ".join(_band_sweep_select_sql(b, r)
                         for b, r in BAND_CONFIGS))


# --- crawl-shard continuation stitching ------------------------------------

STITCH_MIN_K = 2   # boundary n-gram width that blocks candidate pairs
# Absolute df cap on the boundary-bigram join key, per SIDE (docs
# ENDING with the gram / docs STARTING with it). The bigram space is
# vocabulary-bounded — it does NOT grow with the corpus — so without a
# cap every bucket's population grows linearly in n and the candidate
# join quadratically: the round-10 probe measured 110× wall under 10×
# data. A gram shared by more than this many documents on either side
# is generic filler (boilerplate openers/closers), not a
# truncation-split signature; capping bounds per-gram fan-out at
# STITCH_DF_CAP² exactly like duplicate_spans' SPAN_DF_CAP. Max df at
# every committed SF is 15 (measured), so the cap is inert at test
# scales and the oracle mirrors it bit-exactly.
STITCH_DF_CAP = 64


def suffix_prefix_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix→prefix continuation detection: directed pairs (a, b)
    where document a's last tokens are document b's first tokens —
    the signature of one logical page split across crawl records
    (truncation + re-fetch), which neither whole-doc hashing nor
    bag-of-shingles Jaccard flags because the OVERLAP is small
    relative to both docs. Candidates come from an equi-join on the
    boundary bigram (a's last two tokens == b's first two), then the
    exact maximal overlap k is computed per pair by comparing token
    slices — candidates only, never all pairs.

    Exactness: the join key is a space-joined token bigram (tokens
    are [a-z0-9]*, so the separator is unambiguous); overlap_k is an
    integer array_max over slice-equality tests — no floats at all.

    Scale: the blocking join is the trick — per-gram fan-out is
    bounded by ``STITCH_DF_CAP²`` (hot boundary grams dropped by an
    absolute per-side df cap, the ``duplicate_spans``/
    ``containment_dedup`` discipline — see the cap's block comment for
    the measured 110× failure without it); each side's df rides a
    count window PARTITIONED BY its own join key, so Catalyst shares
    the candidate join's existing exchange — the cap costs zero extra
    shuffles; the slice comparison is per-candidate-row expression
    work.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    t = docs.select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("n"),
        F.concat_ws(" ", F.slice(toks, F.size(toks) - 1, 2))
        .alias("last2"),
        F.concat_ws(" ", F.slice(toks, 1, 2)).alias("first2"))
    a = (t.select(F.col("doc_id").alias("doc_a"),
                  F.col("toks").alias("ta"), F.col("n").alias("na"),
                  F.col("last2").alias("k_a"))
         .withColumn("df_a", F.count(F.lit(1)).over(
             Window.partitionBy("k_a")))
         .filter(F.col("df_a") <= STITCH_DF_CAP))
    b = (t.select(F.col("doc_id").alias("doc_b"),
                  F.col("toks").alias("tb"), F.col("n").alias("nb"),
                  F.col("first2").alias("k_b"))
         .withColumn("df_b", F.count(F.lit(1)).over(
             Window.partitionBy("k_b")))
         .filter(F.col("df_b") <= STITCH_DF_CAP))
    cand = a.join(b, (F.col("k_a") == F.col("k_b"))
                  & (F.col("doc_a") != F.col("doc_b")))
    ks = F.filter(
        F.sequence(F.lit(STITCH_MIN_K), F.least("na", "nb")),
        lambda k: (F.slice("ta", F.col("na") - k + 1, k)
                   == F.slice("tb", F.lit(1), k)))
    return cand.select(
        "doc_a", "doc_b",
        F.array_max(ks).cast("bigint").alias("overlap_k"))


SUFFIX_PREFIX_SQL = f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks,
           len(string_split(text, ' ')) AS n,
           array_to_string(string_split(text, ' ')[-2:], ' ') AS last2,
           array_to_string(string_split(text, ' ')[1:2], ' ') AS first2
    FROM documents
),
ta AS (
    SELECT * FROM (
        SELECT doc_id, toks, n, last2,
               count(*) OVER (PARTITION BY last2) AS df
        FROM t
    ) WHERE df <= {STITCH_DF_CAP}
),
tb AS (
    SELECT * FROM (
        SELECT doc_id, toks, n, first2,
               count(*) OVER (PARTITION BY first2) AS df
        FROM t
    ) WHERE df <= {STITCH_DF_CAP}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(list_max(list_filter(
                range({STITCH_MIN_K}, least(a.n, b.n) + 1),
                k -> a.toks[a.n - k + 1:a.n] = b.toks[1:k]))
            AS BIGINT) AS overlap_k
FROM ta a JOIN tb b
  ON a.last2 = b.first2 AND a.doc_id <> b.doc_id
"""


# --- prefix-filtered jaccard join ----------------------------------------

def prefix_filter_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity join with PREFIX FILTERING (Chaudhuri, Ganti &
    Kaushik, ICDE 2006; Xiao et al.'s PPJoin, WWW 2008) — the exact
    (non-LSH) scale path for Jaccard >= t pair search: order every
    doc's shingles by ascending global document frequency (rarest
    first, shingle string as the deterministic tie-break) and emit
    only the first p = n - ceil(t*n) + 1 as join keys. Two docs with
    J >= t MUST share a prefix token (pigeonhole on the overlap bound
    shared >= ceil(t/(1+t)*(na+nb)) — lossless, so this returns the
    IDENTICAL pair set to ``jaccard_similarity_join``, pinned by
    tests/test_round7_ops.py), while the equi-join runs over ~the
    rarest half of each doc's tokens instead of all of them AND the
    hot head of the Zipf vocabulary mostly falls OUT of prefixes —
    the frequent-token skew that makes naive token-blocking explode
    at 100 TB is pruned by construction. The candidate length filter
    (min-size >= t * max-size, integer form 2*least >= greatest at
    t = 1/2) drops cross-size pairs before the verify join.

    Exactness: df counts, prefix ranks and the length filter are all
    integer; the verify is the engine's exact array_intersect Jaccard
    with the same one-double-division convention as the baseline join.

    Scale: df is one combinable vocab-bounded agg; prefix selection is
    a per-doc window (one doc_id exchange); the candidate join touches
    prefix tokens only (|prefix| ~ n/2, and rare tokens -> tiny
    buckets, no hot keys); verify joins candidate pairs only. No
    global rank relation is ever built — (df, shingle) is itself the
    total order, so prefix selection needs no second pass over the
    vocabulary.
    """
    from pyspark.sql import Window

    sets = _shingle_sets(spark, sf_dir)
    ex = _explode_shingles(sets)
    dfreq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # prefix length p = n - ceil(t*n) + 1; at t=1/2, integer-exact
    p = (F.col("n_shingles")
         - F.expr("(n_shingles + 1) div 2") + F.lit(1))
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    pref = (ex.join(dfreq, "shingle")
            .join(sets.select("doc_id", "n_shingles"), "doc_id")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= p)
            .select("doc_id", "shingle", "n_shingles"))
    a, b = pref.alias("a"), pref.alias("b")
    cand = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                   & (F.col("a.doc_id") < F.col("b.doc_id"))
                   & (2 * F.least("a.n_shingles", "b.n_shingles")
                      >= F.greatest("a.n_shingles", "b.n_shingles")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    pairs = (cand
             .join(sets.select(F.col("doc_id").alias("doc_a"),
                               F.col("shset").alias("set_a"),
                               F.col("n_shingles").alias("na")), "doc_a")
             .join(sets.select(F.col("doc_id").alias("doc_b"),
                               F.col("shset").alias("set_b"),
                               F.col("n_shingles").alias("nb")), "doc_b"))
    shared = F.size(F.array_intersect("set_a", "set_b"))
    return (pairs.select(
        "doc_a", "doc_b", shared.alias("shared"),
        (shared / (F.col("na") + F.col("nb") - shared)
         .cast("double")).alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD))


PREFIX_FILTER_JACCARD_SQL = f"""
WITH sh AS ({SHINGLES_SQL}),
sizes AS (
    SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), dfreq AS (
    SELECT shingle, count(*) AS df FROM sh GROUP BY shingle
), pref AS (
    SELECT doc_id, shingle, n FROM (
        SELECT sh.doc_id, sh.shingle, s.n,
               row_number() OVER (PARTITION BY sh.doc_id
                                  ORDER BY d.df, sh.shingle) AS rn
        FROM sh JOIN dfreq d USING (shingle)
        JOIN sizes s USING (doc_id))
    WHERE rn <= n - (n + 1) // 2 + 1
), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM pref a JOIN pref b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
     AND 2 * least(a.n, b.n) >= greatest(a.n, b.n)
), shared AS (
    SELECT c.doc_a, c.doc_b, count(*) AS shared
    FROM cand c
    JOIN sh x ON x.doc_id = c.doc_a
    JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
    GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b, shared,
       shared / CAST(na.n + nb.n - shared AS DOUBLE) AS jaccard
FROM shared
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE shared / CAST(na.n + nb.n - shared AS DOUBLE)
      >= {JACCARD_THRESHOLD}
"""


# --- LSH parameter planner ----------------------------------------------------

# (bands, rows-per-band) factorizations of the 8-minhash signature.
LSH_PLAN_CONFIGS = ((1, 8), (2, 4), (4, 2), (8, 1))
LSH_PLAN_BINS = 10


def _lsh_s_curve() -> list[tuple[int, int, int, float]]:
    """(bands, rows, bin, P(candidate at the bin midpoint)) literals.

    P(s; b, r) = 1 − (1 − s^r)^b, evaluated IN PYTHON at import time
    over the fixed bin midpoints (0.05, 0.15, …), so both engines
    consume the identical double literals — no runtime pow() libm
    divergence can exist."""
    rows = []
    for b, r in LSH_PLAN_CONFIGS:
        for i in range(LSH_PLAN_BINS):
            s = (2 * i + 1) / (2 * LSH_PLAN_BINS)
            rows.append((b, r, i, 1.0 - (1.0 - s ** r) ** b))
    return rows


def lsh_parameter_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding planner: for every (bands × rows-per-band)
    factorization of the 8-minhash signature, the expected number of
    candidate pairs the S-curve P(s; b, r) = 1 − (1 − s^r)^b would
    surface from THIS corpus's observed pair-similarity histogram —
    the table read before retuning ``N_BANDS``: more bands catch more
    true near-dups (higher recall at J ≥ 0.5) but admit more sub-
    threshold pairs into the verify stage (cost). The histogram is
    measured on the CURRENT candidate set (un-thresholded verify),
    the population the retune actually redistributes; the planner's
    self-audit sibling is ``minhash_estimate_quality``.

    Exactness: each pair's Jaccard is an exact-operand division;
    binning multiplies by 10 and floors (bin edges are exact
    decimals, both engines floor the identical double). The S-curve
    is import-time Python literals inlined into BOTH engines, so not
    even a pow() ulp can differ; per-bin expected counts n_bin·P are
    round(·,6)-pinned → DECIMAL(25,6) for the order-insensitive sum.

    Scale: reuses the band-bucket candidate join (never all-pairs);
    the histogram is a ≤10-row relation and the planner math runs on
    the 40-literal curve grid.
    """
    sets = _shingle_sets(spark, sf_dir)
    sig = _minhash_signatures(sets)
    cand = _lsh_candidate_pairs(sig)
    sa = sets.select(F.col("doc_id").alias("doc_a"),
                     F.col("shset").alias("set_a"),
                     F.col("n_shingles").alias("na"))
    sb = sets.select(F.col("doc_id").alias("doc_b"),
                     F.col("shset").alias("set_b"),
                     F.col("n_shingles").alias("nb"))
    j = (cand.join(sa, "doc_a").join(sb, "doc_b")
         .withColumn("shared", F.size(F.array_intersect("set_a", "set_b")))
         .withColumn("jaccard",
                     F.col("shared")
                     / (F.col("na") + F.col("nb") - F.col("shared"))))
    hist = (j.select(F.least(F.floor(F.col("jaccard")
                                     * LSH_PLAN_BINS).cast("int"),
                             F.lit(LSH_PLAN_BINS - 1)).alias("bin"))
            .groupBy("bin").agg(F.count(F.lit(1)).alias("n_bin")))
    curve = constant_table(spark, _lsh_s_curve(),
                           "n_bands int, rows_per_band int, bin int, p double")
    return (curve.join(hist, "bin")
            .groupBy("n_bands", "rows_per_band")
            .agg(F.sum("n_bin").alias("n_pairs_binned"),
                 F.sum(F.round(F.col("n_bin") * F.col("p"), 6)
                       .cast("decimal(25,6)")).cast("double")
                 .alias("expected_candidates"))
            .select("n_bands", "rows_per_band", "n_pairs_binned",
                    "expected_candidates",
                    (F.col("expected_candidates")
                     / F.col("n_pairs_binned").cast("double"))
                    .alias("expected_rate")))


_LSH_CURVE_VALUES = ",\n    ".join(
    f"({b}, {r}, {i}, {p!r})" for b, r, i, p in _lsh_s_curve())

LSH_PLANNER_SQL = f"""{_LSH_CAND_PREFIX_SQL},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
shared AS (
    SELECT c.doc_a, c.doc_b, count(*) AS shared
    FROM cand c
    JOIN sh ta ON ta.doc_id = c.doc_a
    JOIN sh tb ON tb.doc_id = c.doc_b AND tb.shingle = ta.shingle
    GROUP BY 1, 2
), hist AS (
    SELECT least(CAST(floor(shared / CAST(na.n + nb.n - shared AS DOUBLE)
                            * {LSH_PLAN_BINS}) AS INT),
                 {LSH_PLAN_BINS - 1}) AS bin,
           count(*) AS n_bin
    FROM shared
    JOIN sizes na ON na.doc_id = doc_a
    JOIN sizes nb ON nb.doc_id = doc_b
    GROUP BY 1
), curve(n_bands, rows_per_band, bin, p) AS (
    VALUES {_LSH_CURVE_VALUES}
)
SELECT c.n_bands, c.rows_per_band,
       CAST(sum(h.n_bin) AS BIGINT) AS n_pairs_binned,
       CAST(sum(CAST(round(h.n_bin * c.p, 6) AS DECIMAL(25,6)))
            AS DOUBLE) AS expected_candidates,
       CAST(sum(CAST(round(h.n_bin * c.p, 6) AS DECIMAL(25,6)))
            AS DOUBLE) / CAST(sum(h.n_bin) AS DOUBLE) AS expected_rate
FROM curve c JOIN hist h ON c.bin = h.bin
GROUP BY c.n_bands, c.rows_per_band
"""


# --- McNemar paired test on dedup methods ---------------------------------------


def mcnemar_dedup_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test (1947) between the two approximate
    near-dup detectors: over the union of pairs either method flags,
    count agreements and the two disagreement cells (MinHash-LSH-only
    b, SimHash-only c) and test b vs c with the continuity-corrected
    χ² = (|b−c|−1)²/(b+c) — the PAIRED comparison that is correct
    here because both methods judge the SAME pairs (two independent
    proportions would overstate the evidence).
    ``dedup_method_agreement`` reports each method against exact
    truth; THIS asks whether the two cheap methods disagree with each
    other more asymmetrically than chance.

    Exactness: the three cells are exact integers from one full-outer
    join; the statistic is one fixed-order expression with a CASE
    guard for b + c = 0 (both engines return exact 0.0).

    Scale: both detectors are the registry's own band-join plans
    (never all-pairs); the union/outer-join runs on their pair
    relations and the test is a 1-row reduction.
    """
    mh = (minhash_lsh_dedup(spark, sf_dir)
          .select("doc_a", "doc_b").withColumn("in_a", F.lit(1)))
    sh = (simhash_hamming_dedup(spark, sf_dir)
          .select("doc_a", "doc_b").withColumn("in_b", F.lit(1)))
    j = mh.join(sh, ["doc_a", "doc_b"], "full_outer")
    agg = j.agg(
        F.sum(F.when(F.col("in_a").isNotNull()
                     & F.col("in_b").isNotNull(), 1)
              .otherwise(0)).alias("n_both"),
        F.sum(F.when(F.col("in_a").isNotNull()
                     & F.col("in_b").isNull(), 1)
              .otherwise(0)).alias("b_only_minhash"),
        F.sum(F.when(F.col("in_a").isNull()
                     & F.col("in_b").isNotNull(), 1)
              .otherwise(0)).alias("c_only_simhash"))
    b, c = F.col("b_only_minhash"), F.col("c_only_simhash")
    diff = F.abs(b - c).cast("double") - F.lit(1.0)
    chi2 = F.when(b + c == 0, F.lit(0.0)).otherwise(
        diff * diff / (b + c).cast("double"))
    return agg.select("n_both", "b_only_minhash", "c_only_simhash",
                      F.round(chi2, 6).alias("mcnemar_chi2"))


MCNEMAR_SQL = f"""
WITH mh AS (
    SELECT doc_a, doc_b, 1 AS in_a FROM ({MINHASH_LSH_SQL}) x
), sh AS (
    SELECT doc_a, doc_b, 1 AS in_b FROM ({SIMHASH_HAMMING_SQL}) y
), j AS (
    SELECT mh.in_a, sh.in_b
    FROM mh FULL OUTER JOIN sh
      ON mh.doc_a = sh.doc_a AND mh.doc_b = sh.doc_b
), agg AS (
    SELECT CAST(sum(CASE WHEN in_a IS NOT NULL AND in_b IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
           CAST(sum(CASE WHEN in_a IS NOT NULL AND in_b IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS b_only_minhash,
           CAST(sum(CASE WHEN in_a IS NULL AND in_b IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS c_only_simhash
    FROM j
)
SELECT n_both, b_only_minhash, c_only_simhash,
       round(CASE WHEN b_only_minhash + c_only_simhash = 0 THEN 0.0
                  ELSE (abs(b_only_minhash - c_only_simhash) - 1.0)
                       * (abs(b_only_minhash - c_only_simhash) - 1.0)
                       / CAST(b_only_minhash + c_only_simhash
                              AS DOUBLE) END, 6) AS mcnemar_chi2
FROM agg
"""


# --- Fellegi-Sunter probabilistic record linkage --------------------------

# Fixed m-probabilities (P(field agrees | pair is a true match)) — the
# standard hand-set starting values of a Fellegi-Sunter model before EM
# refinement (Fellegi & Sunter 1969, JASA 64). Frozen literals so both
# engines inline the identical doubles.
FS_M_SOURCE = 0.95
FS_M_PREFIX = 0.90
FS_M_SUFFIX = 0.85
FS_LEN_BAND = 50      # blocking: same lang + same n_chars // 50 band
FS_AFFIX = 4          # prefix/suffix agreement length


def fellegi_sunter_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage over the document
    catalog: blocked candidate pairs are scored by the classic
    log-likelihood match weight Σ_f ln(m_f/u_f) (field agrees) +
    ln((1−m_f)/(1−u_f)) (field disagrees), and the output is the
    AGREEMENT-PATTERN census — one row per (source, prefix, suffix)
    agreement vector with its pair count and weight — the table a
    linkage practitioner reads to place the upper/lower thresholds
    (Fellegi & Sunter 1969). m-probabilities are frozen literals; the
    u-probabilities (P(agree | random non-match)) are ESTIMATED FROM
    THE DATA as the collision probability Σ_v (n_v/N)² of each field's
    empirical value distribution — the standard frequency-based u
    (Winkler 1988) and an exact integer computation here.

    Exactness: u is a ratio of exact integer sums; each weight is a
    fixed-shape expression of ln over exact doubles, round 6; pattern
    counts are exact integers.

    Scale: candidates come from an EQUI-join on (lang, length-band) —
    never all-pairs, and the blocking key is the practitioner's knob:
    at 100 TB you widen it (add an affix hash) so block populations
    stay bounded, exactly as the prefix-filter / simhash-band entries
    do adaptively; each u is one combinable aggregation over a
    value-frequency relation; the pattern census is an 8-row result.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars",
        F.substring("text", 1, FS_AFFIX).alias("pre"),
        F.expr(f"right(text, {FS_AFFIX})").alias("suf"),
        F.expr(f"n_chars div {FS_LEN_BAND}").alias("band"))

    n = docs.count()  # scalar: drives the u-probability denominators

    def u_prob(col: str):
        # collision probability of the field's value distribution:
        # sum over values of (n_v/N)^2, exact integers until one division
        freq = docs.groupBy(col).agg(F.count(F.lit(1)).alias("nv"))
        # denominator as double(n)*n, not int n*n: the squared BIGINT
        # count overflows int64 past ~3e9 docs; double is exact for the
        # tested SFs (n < 2^26) and identical in both engines
        return (freq.agg(F.sum(F.col("nv") * F.col("nv")).alias("ss"))
                .select((F.col("ss")
                         / (F.lit(float(n)) * F.lit(n))).alias("u")))

    u_src = u_prob("source").select(F.col("u").alias("u_source"))
    u_pre = u_prob("pre").select(F.col("u").alias("u_prefix"))
    u_suf = u_prob("suf").select(F.col("u").alias("u_suffix"))

    a = docs.select(*[F.col(c).alias(c + "_a")
                      for c in ("doc_id", "lang", "source", "pre",
                                "suf", "band")])
    b = docs.select(*[F.col(c).alias(c + "_b")
                      for c in ("doc_id", "lang", "source", "pre",
                                "suf", "band")])
    pairs = (a.join(b, (F.col("lang_a") == F.col("lang_b"))
                    & (F.col("band_a") == F.col("band_b"))
                    & (F.col("doc_id_a") < F.col("doc_id_b")))
             .select(
                 (F.col("source_a") == F.col("source_b"))
                 .cast("int").alias("ag_source"),
                 (F.col("pre_a") == F.col("pre_b"))
                 .cast("int").alias("ag_prefix"),
                 (F.col("suf_a") == F.col("suf_b"))
                 .cast("int").alias("ag_suffix")))
    census = pairs.groupBy("ag_source", "ag_prefix", "ag_suffix").agg(
        F.count(F.lit(1)).alias("n_pairs"))

    def w(ag: str, m: float, u_col: str):
        # agreement: ln(m/u); disagreement: ln((1-m)/(1-u))
        return F.when(F.col(ag) == 1,
                      F.log(F.lit(m) / F.col(u_col))).otherwise(
            F.log(F.lit(1.0 - m) / (F.lit(1.0) - F.col(u_col))))

    return (census.crossJoin(u_src)
            .crossJoin(u_pre)
            .crossJoin(u_suf)
            .select("ag_source", "ag_prefix", "ag_suffix", "n_pairs",
                    F.round(w("ag_source", FS_M_SOURCE, "u_source")
                            + w("ag_prefix", FS_M_PREFIX, "u_prefix")
                            + w("ag_suffix", FS_M_SUFFIX, "u_suffix"),
                            6).alias("match_weight")))


FELLEGI_SUNTER_SQL = f"""
WITH docs AS (
    SELECT doc_id, lang, source, n_chars,
           substring(text, 1, {FS_AFFIX}) AS pre,
           right(text, {FS_AFFIX}) AS suf,
           n_chars // {FS_LEN_BAND} AS band
    FROM documents
), n AS (SELECT count(*) AS n FROM docs
), u_src AS (
    SELECT CAST(sum(nv * nv) AS BIGINT) / (CAST(n.n AS DOUBLE) * n.n)
           AS u_source
    FROM (SELECT source, count(*) AS nv FROM docs GROUP BY 1), n
    GROUP BY n.n
), u_pre AS (
    SELECT CAST(sum(nv * nv) AS BIGINT) / (CAST(n.n AS DOUBLE) * n.n)
           AS u_prefix
    FROM (SELECT pre, count(*) AS nv FROM docs GROUP BY 1), n
    GROUP BY n.n
), u_suf AS (
    SELECT CAST(sum(nv * nv) AS BIGINT) / (CAST(n.n AS DOUBLE) * n.n)
           AS u_suffix
    FROM (SELECT suf, count(*) AS nv FROM docs GROUP BY 1), n
    GROUP BY n.n
), pairs AS (
    SELECT CAST(a.source = b.source AS INT) AS ag_source,
           CAST(a.pre = b.pre AS INT) AS ag_prefix,
           CAST(a.suf = b.suf AS INT) AS ag_suffix
    FROM docs a JOIN docs b
      ON a.lang = b.lang AND a.band = b.band
     AND a.doc_id < b.doc_id
), census AS (
    SELECT ag_source, ag_prefix, ag_suffix, count(*) AS n_pairs
    FROM pairs GROUP BY 1, 2, 3
)
SELECT ag_source, ag_prefix, ag_suffix, n_pairs,
       round(CASE WHEN ag_source = 1
                  THEN ln({FS_M_SOURCE!r} / u_source)
                  ELSE ln({1.0 - FS_M_SOURCE!r} / (1.0 - u_source)) END
           + CASE WHEN ag_prefix = 1
                  THEN ln({FS_M_PREFIX!r} / u_prefix)
                  ELSE ln({1.0 - FS_M_PREFIX!r} / (1.0 - u_prefix)) END
           + CASE WHEN ag_suffix = 1
                  THEN ln({FS_M_SUFFIX!r} / u_suffix)
                  ELSE ln({1.0 - FS_M_SUFFIX!r} / (1.0 - u_suffix)) END,
             6) AS match_weight
FROM census, u_src, u_pre, u_suf
"""


# --- Fleiss' kappa across dedup raters ------------------------------------


def fleiss_kappa_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa (Fleiss 1971) treating the engine's three dedup
    detectors — exact md5, MinHash-LSH, SimHash — as three RATERS
    each judging every document 'duplicate or not': chance-corrected
    multi-rater agreement κ = (P̄ − P̄ₑ)/(1 − P̄ₑ), completing the
    agreement ladder (`cohens_kappa_lang` is two raters,
    `mcnemar_dedup_methods` is the paired two-rater disagreement
    test, `dedup_method_agreement` is each-vs-truth). Output is the
    one-row panel: per-rater flag counts, the 0..3-votes histogram,
    P̄, P̄ₑ and κ.

    Exactness: every vote count is an exact integer; P̄ and P̄ₑ come
    from integer moments (Σk and Σ[k² + (3−k)²]) with one final
    fixed-order double expression, round 6.

    Scale: the two pair relations are the registry's own band-join
    plans (never all-pairs); flag sets are distinct-projections of
    those; the kappa arithmetic runs on a 4-row histogram.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text")
    dup_fp = (docs.groupBy(F.md5("text").alias("fp"))
              .agg(F.count(F.lit(1)).alias("nc"))
              .filter(F.col("nc") >= 2).select("fp"))
    ex_ids = (docs.withColumn("fp", F.md5("text"))
              .join(dup_fp, "fp")
              .select("doc_id").distinct()
              .withColumn("e", F.lit(1)))

    def pair_ids(pairs: DataFrame, flag: str) -> DataFrame:
        return (pairs.select(F.col("doc_a").alias("doc_id"))
                .union(pairs.select(F.col("doc_b").alias("doc_id")))
                .distinct().withColumn(flag, F.lit(1)))

    mh_ids = pair_ids(
        minhash_lsh_dedup(spark, sf_dir).select("doc_a", "doc_b"), "m")
    sh_ids = pair_ids(
        simhash_hamming_dedup(spark, sf_dir).select("doc_a", "doc_b"),
        "s")
    votes = (docs.select("doc_id")
             .join(ex_ids, "doc_id", "left")
             .join(mh_ids, "doc_id", "left")
             .join(sh_ids, "doc_id", "left")
             .select((F.coalesce("e", F.lit(0))
                      + F.coalesce("m", F.lit(0))
                      + F.coalesce("s", F.lit(0))).alias("k")))
    agg = votes.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("k") == 0, 1).otherwise(0)).alias("n_k0"),
        F.sum(F.when(F.col("k") == 1, 1).otherwise(0)).alias("n_k1"),
        F.sum(F.when(F.col("k") == 2, 1).otherwise(0)).alias("n_k2"),
        F.sum(F.when(F.col("k") == 3, 1).otherwise(0)).alias("n_k3"),
        F.sum("k").alias("sk"),
        F.sum(F.col("k") * F.col("k")
              + (F.lit(3) - F.col("k"))
              * (F.lit(3) - F.col("k"))).alias("sq"))
    n = F.col("n_docs").cast("double")
    pbar = (F.col("sq").cast("double") - 3.0 * n) / (6.0 * n)
    p = F.col("sk").cast("double") / (3.0 * n)
    pe = p * p + (F.lit(1.0) - p) * (F.lit(1.0) - p)
    return agg.select(
        "n_docs", "n_k0", "n_k1", "n_k2", "n_k3",
        F.round(pbar, 10).alias("p_bar"),
        F.round(pe, 10).alias("p_e"),
        F.when(pe < 1.0,
               F.round((pbar - pe) / (F.lit(1.0) - pe), 6))
        .alias("fleiss_kappa"))


FLEISS_KAPPA_SQL = f"""
WITH ex_ids AS (
    SELECT DISTINCT doc_id, 1 AS e
    FROM documents d
    JOIN (SELECT md5(text) AS fp FROM documents
          GROUP BY 1 HAVING count(*) >= 2) g
      ON md5(d.text) = g.fp
), mh_ids AS (
    SELECT DISTINCT doc_id, 1 AS m FROM (
        SELECT doc_a AS doc_id FROM ({MINHASH_LSH_SQL}) x
        UNION ALL
        SELECT doc_b FROM ({MINHASH_LSH_SQL}) y) u
), sh_ids AS (
    SELECT DISTINCT doc_id, 1 AS s FROM (
        SELECT doc_a AS doc_id FROM ({SIMHASH_HAMMING_SQL}) x
        UNION ALL
        SELECT doc_b FROM ({SIMHASH_HAMMING_SQL}) y) u
), votes AS (
    SELECT COALESCE(e, 0) + COALESCE(m, 0) + COALESCE(s, 0) AS k
    FROM documents d
    LEFT JOIN ex_ids USING (doc_id)
    LEFT JOIN mh_ids USING (doc_id)
    LEFT JOIN sh_ids USING (doc_id)
), agg AS (
    SELECT count(*) AS n_docs,
           CAST(sum(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_k0,
           CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_k1,
           CAST(sum(CASE WHEN k = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_k2,
           CAST(sum(CASE WHEN k = 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_k3,
           CAST(sum(k) AS BIGINT) AS sk,
           CAST(sum(k * k + (3 - k) * (3 - k)) AS BIGINT) AS sq
    FROM votes
)
SELECT n_docs, n_k0, n_k1, n_k2, n_k3,
       round((CAST(sq AS DOUBLE) - 3.0 * CAST(n_docs AS DOUBLE))
             / (6.0 * CAST(n_docs AS DOUBLE)), 10) AS p_bar,
       round((CAST(sk AS DOUBLE) / (3.0 * CAST(n_docs AS DOUBLE)))
             * (CAST(sk AS DOUBLE) / (3.0 * CAST(n_docs AS DOUBLE)))
             + (1.0 - CAST(sk AS DOUBLE)
                      / (3.0 * CAST(n_docs AS DOUBLE)))
               * (1.0 - CAST(sk AS DOUBLE)
                        / (3.0 * CAST(n_docs AS DOUBLE))), 10)
           AS p_e,
       CASE WHEN (CAST(sk AS DOUBLE) / (3.0 * CAST(n_docs AS DOUBLE)))
                 * (CAST(sk AS DOUBLE) / (3.0 * CAST(n_docs AS DOUBLE)))
                 + (1.0 - CAST(sk AS DOUBLE)
                          / (3.0 * CAST(n_docs AS DOUBLE)))
                   * (1.0 - CAST(sk AS DOUBLE)
                            / (3.0 * CAST(n_docs AS DOUBLE))) < 1.0
            THEN round(((CAST(sq AS DOUBLE)
                         - 3.0 * CAST(n_docs AS DOUBLE))
                        / (6.0 * CAST(n_docs AS DOUBLE))
                        - ((CAST(sk AS DOUBLE)
                            / (3.0 * CAST(n_docs AS DOUBLE)))
                           * (CAST(sk AS DOUBLE)
                              / (3.0 * CAST(n_docs AS DOUBLE)))
                           + (1.0 - CAST(sk AS DOUBLE)
                                    / (3.0 * CAST(n_docs AS DOUBLE)))
                             * (1.0 - CAST(sk AS DOUBLE)
                                      / (3.0
                                         * CAST(n_docs AS DOUBLE)))))
                       / (1.0 - ((CAST(sk AS DOUBLE)
                                  / (3.0 * CAST(n_docs AS DOUBLE)))
                                 * (CAST(sk AS DOUBLE)
                                    / (3.0 * CAST(n_docs AS DOUBLE)))
                                 + (1.0 - CAST(sk AS DOUBLE)
                                          / (3.0
                                             * CAST(n_docs AS DOUBLE)))
                                   * (1.0 - CAST(sk AS DOUBLE)
                                            / (3.0
                                               * CAST(n_docs
                                                      AS DOUBLE))))),
                       6)
       END AS fleiss_kappa
FROM agg
"""
