"""Iterative + graph algorithms (SURVEY.md §2.3 north-star surface;
no reference counterpart — mapreduce.c has no joins, let alone graph
ops). All three analytics — PageRank (round-4 upgrade), connected
components and the triangle census — carry exact DuckDB oracles;
PageRank additionally keeps its unit-test invariants
(tests/test_rows_only.py).

``pagerank_word_graph``: power-iteration PageRank over the word
co-occurrence graph (nodes = words, edges = bigram adjacency from
``documents``). The Spark-idiomatic iteration shape:

- the edge list is computed ONCE and cached — every iteration joins
  against the same partitioned relation, so the per-iteration cost is
  one shuffle of the (small) rank vector, not a re-scan of the corpus;
- ranks are a DataFrame, never driver-side state (no collect in the
  loop — the 100 TB rule);
- lineage is TRUNCATED each iteration via
  ``functions.lineage.truncate_lineage`` — without it the logical
  plan doubles per iteration and Catalyst planning time explodes
  exponentially (measured: 10 iterations un-checkpointed never
  finish planning). Local runs use ``localCheckpoint``; a cluster
  opts into fault-tolerant ``checkpoint()`` with two lines of config
  (``sc.setCheckpointDir`` + ``spark.mapreduce_in_pthreads.reliableCheckpoint=true`` — see that module's docstring).

Determinism (upgraded round 4): rank mass per word is a sum of float
contributions whose order varies run to run AND engine to engine, so
every contribution is pinned to 10 dp and accumulated in
DECIMAL(25,10) (the ``token_entropy`` order-stability trick) — sums
become exact and order-free, making the whole power iteration
bit-reproducible and ORACLE-CHECKABLE: ``PAGERANK_SQL`` replays all
``ITERATIONS`` iterations as unrolled DuckDB CTEs (the k-means
``_iteration_ctes`` machinery shape; DuckDB's recursive CTEs disallow
the per-iteration aggregation, unrolling does not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.lineage import truncate_lineage
from ..functions.tokens import adjacent_pairs
from ..sources.constants import constant_table
from ..sources.tables import load_table
from . import dedup as dd

DAMPING = 0.85
ITERATIONS = 10
MAX_CC_ITERATIONS = 20


def pagerank_word_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word → PageRank over the bigram co-occurrence graph."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    bigrams = adjacent_pairs(toks)
    # directed edges with multiplicity = bigram frequency
    edges = (
        docs.select(F.explode(bigrams).alias("e"))
        .select("e.src", "e.dst")
        .groupBy("src", "dst").agg(F.count(F.lit(1)).alias("weight"))
        .cache()
    )
    out_weight = edges.groupBy("src").agg(
        F.sum("weight").alias("out_w")).cache()
    nodes = (edges.select(F.col("src").alias("word"))
             .union(edges.select(F.col("dst").alias("word")))
             .distinct().cache())
    n_nodes = nodes.count()

    dec = "decimal(25,10)"
    zero = F.lit(0).cast(dec)
    ranks = nodes.withColumn(
        "rank",
        F.round(F.lit(1.0) / F.lit(n_nodes), 10).cast(dec))
    for it in range(ITERATIONS):
        contribs = (
            edges.join(ranks, edges.src == ranks.word)
            .join(out_weight, "src")
            .select(F.col("dst").alias("word"),
                    F.round(F.col("rank").cast("double")
                            * F.col("weight") / F.col("out_w"), 10)
                    .cast(dec).alias("contrib"))
            .groupBy("word")
            .agg(F.sum("contrib").alias("in_mass"))  # exact decimal sum
        )
        ranks = (
            nodes.join(contribs, "word", "left")
            .select(
                "word",
                F.round(F.lit(1 - DAMPING) / F.lit(n_nodes)
                        + F.lit(DAMPING)
                        * F.coalesce("in_mass", zero).cast("double"), 10)
                .cast(dec).alias("rank"),
            )
        )
        # dangling nodes (no outgoing edges) leak mass; redistribute it
        # uniformly so Σrank stays 1 — the standard correction, kept as
        # a DataFrame aggregation (no collect): total leaked = 1 - Σrank
        total = ranks.agg(F.sum("rank").alias("s"))  # exact decimal sum
        ranks = ranks.crossJoin(total).select(
            "word",
            F.round(F.col("rank").cast("double")
                    + (F.lit(1) - F.col("s")).cast("double")
                    / F.lit(n_nodes), 10)
            .cast(dec).alias("rank"))
        # Truncate lineage every SECOND iteration (r10; was every
        # iteration). Each materialization costs a full job + cache
        # pass (~1.3 s/cut measured at sf0.1: 26 s → 12.5 s for the 10
        # iterations, bit-identical ranks — each step's round(·,10)
        # pins values independently of plan shape). Every iteration
        # references `ranks` three times, so lineage grows ~4× per
        # UNCUT iteration — a cut every 2 keeps planning bounded
        # (measured: cut-every-5 explodes Catalyst to 300 s+), which is
        # why the cadence stays at 2, not higher.
        if it % 2 == 1 or it == ITERATIONS - 1:
            ranks = truncate_lineage(ranks)

    return ranks.select("word", F.col("rank").cast("double").alias("rank"))


def _pagerank_iteration_ctes() -> str:
    """One (contrib → mass → rank → total → corrected) CTE block per
    power iteration — same unrolling move as the k-means oracle."""
    jump = repr(1 - DAMPING)
    d = repr(DAMPING)
    blocks = []
    for i in range(1, ITERATIONS + 1):
        blocks.append(f""",
c{i} AS MATERIALIZED (
    SELECT e.dst AS word,
           CAST(round(CAST(r.rank AS DOUBLE) * e.weight / ow.out_w, 10)
                AS DECIMAL(25,10)) AS contrib
    FROM edges e
    JOIN r{i - 1} r ON e.src = r.word
    JOIN out_w ow ON ow.src = e.src
),
m{i} AS MATERIALIZED (
    SELECT word, sum(contrib) AS in_mass FROM c{i} GROUP BY word),
p{i} AS MATERIALIZED (
    SELECT n.word,
           CAST(round({jump} / nn.n + {d}
                      * CAST(COALESCE(m.in_mass,
                                      CAST(0 AS DECIMAL(25,10)))
                             AS DOUBLE), 10)
                AS DECIMAL(25,10)) AS rank
    FROM nodes n CROSS JOIN nn LEFT JOIN m{i} m ON n.word = m.word
),
t{i} AS MATERIALIZED (SELECT sum(rank) AS s FROM p{i}),
r{i} AS MATERIALIZED (
    SELECT word,
           CAST(round(CAST(rank AS DOUBLE)
                      + CAST(1 - s AS DOUBLE) / nn.n, 10)
                AS DECIMAL(25,10)) AS rank
    FROM p{i} CROSS JOIN t{i} CROSS JOIN nn
)""")
    return "".join(blocks)


PAGERANK_SQL = f"""
WITH g0 AS (
    SELECT list_transform(
               range(1, len(string_split(text, ' '))),
               i -> struct_pack(src := string_split(text, ' ')[i],
                                dst := string_split(text, ' ')[i + 1]))
               AS lst
    FROM documents
), pairs AS (
    SELECT unnest(lst, recursive := true) FROM g0
), edges AS MATERIALIZED (
    SELECT src, dst, count(*) AS weight FROM pairs GROUP BY src, dst
), out_w AS MATERIALIZED (
    SELECT src, CAST(sum(weight) AS BIGINT) AS out_w
    FROM edges GROUP BY src
), nodes AS MATERIALIZED (
    SELECT src AS word FROM edges UNION SELECT dst FROM edges
), nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
r0 AS MATERIALIZED (
    SELECT word, CAST(round(1.0 / nn.n, 10) AS DECIMAL(25,10)) AS rank
    FROM nodes CROSS JOIN nn
){_pagerank_iteration_ctes()}
SELECT word, CAST(rank AS DOUBLE) AS rank FROM r{ITERATIONS}
"""


def connected_components_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id → duplicate-cluster id + canonical flag.

    Completes the fuzzy-dedup pipeline: the similarity join
    (``jaccard_similarity_join``) emits PAIRS, but a real dedup pass
    must transitively close them — if A≈B and B≈C, one of {A,B,C}
    survives, even when A and C are not directly similar. Clustering is
    Hash-Min label propagation (the MapReduce-era connected-components
    algorithm; see Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14): every node starts labeled with its own id
    and repeatedly takes the min label over its neighborhood until
    fixpoint.

    Scale notes (100 TB):
    - convergence needs O(graph diameter) rounds; near-dup clusters are
      shallow (diameter ≤ a few hops), so the loop exits after 2-4
      rounds in practice — ``MAX_CC_ITERATIONS`` is a runaway bound,
      not the expected count. For adversarially long chain graphs,
      swap the body for large-star/small-star (same paper) — same
      DataFrame shape, logarithmic rounds.
    - the convergence test is a scalar aggregate (Σlabels, which is
      monotonically non-increasing and integer, so equality == exact
      fixpoint) — one tiny action per round, never a data collect.
    - lineage is truncated per round with ``truncate_lineage`` (same
      rationale as ``pagerank_word_graph``).

    Unlike PageRank this IS oracle-checkable: min-label-at-fixpoint is
    expressible as a DuckDB recursive CTE (``CONNECTED_COMPONENTS_SQL``)
    — the iterative DataFrame loop and the recursive SQL must agree
    exactly, which pins the transitive-closure semantics.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = dd.jaccard_similarity_join(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(
            pairs.select(F.col("doc_b").alias("src"),
                         F.col("doc_a").alias("dst")))
        .cache()
    )
    labels = docs.select("doc_id", F.col("doc_id").alias("cluster_id"))
    labels = truncate_lineage(labels)
    prev_sum = labels.agg(F.sum("cluster_id")).collect()[0][0]
    for _ in range(MAX_CC_ITERATIONS):
        nbr_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
            .withColumnRenamed("src", "doc_id")
        )
        labels = truncate_lineage(
            labels.join(nbr_min, "doc_id", "left")
            .select("doc_id",
                    F.least("cluster_id",
                            F.coalesce("nbr_min", F.col("cluster_id")))
                    .alias("cluster_id"))
        )
        cur_sum = labels.agg(F.sum("cluster_id")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(
        "doc_id", "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"))


CONNECTED_COMPONENTS_SQL = f"""
WITH RECURSIVE
pairs AS (SELECT doc_a, doc_b FROM ({dd.JACCARD_JOIN_SQL})),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
reach(id, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
)
SELECT id AS doc_id, min(r) AS cluster_id, id = min(r) AS is_canonical
FROM reach GROUP BY id
"""


# word co-occurrence graph qualification: cap node degree potential by
# document frequency — the hub guard that keeps pair enumeration
# bounded when vocabulary follows a Zipf curve (a stop-word co-occurs
# with everything; at 100 TB you drop or sample hub nodes FIRST, then
# enumerate pairs)
TRIANGLE_MIN_DF = 2
TRIANGLE_MAX_DF = 1000


def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the word co-occurrence graph (nodes = words
    within a document-frequency band, edges = 'appear in the same
    document'), the classic join-based graph analytic: clustering
    signal for topic cohesion, and the canonical MapReduce graph
    benchmark after PageRank.

    Spark-first shape (one declarative plan, no iteration):
      distinct (doc, word) → df-band node qualification →
      per-doc pair self-join with ``word_a < word_b`` (each undirected
      edge materializes exactly once — the orientation trick that
      makes the final join enumerate each triangle exactly once) →
      distinct edges → edges⋈edges⋈edges on the (a<b<c) wedge pattern.

    Scale notes: the df band is the hub guard (degree ≤ band ceiling by
    construction); orientation by word order stands in for the
    degree-ordered edge-iterator refinement (orient low-degree →
    high-degree) which drops the join fan-out to O(E^1.5) on skewed
    graphs — the swap is one ORDER BY change. Exact SQL oracle: the
    identical pipeline in DuckDB."""
    from .inverted_index import tokens

    # dw feeds both the df census and the qualified pair join; edges
    # feeds all three legs of the wedge join plus the census count —
    # materialize each ONCE (same truncate_lineage the rest of the
    # family uses) instead of replaying the scan→distinct pipeline
    # per consumer (was 33 exchanges executed; now each exchange runs
    # once).
    dw = truncate_lineage(
        tokens(spark, sf_dir).select("doc_id", "word").distinct())
    dfreq = dw.groupBy("word").agg(F.count(F.lit(1)).alias("dfreq"))
    qual = truncate_lineage(dfreq.filter(
        (F.col("dfreq") >= TRIANGLE_MIN_DF)
        & (F.col("dfreq") <= TRIANGLE_MAX_DF)).select("word"))
    dwq = dw.join(qual, "word").select("doc_id", "word")
    a = dwq.select("doc_id", F.col("word").alias("wa"))
    b = dwq.select("doc_id", F.col("word").alias("wb"))
    edges = truncate_lineage(
        a.join(b, "doc_id")
        .filter(F.col("wa") < F.col("wb"))
        .select("wa", "wb").distinct()
    )
    e1 = edges
    e2 = edges.select(F.col("wa").alias("wb"), F.col("wb").alias("wc"))
    e3 = edges.select(F.col("wa").alias("wa2"), F.col("wb").alias("wc2"))
    tri = (
        e1.join(e2, "wb")
        .join(e3, (F.col("wa") == F.col("wa2"))
              & (F.col("wc") == F.col("wc2")))
    )
    return (
        qual.agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(edges.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(tri.agg(F.count(F.lit(1)).alias("n_triangles")))
    )


from .inverted_index import TOKENS_FILTERED_SQL as _TOKENS_FILTERED_SQL  # noqa: E402

TRIANGLE_COUNT_SQL = f"""
WITH dw AS (
    SELECT DISTINCT doc_id, word FROM ({_TOKENS_FILTERED_SQL}) t
), df AS (
    SELECT word, count(*) AS dfreq FROM dw GROUP BY word
), qual AS (
    SELECT word FROM df
    WHERE dfreq BETWEEN {TRIANGLE_MIN_DF} AND {TRIANGLE_MAX_DF}
), dwq AS (
    SELECT dw.doc_id, dw.word FROM dw JOIN qual USING (word)
), edges AS (
    SELECT DISTINCT a.word AS wa, b.word AS wb
    FROM dwq a JOIN dwq b ON a.doc_id = b.doc_id AND a.word < b.word
)
SELECT (SELECT count(*) FROM qual) AS n_nodes,
       (SELECT count(*) FROM edges) AS n_edges,
       (SELECT count(*) FROM edges e1
          JOIN edges e2 ON e2.wa = e1.wb
          JOIN edges e3 ON e3.wa = e1.wa AND e3.wb = e2.wb)
           AS n_triangles
"""


BFS_HOPS = 4


def word_graph_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS shortest-path distances over the bigram word graph from a
    deterministic source (the lexicographically smallest word) —
    the graph-traversal leg of the iterative family (PageRank ranks,
    CC clusters, triangles count, this one MEASURES). Classic frontier
    expansion: only words first reached at hop h expand at hop h+1, so
    per-round work is the frontier's out-edges, not the whole graph.
    Distances are exact integers → exact DuckDB recursive-CTE oracle
    (bounded to ``BFS_HOPS``, so the recursion terminates without
    cycle tracking; min() collapses the path multiset).

    Scale: distinct edges cached once; the frontier join shuffles only
    frontier-reachable edges; per-round driver traffic is zero (the
    loop is a fixed hop count, no convergence collect needed);
    ``truncate_lineage`` truncates lineage per hop as in PageRank.
    Words unreachable within BFS_HOPS are absent from the result —
    same in both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    bigrams = adjacent_pairs(toks)
    edges = (
        docs.select(F.explode(bigrams).alias("e"))
        .select("e.src", "e.dst").distinct().cache()
    )
    nodes = (edges.select(F.col("src").alias("word"))
             .union(edges.select(F.col("dst").alias("word")))
             .distinct())
    source = nodes.agg(F.min("word")).collect()[0][0]  # bounded scalar

    dist = constant_table(spark, [(source, 0)], "word string, dist bigint")
    frontier = dist
    for hop in range(1, BFS_HOPS + 1):
        nxt = (frontier.join(edges, frontier.word == edges.src)
               .select(F.col("dst").alias("word"),
                       F.lit(hop).cast("bigint").alias("dist")))
        dist = truncate_lineage(
            dist.unionByName(nxt)
            .groupBy("word").agg(F.min("dist").alias("dist")))
        frontier = dist.filter(F.col("dist") == hop)
    return dist


WORD_DISTANCES_SQL = f"""
WITH RECURSIVE g0 AS (
    SELECT list_transform(
               range(1, len(string_split(text, ' '))),
               i -> struct_pack(src := string_split(text, ' ')[i],
                                dst := string_split(text, ' ')[i + 1]))
               AS lst
    FROM documents
), pairs AS (
    SELECT unnest(lst, recursive := true) FROM g0
), edges AS MATERIALIZED (
    SELECT DISTINCT src, dst FROM pairs
), src AS (
    SELECT min(word) AS word FROM (
        SELECT src AS word FROM edges UNION SELECT dst FROM edges)
), walk(word, dist) AS (
    SELECT word, 0 FROM src
    UNION ALL
    SELECT e.dst, p.dist + 1
    FROM walk p JOIN edges e ON e.src = p.word
    WHERE p.dist < {BFS_HOPS}
)
SELECT word, CAST(min(dist) AS BIGINT) AS dist
FROM walk GROUP BY word
"""


CC_MAX_DF_PCT10 = 9  # hub guard: keep words with df <= 90% of docs


def _guarded_word_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-hub-guarded oriented edge list of the word
    co-occurrence graph, shared by ``clustering_coefficient`` and
    ``k_core_words``: nodes = words with 2 ≤ df ≤ 90% of docs
    (integer-compared — no float boundary), edges = distinct
    same-document pairs oriented ``wa < wb``. ONE definition so a
    guard retune can never make the two graph analytics disagree
    about what the graph IS (the sf0.1 band degeneracy had to be
    fixed per-copy before this was factored).

    The returned relation is MATERIALIZED (``truncate_lineage``):
    both consumers reference it 3-4 times (degree agg + wedge-join
    legs / peel-round restrictions), and without the cut each
    reference replays the whole scan→distinct→band→pair-join
    pipeline (clustering_coefficient executed 41 exchanges; now the
    upstream runs once)."""
    from .inverted_index import tokens

    docs_n = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs"))
    dw = tokens(spark, sf_dir).select("doc_id", "word").distinct()
    dfreq = dw.groupBy("word").agg(F.count(F.lit(1)).alias("dfreq"))
    qual = (dfreq.crossJoin(docs_n)
            .filter((F.col("dfreq") >= TRIANGLE_MIN_DF)
                    & (F.col("dfreq") * 10
                       <= F.col("n_docs") * CC_MAX_DF_PCT10))
            .select("word"))
    dwq = dw.join(qual, "word").select("doc_id", "word")
    a = dwq.select("doc_id", F.col("word").alias("wa"))
    b = dwq.select("doc_id", F.col("word").alias("wb"))
    return truncate_lineage(
        a.join(b, "doc_id")
        .filter(F.col("wa") < F.col("wb"))
        .select("wa", "wb").distinct())


# SQL twin of _guarded_word_edges: CTE prefix ending at `edges0`
_GUARDED_EDGES_SQL_PREFIX = f"""
WITH dw AS (
    SELECT DISTINCT doc_id, word FROM ({{tokens_sql}}) t
), docs_n AS (SELECT count(*) AS n_docs FROM documents
), df AS (
    SELECT word, count(*) AS dfreq FROM dw GROUP BY word
), qual AS (
    SELECT word FROM df, docs_n
    WHERE dfreq >= {TRIANGLE_MIN_DF}
      AND dfreq * 10 <= n_docs * {{cc_max}}
), dwq AS (
    SELECT dw.doc_id, dw.word FROM dw JOIN qual USING (word)
), edges0 AS MATERIALIZED (
    SELECT DISTINCT a.word AS wa, b.word AS wb
    FROM dwq a JOIN dwq b ON a.doc_id = b.doc_id AND a.word < b.word
)"""


def clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the word
    co-occurrence graph: for each word,
    cc = 2·tri(v) / (deg(v)·(deg(v)−1)) — how tightly a word's
    co-occurrence neighborhood interlinks (topic-cohesion signal per
    term, where ``triangle_count`` reports only the global census).

    Shape: the oriented-edge (wa < wb) triangle enumeration from
    ``triangle_count``, then each triangle credits all three corners
    via one explode; degree is the edge list exploded at both
    endpoints. Exactness: tri and deg are integer counts; cc is one
    double division rounded to 6 dp.

    Hub guard: unlike ``triangle_count``'s absolute df band, the cap
    here is RELATIVE (df ≤ 90% of docs, integer-compared as
    ``df·10 ≤ n_docs·9`` — no float boundary), so the graph stays
    non-degenerate at every SF while still dropping corpus-wide
    stop-words whose neighborhoods carry no topical signal.

    Scale: same hub-guarded edge relation (df band caps degree); the
    per-node aggregates are combinable counts over the edge/triangle
    relations — nothing larger than the edge list shuffles.
    """
    edges = _guarded_word_edges(spark, sf_dir)
    deg = (edges.select(F.explode(F.array("wa", "wb")).alias("word"))
           .groupBy("word").agg(F.count(F.lit(1)).alias("degree")))
    e2 = edges.select(F.col("wa").alias("wb"), F.col("wb").alias("wc"))
    e3 = edges.select(F.col("wa").alias("wa2"), F.col("wb").alias("wc2"))
    tri = (edges.join(e2, "wb")
           .join(e3, (F.col("wa") == F.col("wa2"))
                 & (F.col("wc") == F.col("wc2")))
           .select(F.explode(F.array("wa", "wb", "wc")).alias("word"))
           .groupBy("word").agg(F.count(F.lit(1)).alias("n_tri")))
    return (deg.join(tri, "word", "left")
            .filter(F.col("degree") >= 2)
            .select("word", "degree",
                    F.coalesce("n_tri", F.lit(0)).alias("n_tri"),
                    F.round(
                        F.lit(2.0)
                        * F.coalesce("n_tri", F.lit(0)).cast("double")
                        / (F.col("degree")
                           * (F.col("degree") - 1)).cast("double"), 6)
                    .alias("cc")))


CLUSTERING_COEFF_SQL = f"""{_GUARDED_EDGES_SQL_PREFIX.format(
    tokens_sql=_TOKENS_FILTERED_SQL, cc_max=CC_MAX_DF_PCT10)},
edges AS (SELECT wa, wb FROM edges0),
deg AS (
    SELECT word, count(*) AS degree
    FROM (SELECT wa AS word FROM edges
          UNION ALL SELECT wb FROM edges) GROUP BY word
), tri AS (
    SELECT word, count(*) AS n_tri FROM (
        SELECT unnest([e1.wa, e1.wb, e2.wb]) AS word
        FROM edges e1
        JOIN edges e2 ON e2.wa = e1.wb
        JOIN edges e3 ON e3.wa = e1.wa AND e3.wb = e2.wb
    ) GROUP BY word
)
SELECT word, degree, COALESCE(n_tri, 0) AS n_tri,
       round(2.0 * CAST(COALESCE(n_tri, 0) AS DOUBLE)
             / CAST(degree * (degree - 1) AS DOUBLE), 6) AS cc
FROM deg LEFT JOIN tri USING (word)
WHERE degree >= 2
"""


K_CORE_K = 3          # degree threshold for the core
K_CORE_ROUNDS = 4     # fixed peeling rounds (converged flag reported)


def k_core_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the word co-occurrence graph by
    BOUNDED PEELING: repeatedly drop nodes with degree < k (k=3) and
    recompute degrees, ``K_CORE_ROUNDS`` fixed rounds — the graph-
    cleaning primitive (dense-subgraph extraction) whose peel-loop
    control pattern differs from PageRank's value iteration and CC's
    label propagation: the RELATION SHRINKS each round instead of the
    values updating.

    Reports every surviving node with its degree inside the final
    core plus a ``converged`` flag (round R−1 == round R survivor
    count) so a non-converged run is visible, not silent. Fixed
    rounds keep the plan static — no driver-side convergence collect,
    and an exact unrolled-CTE oracle (MATERIALIZED CTEs: the inlined
    default re-evaluates each round's relation 3x, the same
    exponential blowup ``truncate_lineage`` prevents on the Spark
    side).

    Exactness: degrees and counts are integers throughout.

    Scale: each round is one aggregate + one semi-join over the edge
    relation, which only shrinks — and is lineage-truncated per round
    (``truncate_lineage``): each round references its input three
    times, so an un-truncated plan grows 3^R subtrees. Same relative
    hub guard as ``clustering_coefficient``.
    """
    edges = _guarded_word_edges(spark, sf_dir)

    def survivors(edge_df):
        deg = (edge_df.select(
            F.explode(F.array("wa", "wb")).alias("word"))
            .groupBy("word").agg(F.count(F.lit(1)).alias("degree")))
        return deg.filter(F.col("degree") >= K_CORE_K).select("word")

    # each round references the edge relation three times (degree agg
    # + both endpoint semi-restrictions) — without per-round lineage
    # truncation the plan tree TRIPLES per round (3^R subtrees).
    # Round 0's cut already happened inside _guarded_word_edges.
    cur_edges = edges
    counts = []
    for _ in range(K_CORE_ROUNDS):
        keep = survivors(cur_edges)
        counts.append(keep.agg(
            F.count(F.lit(1)).alias("n")))
        cur_edges = truncate_lineage(
            cur_edges
            .join(keep.withColumnRenamed("word", "wa"), "wa")
            .join(keep.withColumnRenamed("word", "wb"), "wb")
            .select("wa", "wb"))
    final_deg = (cur_edges.select(
        F.explode(F.array("wa", "wb")).alias("word"))
        .groupBy("word").agg(F.count(F.lit(1)).alias("degree"))
        .filter(F.col("degree") >= K_CORE_K))
    prev_n = counts[-2].withColumnRenamed("n", "n_prev")
    last_n = counts[-1].withColumnRenamed("n", "n_last")
    return (final_deg
            .crossJoin(prev_n)
            .crossJoin(last_n)
            .select("word", "degree",
                    (F.col("n_prev") == F.col("n_last"))
                    .alias("converged")))


def _k_core_sql() -> str:
    rounds = []
    prev = "edges0"
    for r in range(1, K_CORE_ROUNDS + 1):
        rounds.append(f"""
keep{r} AS MATERIALIZED (
    SELECT word FROM (
        SELECT word, count(*) AS degree FROM (
            SELECT wa AS word FROM {prev}
            UNION ALL SELECT wb FROM {prev}
        ) GROUP BY word
    ) WHERE degree >= {K_CORE_K}
),
edges{r} AS MATERIALIZED (
    SELECT e.wa, e.wb FROM {prev} e
    JOIN keep{r} ka ON ka.word = e.wa
    JOIN keep{r} kb ON kb.word = e.wb
)""")
        prev = f"edges{r}"
    last, before = K_CORE_ROUNDS, K_CORE_ROUNDS - 1
    return f"""{_GUARDED_EDGES_SQL_PREFIX.format(
        tokens_sql=_TOKENS_FILTERED_SQL, cc_max=CC_MAX_DF_PCT10)},{",".join(rounds)}
SELECT word, degree,
       (SELECT count(*) FROM keep{before})
           = (SELECT count(*) FROM keep{last}) AS converged
FROM (
    SELECT word, count(*) AS degree FROM (
        SELECT wa AS word FROM edges{last}
        UNION ALL SELECT wb FROM edges{last}
    ) GROUP BY word
) WHERE degree >= {K_CORE_K}
"""


K_CORE_SQL = _k_core_sql()


# --- HITS hubs & authorities ----------------------------------------------

HITS_ITERATIONS = 4


def hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg 1999) over the bigram word graph: mutually
    recursive hub/authority scores — a word is a good hub if it
    precedes good authorities, a good authority if good hubs precede
    it. The directed complement of ``pagerank_word_graph`` (PageRank
    ranks by incoming mass only; HITS separates the two roles).

    Iteration shape = the PageRank discipline verbatim: the edge
    relation is computed once and cached; each half-step is one join
    against it + one combinable aggregation; L1 normalization is a
    broadcast 1-row total (no collect); lineage is truncated per
    half-step. Nodes with no in-edges carry authority 0, no out-edges
    hub 0 (the left-join coalesce).

    Exactness (oracle-checkable): every float contribution is
    round(·,10)-pinned and summed in DECIMAL(25,10) — order-free —
    and each normalization is one correctly-rounded double division
    by the exact decimal L1 total, so all ``HITS_ITERATIONS``
    iterations replay bit-identically as unrolled DuckDB CTEs."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    bigrams = adjacent_pairs(toks)
    edges = (
        docs.select(F.explode(bigrams).alias("e"))
        .select("e.src", "e.dst")
        .groupBy("src", "dst").agg(F.count(F.lit(1)).alias("weight"))
        .cache()
    )
    nodes = (edges.select(F.col("src").alias("word"))
             .union(edges.select(F.col("dst").alias("word")))
             .distinct().cache())
    n_nodes = nodes.count()

    dec = "decimal(25,10)"
    zero = F.lit(0).cast(dec)
    hubs = nodes.withColumn(
        "hub", F.round(F.lit(1.0) / F.lit(n_nodes), 10).cast(dec))

    def _normalize(raw: DataFrame, col: str) -> DataFrame:
        # r10 note: tried cutting only the hub side (pagerank's
        # cut-every-2 trick) — measured a WASH at sf0.1 (uncut auth
        # makes hraw recompute the araw pipeline, eating the saved
        # job), so both sides keep their per-iteration cut.
        total = raw.agg(F.sum("raw").alias("s"))
        return truncate_lineage(
            nodes.join(raw, "word", "left")
            .crossJoin(total)
            .select("word",
                    F.round(F.coalesce("raw", zero).cast("double")
                            / F.col("s").cast("double"), 10)
                    .cast(dec).alias(col)))

    auth = None
    for _ in range(HITS_ITERATIONS):
        araw = (edges.join(hubs, edges.src == hubs.word)
                .select(F.col("dst").alias("word"),
                        F.round(F.col("hub").cast("double")
                                * F.col("weight"), 10)
                        .cast(dec).alias("contrib"))
                .groupBy("word").agg(F.sum("contrib").alias("raw")))
        auth = _normalize(araw, "authority")
        hraw = (edges.join(auth, edges.dst == auth.word)
                .select(F.col("src").alias("word"),
                        F.round(F.col("authority").cast("double")
                                * F.col("weight"), 10)
                        .cast(dec).alias("contrib"))
                .groupBy("word").agg(F.sum("contrib").alias("raw")))
        hubs = _normalize(hraw, "hub")

    return (hubs.join(auth, "word")
            .select("word", F.col("hub").cast("double").alias("hub"),
                    F.col("authority").cast("double").alias("authority")))


def _hits_iteration_ctes() -> str:
    blocks = []
    for i in range(1, HITS_ITERATIONS + 1):
        blocks.append(f""",
ar{i} AS MATERIALIZED (
    SELECT e.dst AS word,
           sum(CAST(round(CAST(h.hub AS DOUBLE) * e.weight, 10)
                    AS DECIMAL(25,10))) AS raw
    FROM edges e JOIN h{i - 1} h ON e.src = h.word GROUP BY e.dst
),
at{i} AS MATERIALIZED (SELECT sum(raw) AS s FROM ar{i}),
a{i} AS MATERIALIZED (
    SELECT n.word,
           CAST(round(CAST(COALESCE(ar.raw, CAST(0 AS DECIMAL(25,10)))
                           AS DOUBLE) / CAST(t.s AS DOUBLE), 10)
                AS DECIMAL(25,10)) AS authority
    FROM nodes n LEFT JOIN ar{i} ar ON n.word = ar.word CROSS JOIN at{i} t
),
hr{i} AS MATERIALIZED (
    SELECT e.src AS word,
           sum(CAST(round(CAST(a.authority AS DOUBLE) * e.weight, 10)
                    AS DECIMAL(25,10))) AS raw
    FROM edges e JOIN a{i} a ON e.dst = a.word GROUP BY e.src
),
ht{i} AS MATERIALIZED (SELECT sum(raw) AS s FROM hr{i}),
h{i} AS MATERIALIZED (
    SELECT n.word,
           CAST(round(CAST(COALESCE(hr.raw, CAST(0 AS DECIMAL(25,10)))
                           AS DOUBLE) / CAST(t.s AS DOUBLE), 10)
                AS DECIMAL(25,10)) AS hub
    FROM nodes n LEFT JOIN hr{i} hr ON n.word = hr.word CROSS JOIN ht{i} t
)""")
    return "".join(blocks)


HITS_SQL = f"""
WITH g0 AS (
    SELECT list_transform(
               range(1, len(string_split(text, ' '))),
               i -> struct_pack(src := string_split(text, ' ')[i],
                                dst := string_split(text, ' ')[i + 1]))
               AS lst
    FROM documents
), pairs AS (
    SELECT unnest(lst, recursive := true) FROM g0
), edges AS MATERIALIZED (
    SELECT src, dst, count(*) AS weight FROM pairs GROUP BY src, dst
), nodes AS MATERIALIZED (
    SELECT src AS word FROM edges UNION SELECT dst FROM edges
), nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
h0 AS MATERIALIZED (
    SELECT word, CAST(round(1.0 / nn.n, 10) AS DECIMAL(25,10)) AS hub
    FROM nodes CROSS JOIN nn
){_hits_iteration_ctes()}
SELECT h.word, CAST(h.hub AS DOUBLE) AS hub,
       CAST(a.authority AS DOUBLE) AS authority
FROM h{HITS_ITERATIONS} h JOIN a{HITS_ITERATIONS} a ON h.word = a.word
"""


# --- Adamic-Adar link prediction ---------------------------------------------

AA_TOP_K = 20


def _pmi_collocation_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positive-PMI collocation graph: nodes = words, undirected edge
    (wa < wb; self-pairs dropped) iff the adjacent-bigram pair count
    clears independence — PMI > 0 ⟺ 2N·c_ab > m_a·m_b with N the
    total undirected pair count and m_w the pair-slot marginal, ALL
    exact integers (no float boundary can flip an edge; the factor 2
    is the unordered-pair independence model p_ab vs 2·p_a·p_b —
    hypothesis-pinned against exact rational PMI in
    tests/test_properties.py). This is the
    standard collocation-graph construction, and unlike the same-doc
    co-occurrence graph it stays SPARSE on a small-vocabulary corpus
    (same-doc adjacency is complete at 31 words — measured; PMI keeps
    ~230 of ~480 pairs at every SF, because a hub that co-occurs with
    everything proportionally sits at lift ≈ 1 and is cut).

    At > ~10⁹ total pairs the m_a·m_b product needs DECIMAL(38,0) /
    HUGEINT instead of BIGINT — one cast on each side of the
    inequality.

    MATERIALIZED: consumers reference it 3× (two neighbor
    orientations + the existing-edge anti-join)."""
    from ..functions.lineage import truncate_lineage
    from ..functions.tokens import adjacent_pairs

    docs = load_table(spark, sf_dir, "documents")
    op = (docs.select(F.explode(adjacent_pairs(F.split("text", " ")))
                      .alias("p"))
          .select(F.col("p.src").alias("a"), F.col("p.dst").alias("b"))
          .filter(F.col("a") != F.col("b")))
    cab = (op.select(F.least("a", "b").alias("wa"),
                     F.greatest("a", "b").alias("wb"))
           .groupBy("wa", "wb").agg(F.count(F.lit(1)).alias("c")))
    tot = cab.agg(F.sum("c").alias("n"))
    marg = (cab.select(F.col("wa").alias("w"), "c")
            .unionAll(cab.select(F.col("wb").alias("w"), "c"))
            .groupBy("w").agg(F.sum("c").alias("m")))
    ma = marg.select(F.col("w").alias("wa"), F.col("m").alias("m_a"))
    mb = marg.select(F.col("w").alias("wb"), F.col("m").alias("m_b"))
    return truncate_lineage(
        cab.crossJoin(tot)
        .join(ma, "wa").join(mb, "wb")
        .filter(F.lit(2) * F.col("n") * F.col("c")
                > F.col("m_a") * F.col("m_b"))
        .select("wa", "wb"))


# SQL twin of _pmi_collocation_edges: CTE prefix ending at `edges0`.
_PMI_EDGES_SQL_PREFIX = """
WITH op AS (
    SELECT unnest(list_transform(
               range(1, len(string_split(text, ' '))),
               i -> struct_pack(a := string_split(text, ' ')[i],
                                b := string_split(text, ' ')[i+1]))) AS p
    FROM documents
), und AS (
    SELECT least(p.a, p.b) AS wa, greatest(p.a, p.b) AS wb
    FROM op WHERE p.a <> p.b
), cab AS (
    SELECT wa, wb, count(*) AS c FROM und GROUP BY wa, wb
), tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cab
), marg AS (
    SELECT w, CAST(sum(c) AS BIGINT) AS m FROM (
        SELECT wa AS w, c FROM cab
        UNION ALL
        SELECT wb AS w, c FROM cab
    ) GROUP BY w
), edges0 AS MATERIALIZED (
    SELECT cab.wa, cab.wb
    FROM cab, tot
    JOIN marg ma ON ma.w = cab.wa
    JOIN marg mb ON mb.w = cab.wb
    WHERE 2 * tot.n * cab.c > ma.m * mb.m
)"""


def adamic_adar_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the positive-PMI collocation
    graph: for word pairs NOT currently edges, score Σ_z 1/ln(deg z)
    over their common neighbors z (Adamic & Adar 2003) and return the
    top-``AA_TOP_K`` predicted links — the classic common-neighbor
    recommender (LinkedIn PYMK lineage), here surfacing word pairs
    that share collocation partners without being collocations
    themselves. Completes the graph family: PageRank ranks nodes,
    triangles/coefficient measure closure, THIS predicts where
    closure happens next.

    Exactness: edge membership is an exact integer PMI inequality
    (see ``_pmi_collocation_edges``); deg z is an exact integer;
    every common neighbor z in a wedge has deg ≥ 2, so 1/ln(deg) is
    well-defined and round(·,10)-pinned → DECIMAL(25,10) before the
    order-insensitive sum (the pin also absorbs any last-ulp libm
    ln() disagreement). Ranking sorts the exact decimal, tie-broken
    lexicographically.

    Scale: the corpus collapses to the vocabulary-bounded pair-count
    relation in one combinable aggregation; PMI sparsification bounds
    wedge fan-out (hubs with proportional co-occurrence sit at
    lift ≈ 1 and are cut); the wedge enumeration is one equi-join on
    z over the broadcast-sized edge list, the existing-edge exclusion
    a left-anti equi-join, and the top-k a TakeOrdered, never a
    global sort.
    """
    edges = _pmi_collocation_edges(spark, sf_dir)
    nbr = (edges.select(F.col("wa").alias("z"), F.col("wb").alias("x"))
           .unionAll(edges.select(F.col("wb").alias("z"),
                                  F.col("wa").alias("x"))))
    deg = nbr.groupBy("z").agg(F.count(F.lit(1)).alias("d"))
    n1 = nbr.select("z", F.col("x").alias("u"))
    n2 = nbr.select("z", F.col("x").alias("w"))
    wedges = (n1.join(n2, "z").filter(F.col("u") < F.col("w"))
              .join(deg, "z")
              .groupBy("u", "w")
              .agg(F.count(F.lit(1)).alias("n_common"),
                   F.sum(F.round(F.lit(1.0) / F.log(F.col("d")), 10)
                         .cast("decimal(25,10)")).alias("aa_dec")))
    ex = edges.select(F.col("wa").alias("ea"), F.col("wb").alias("eb"))
    cand = wedges.join(
        ex, (wedges.u == ex.ea) & (wedges.w == ex.eb), "left_anti")
    return (cand.orderBy(F.col("aa_dec").desc(), "u", "w")
            .limit(AA_TOP_K)
            .select(F.col("u").alias("word_a"), F.col("w").alias("word_b"),
                    "n_common",
                    F.col("aa_dec").cast("double").alias("aa_score")))


ADAMIC_ADAR_SQL = f"""{_PMI_EDGES_SQL_PREFIX},
nbr AS (
    SELECT wa AS z, wb AS x FROM edges0
    UNION ALL
    SELECT wb AS z, wa AS x FROM edges0
), deg AS (
    SELECT z, count(*) AS d FROM nbr GROUP BY z
), wedges AS (
    SELECT n1.x AS u, n2.x AS w, count(*) AS n_common,
           sum(CAST(round(1.0 / ln(dg.d), 10) AS DECIMAL(25,10)))
               AS aa_dec
    FROM nbr n1
    JOIN nbr n2 ON n1.z = n2.z AND n1.x < n2.x
    JOIN deg dg ON dg.z = n1.z
    GROUP BY n1.x, n2.x
), cand AS (
    SELECT wd.* FROM wedges wd
    LEFT JOIN edges0 e ON wd.u = e.wa AND wd.w = e.wb
    WHERE e.wa IS NULL
)
SELECT u AS word_a, w AS word_b, n_common,
       CAST(aa_dec AS DOUBLE) AS aa_score
FROM cand
ORDER BY aa_dec DESC, u, w
LIMIT {AA_TOP_K}
"""


# --- one synchronous label-propagation round ------------------------------

LPA_TOP = 20


def label_propagation_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One synchronous label-propagation round (Raghavan et al. 2007)
    over the undirected bigram co-occurrence word graph, from the
    canonical every-node-is-its-own-label start: each word adopts the
    neighbor label with the greatest total edge weight (ties to the
    lexicographically smallest — the deterministic variant), and the
    output is the TOP-20 emergent communities by member count. The
    first LPA round IS the heaviest-neighbor map — later rounds reuse
    the identical join shape, so one round is the honest unit of this
    iterative family (`pagerank_word_graph` proves the loop plumbing).

    Exactness: weights and member counts are exact integers; both
    argmax and the top-20 are row_number over total orders.

    Scale: the argmax window is PARTITIONED BY word (per-partition
    state = one adjacency list); the only global window runs on the
    post-aggregation community relation (≤ |labels| rows), and the
    symmetrized edge list is one map-side union ahead of a single
    combinable (src, dst) count.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    pairs = (docs.select(F.explode(adjacent_pairs(toks)).alias("e"))
             .select("e.src", "e.dst"))
    und = pairs.union(pairs.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
    nbr = und.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("weight"))
    w_arg = Window.partitionBy("src").orderBy(
        F.desc("weight"), F.asc("dst"))
    lab = (nbr.withColumn("rn", F.row_number().over(w_arg))
           .filter(F.col("rn") == 1)
           .select(F.col("src").alias("word"),
                   F.col("dst").alias("new_label")))
    comm = lab.groupBy("new_label").agg(
        F.count(F.lit(1)).alias("n_members"))
    w_top = Window.orderBy(F.desc("n_members"), F.asc("new_label"))
    return (comm.withColumn(
        "rk", F.row_number().over(w_top).cast("bigint"))
        .filter(F.col("rk") <= LPA_TOP)
        .select("rk", "new_label", "n_members"))


LABEL_PROPAGATION_SQL = f"""
WITH g0 AS (
    SELECT list_transform(
               range(1, len(string_split(text, ' '))),
               i -> struct_pack(src := string_split(text, ' ')[i],
                                dst := string_split(text, ' ')[i + 1]))
               AS lst
    FROM documents
), pairs AS (
    SELECT unnest(lst, recursive := true) FROM g0
), und AS (
    SELECT src, dst FROM pairs
    UNION ALL
    SELECT dst, src FROM pairs
), nbr AS (
    SELECT src, dst, count(*) AS weight FROM und GROUP BY 1, 2
), lab AS (
    SELECT src AS word, dst AS new_label
    FROM (SELECT *, row_number() OVER (
              PARTITION BY src ORDER BY weight DESC, dst) AS rn
          FROM nbr)
    WHERE rn = 1
), comm AS (
    SELECT new_label, count(*) AS n_members FROM lab GROUP BY 1
)
SELECT rk, new_label, n_members
FROM (SELECT *, row_number() OVER (
          ORDER BY n_members DESC, new_label) AS rk
      FROM comm)
WHERE rk <= {LPA_TOP}
"""
