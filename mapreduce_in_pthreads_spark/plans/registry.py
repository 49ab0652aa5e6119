"""Query registry — the single source of truth consumed by
``__spark_entry__.py`` (driver contract) and by the local oracle-parity
tests.

Every implemented operator from SURVEY.md §2 appears here as a named
``Query``: a ``(spark, sf_dir) -> DataFrame`` callable plus, where the
semantics are ANSI-SQL-expressible, the DuckDB oracle twin the driver
runs side-by-side at sf=0.01. ``oracle=None`` marks the genuinely
non-SQL ops (approximate sketches, ML-backed similarity) → the driver
records the weaker rows-only check.

Column-name contract: the driver sorts columns by NAME before hashing,
so every computed column is aliased identically in the Spark callable
and the SQL twin.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from ..operators import advanced as adv
from ..operators import curation as cu
from ..operators import dedup as dd
from ..operators import inverted_index as ii
from ..operators import iterative as it
from ..operators import evaluation as ev
from ..operators import joins as jn
from ..operators import layout as lay
from ..operators import multimodal as mm
from ..operators import semistructured as ss
from ..operators import quantizer as qz
from ..operators import similarity as sim
from ..operators import skew as sk
from ..operators import sql_surface as sq
from ..operators import text_analysis as ta
from ..operators import udfs as ud
from ..operators import relational as rel
from ..operators import timeseries as ts
from ..operators import tpch_shapes as tq
from ..operators import tpch_shapes2 as tq2
from ..operators import windows as win

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    fn: QueryFn
    oracle: Optional[str]
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, fn: QueryFn, oracle: Optional[str], doc: str = "") -> None:
    if name in REGISTRY:
        raise ValueError(f"duplicate query name: {name}")
    REGISTRY[name] = Query(fn=fn, oracle=oracle, doc=doc)


# --- flagship + derived (reference parity: mapreduce.c R1-R11) ----------
register("inverted_index", ii.inverted_index, ii.INVERTED_INDEX_SQL,
         "reference flagship: word → canonical posting string")
register("word_count", ii.word_count, ii.WORD_COUNT_SQL,
         "derived: word → occurrence count (map-side combinable)")
register("doc_frequency", ii.doc_frequency, ii.DOC_FREQUENCY_SQL,
         "derived: word → distinct containing docs")
register("corpus_stats", ii.corpus_stats, ii.CORPUS_STATS_SQL,
         "derived: corpus invariants (occurrences/words/docs)")
register("index_top_docs", ii.index_top_docs, ii.INDEX_TOP_DOCS_SQL,
         "scale-capped index: bounded top-k postings per word")
register("rdd_inverted_index", ii.rdd_inverted_index,
         ii.INVERTED_INDEX_SQL,
         "flagship on the RDD API (flatMap/aggregateByKey), same oracle")
register("incremental_index_merge", ii.incremental_index_merge,
         ii.INVERTED_INDEX_SQL,
         "state+delta partial-postings merge == full index (mergeable-"
         "monoid proof for the flagship), same oracle")
register("phrase_search_positional", ii.phrase_search_positional,
         ii.PHRASE_SEARCH_SQL,
         "positional-index phrase search: exact two-word phrase "
         "occurrences via the (doc, pos)->(doc, pos+1) postings merge")

# --- core relational (SURVEY §2.3 rows 1-4, 7-9) -------------------------
register("q1_pricing_summary", rel.q1_pricing_summary, rel.Q1_SQL,
         "TPC-H Q1 shape: scan-filter-group, map-side combinable")
register("q6_forecast_revenue", rel.q6_forecast_revenue, rel.Q6_SQL,
         "TPC-H Q6 shape: selective pushdown filters + sum")
register("top_k_orders", rel.top_k_orders, rel.TOP_K_ORDERS_SQL,
         "global top-k via TakeOrderedAndProject")
register("group_having", rel.group_having, rel.GROUP_HAVING_SQL,
         "group-by + HAVING with stable avg")
register("distinct_agg", rel.distinct_agg, rel.DISTINCT_AGG_SQL,
         "COUNT(DISTINCT) per group")
register("approx_distinct", rel.approx_distinct, rel.APPROX_DISTINCT_SQL,
         "HLL++ approx_count_distinct, bounded-error audit: exact NDVs "
         "+ |approx-exact|/exact <= 5% flags the oracle pins to 1")
register("case_when_buckets", rel.case_when_buckets, rel.CASE_WHEN_SQL,
         "CASE WHEN bucketing + conditional agg")
register("in_between_predicates", rel.in_between_predicates,
         rel.IN_BETWEEN_SQL, "IN / BETWEEN / IS NOT NULL pushdown")
register("scalar_string_fns", rel.scalar_string_fns, rel.SCALAR_STRING_SQL,
         "string function surface")
register("date_functions", rel.date_functions, rel.DATE_FUNCTIONS_SQL,
         "date/time extract-trunc-diff surface")
register("rollup_status_priority", rel.rollup_status_priority,
         rel.ROLLUP_SQL, "GROUP BY ROLLUP + GROUPING()")
register("cube_flag_status", rel.cube_flag_status, rel.CUBE_SQL,
         "GROUP BY CUBE + GROUPING()")
register("set_union_all", rel.set_union_all, rel.SET_UNION_SQL,
         "UNION ALL of tagged sources")
register("set_intersect", rel.set_intersect, rel.SET_INTERSECT_SQL,
         "INTERSECT distinct semantics")
register("set_except", rel.set_except, rel.SET_EXCEPT_SQL,
         "EXCEPT distinct semantics")
register("set_intersect_all", rel.set_intersect_all,
         rel.SET_INTERSECT_ALL_SQL, "INTERSECT ALL multiset semantics")
register("set_except_all", rel.set_except_all,
         rel.SET_EXCEPT_ALL_SQL, "EXCEPT ALL multiset semantics")

# --- joins (SURVEY §2.3 'Joins') -----------------------------------------
register("revenue_by_nation", jn.revenue_by_nation,
         jn.REVENUE_BY_NATION_SQL,
         "TPC-H Q5 shape: broadcast dims + shuffle fact join")
register("customer_order_stats", jn.customer_order_stats,
         jn.CUSTOMER_ORDER_STATS_SQL, "left outer join, zero-preserving")
register("customers_with_big_orders", jn.customers_with_big_orders,
         jn.CUSTOMERS_WITH_BIG_ORDERS_SQL, "left semi join (EXISTS)")
register("customers_without_orders", jn.customers_without_orders,
         jn.CUSTOMERS_WITHOUT_ORDERS_SQL, "left anti join (NOT EXISTS)")
register("orders_with_heavy_items", jn.orders_with_heavy_items,
         jn.ORDERS_WITH_HEAVY_ITEMS_SQL, "fact-fact semi join (Q4 shape)")
register("purchases_with_prior_clicks", jn.purchases_with_prior_clicks,
         jn.PURCHASES_WITH_PRIOR_CLICKS_SQL,
         "range/theta join keyed by user (event sequences)")
register("self_join_part_pairs", jn.self_join_part_pairs,
         jn.SELF_JOIN_PART_PAIRS_SQL, "self equi-join with pair dedup")

# --- window functions (SURVEY §2.3 'Window fns') -------------------------
register("top_orders_per_customer", win.top_orders_per_customer,
         win.TOP_ORDERS_PER_CUSTOMER_SQL,
         "row_number/rank/dense_rank top-N per group")
register("running_customer_spend", win.running_customer_spend,
         win.RUNNING_CUSTOMER_SPEND_SQL, "cumulative sum window")
register("event_lag_lead", win.event_lag_lead, win.EVENT_LAG_LEAD_SQL,
         "lag/lead + integer-µs event gaps")
register("moving_avg_spend", win.moving_avg_spend, win.MOVING_AVG_SPEND_SQL,
         "explicit ROWS frame moving aggregate")
register("nation_share_of_region", win.nation_share_of_region,
         win.NATION_SHARE_OF_REGION_SQL,
         "window-over-aggregate share-of-total")

# --- event time / semi-structured (SURVEY §2.3 'Streaming-shaped') -------
register("tumbling_hourly", ts.tumbling_hourly, ts.TUMBLING_HOURLY_SQL,
         "tumbling 1h event-time windows")
register("sliding_2h_1h", ts.sliding_2h_1h, ts.SLIDING_2H_1H_SQL,
         "sliding 2h/1h event-time windows")
register("session_windows_30m", ts.session_windows_30m,
         ts.SESSION_WINDOWS_30M_SQL, "session windows, 30m gap")
register("dedup_events_in_window", ts.dedup_events_in_window,
         ts.DEDUP_EVENTS_SQL, "event-time dedup within tumbling hour")
register("json_props_extract", ts.json_props_extract, ts.JSON_PROPS_SQL,
         "JSON prop extraction + aggregation")
register("from_json_typed", ts.from_json_typed, ts.FROM_JSON_SQL,
         "schema-on-read from_json with declared schema")
register("approx_quantiles_events", ts.approx_quantiles_events,
         ts.APPROX_QUANTILES_SQL,
         "approx_percentile sketch, bounded-error audit: per-type "
         "counts + sketch-vs-exact-percentile <= 5% flags")
register("hll_sketch_users", ts.hll_sketch_users, ts.HLL_SKETCH_SQL,
         "mergeable HLL distinct sketches + sketch-union ALL row, "
         "bounded-error audit: exact distincts + <= 5% flags")
register("gap_fill_hourly", ts.gap_fill_hourly, ts.GAP_FILL_SQL,
         "dense hourly grid + zero-fill + forward-fill (per-group "
         "sequence, one window pass)")
register("event_rate_anomaly", ts.event_rate_anomaly,
         ts.EVENT_RATE_ANOMALY_SQL,
         "trailing-24h z-score rate anomaly over the dense hourly "
         "grid (integer frame sums — exact cross-engine)")
register("session_path_transitions", ts.session_path_transitions,
         ts.SESSION_PATH_SQL,
         "within-session Markov transition matrix over event types "
         "(three window passes, one shared user_id exchange)")
register("daily_profile_similarity", ts.daily_profile_similarity,
         ts.DAILY_PROFILE_SIM_SQL,
         "time-series similarity search: top-k users by cosine over "
         "hour-of-day profiles (sparse hod-join, integer sums)")
register("rolling_correlation", ts.rolling_correlation,
         ts.ROLLING_CORR_SQL,
         "trailing-24h Pearson r between click and purchase rate "
         "series (integer moment sums — exact cross-engine)")
register("merge_upsert_latest", ts.merge_upsert_latest,
         ts.MERGE_UPSERT_SQL,
         "CDC-style MERGE: snapshot ⟕⟖ delta, delta wins, op audit")
register("value_histogram", ts.value_histogram, ts.VALUE_HISTOGRAM_SQL,
         "equi-width histogram: projection buckets + combinable rollup")
register("modal_event_type", ts.modal_event_type,
         ts.MODAL_EVENT_TYPE_SQL,
         "per-user mode via max_by over (count, type) struct")
register("weekly_retention", ts.weekly_retention,
         ts.WEEKLY_RETENTION_SQL,
         "D7 retention: distinct-day self-join, combinable rollup")
register("map_functions", ss.map_functions, ss.MAP_FUNCTIONS_SQL,
         "map-typed column surface (projected to comparable shapes)")
register("explode_outer_rare_words", ss.explode_outer_rare_words,
         ss.EXPLODE_OUTER_SQL, "explode_outer keeps empty-array rows")
register("malformed_json_resilience", ss.malformed_json_resilience,
         ss.MALFORMED_JSON_SQL,
         "dirty-data contract: malformed JSON -> NULL, never job failure")
register("variant_props_extract", ss.variant_props_extract,
         ss.VARIANT_PROPS_SQL,
         "VARIANT type: parse_json once, variant_get many (Spark 4)")
register("pagerank_word_graph", it.pagerank_word_graph, it.PAGERANK_SQL,
         "iterative PageRank over word co-occurrence graph (rows-only)")
register("connected_components_dedup", it.connected_components_dedup,
         it.CONNECTED_COMPONENTS_SQL,
         "Hash-Min label propagation closes dup pairs into clusters "
         "(oracle: recursive CTE)")
register("triangle_count", it.triangle_count, it.TRIANGLE_COUNT_SQL,
         "triangle census of the word co-occurrence graph: oriented "
         "edge enumeration + 3-way wedge join, df-band hub guard")
register("word_graph_distances", it.word_graph_distances,
         it.WORD_DISTANCES_SQL,
         "BFS shortest-path distances from the min word (frontier "
         "expansion; oracle: bounded recursive CTE)")

# --- deduplication (north-star: LLM data pipeline) -----------------------
register("exact_dedup", dd.exact_dedup, dd.EXACT_DEDUP_SQL,
         "exact dedup by content fingerprint, deterministic survivor")
register("jaccard_similarity_join", dd.jaccard_similarity_join,
         dd.JACCARD_JOIN_SQL,
         "exact shingle-Jaccard similarity join (LSH baseline)")
register("minhash_lsh_dedup", dd.minhash_lsh_dedup, dd.MINHASH_LSH_SQL,
         "MinHash signatures -> banded LSH -> verified near-dups")
register("simhash_fingerprints", dd.simhash_fingerprints, dd.SIMHASH_SQL,
         "64-bit SimHash per doc (md5 bit source — cross-engine "
         "reproducible, hex-string fingerprint)")
register("embedding_near_dup", dd.embedding_near_dup,
         dd.EMBEDDING_NEAR_DUP_SQL,
         "cosine >= 0.9 near-dup pairs, expression-only kernel")
register("duplicate_spans", dd.duplicate_spans, dd.DUPLICATE_SPANS_SQL,
         "exact duplicate-span detection: consecutive shared-5-gram "
         "diagonal runs per doc pair (substring-level dedup, "
         "Lee et al. 2022 shape)")
register("curation_funnel", cu.curation_funnel, cu.CURATION_FUNNEL_SQL,
         "composed corpus-curation funnel: quality -> exact dedup -> "
         "near-dup canonical -> per-lang manifest")
register("integrity_audit", cu.integrity_audit, cu.INTEGRITY_AUDIT_SQL,
         "dbt-style integrity gates: FK orphans, uniqueness, null rates")
register("stratified_sample_fractions", cu.stratified_sample_fractions,
         cu.STRATIFIED_SAMPLE_SQL,
         "native sampleBy stratified sampling, bounded-error audit: "
         "per-stratum census + 6-sigma binomial-rate flags")
register("deterministic_sample_per_lang",
         cu.deterministic_sample_per_lang, cu.DETERMINISTIC_SAMPLE_SQL,
         "md5-ranked exact-size per-stratum sample (reproducible)")
register("mixture_sampling_weights", cu.mixture_sampling_weights,
         cu.MIXTURE_WEIGHTS_SQL,
         "temperature-sampled multilingual mix weights (alpha=0.5, "
         "sqrt-damped, deterministic running-sum denominator)")
register("dsir_importance_weights", cu.dsir_importance_weights,
         cu.DSIR_SQL,
         "DSIR importance resampling: hashed unigram+bigram LMs, "
         "target/source log-likelihood ratio, top-N selection")
register("soft_dedup_weights", cu.soft_dedup_weights,
         cu.SOFT_DEDUP_SQL,
         "SoftDeDup reweighting: 1/commonness sampling weight from "
         "the transitive near-dup cluster size (soft, not hard, dedup)")
register("pretrain_curation_report", cu.pretrain_curation_report,
         cu.PRETRAIN_REPORT_SQL,
         "the full modern curation recipe composed: funnel stages + "
         "SemDeDup semantic prune + DSIR selection, per-lang manifest")

# --- similarity search ----------------------------------------------------
register("ann_topk_bruteforce", sim.ann_topk_bruteforce,
         sim.ANN_TOPK_BRUTEFORCE_SQL,
         "exact top-k cosine neighbors (baseline)")
register("ann_ivf_topk", sim.ann_ivf_topk, sim.ANN_IVF_TOPK_SQL,
         "IVF cell-pruned top-k cosine neighbors (scale path)")
register("label_centroid_norms", sim.label_centroid_norms,
         sim.LABEL_CENTROID_NORMS_SQL,
         "per-cell centroid norms (decimal-pinned sums — "
         "oracle-matched since round 4)")
register("embedding_quantize_int8", sim.embedding_quantize_int8,
         sim.EMBEDDING_QUANTIZE_SQL,
         "symmetric int8 vector quantization, exact cross-engine codes")
register("ann_topk_blas", sim.ann_topk_blas, sim.ANN_TOPK_BLAS_SQL,
         "BLAS/Arrow fast path for exact top-k, agreement audit: "
         "per-query set-equality + sims-within-1e-9 flags vs the "
         "expression bruteforce")
register("ann_lsh_topk", sim.ann_lsh_topk, sim.ANN_LSH_TOPK_SQL,
         "sign-LSH bucketed top-k over int8-quantized projections "
         "(the LSH scale path next to IVF), exact cross-engine buckets")
register("kmeans_quantizer_cells", qz.kmeans_quantizer_cells,
         qz.KMEANS_CELLS_SQL,
         "k-means coarse-quantizer training (Lloyd over int8 codes — "
         "integer sums make every iteration cross-engine exact)")
register("ann_ivf_trained_topk", qz.ann_ivf_trained_topk,
         qz.ANN_IVF_TRAINED_SQL,
         "IVF top-k over the TRAINED quantizer: assign on codes, "
         "exact cosine verify on full-precision candidates")
register("pq_adc_topk", qz.pq_adc_topk, qz.PQ_ADC_TOPK_SQL,
         "product-quantization ANN: per-subspace trained codebooks, "
         "8-byte codes, asymmetric-distance LUT scoring")
register("cluster_balanced_sample", qz.cluster_balanced_sample,
         qz.CLUSTER_SAMPLE_SQL,
         "diversity sampling: top-N per trained cluster in "
         "deterministic md5 order (cluster-space stratified curation)")
register("ann_ivf_multiprobe_topk", qz.ann_ivf_multiprobe_topk,
         qz.ANN_IVF_MULTIPROBE_SQL,
         "multi-probe IVF (nprobe=2): each query probes its two "
         "nearest trained cells — the standard recall lever")
register("ann_recall_report", sim.ann_recall_report,
         sim.ANN_RECALL_REPORT_SQL,
         "ANN evaluation: recall@k of IVF/trained-IVF/sign-LSH vs the "
         "exact brute-force baseline, per query (miss-proof grid)")
register("semdedup_prune", qz.semdedup_prune, qz.SEMDEDUP_SQL,
         "SemDeDup: within-trained-cluster cosine near-dup pruning, "
         "keep-min-id representative per ε-ball")

# --- text analysis --------------------------------------------------------
register("doc_quality_stats", ta.doc_quality_stats,
         ta.DOC_QUALITY_STATS_SQL, "per-doc quality scoring")
register("lang_aggregates", ta.lang_aggregates, ta.LANG_AGGREGATES_SQL,
         "per-language corpus rollup")
register("bpe_token_counts", ta.bpe_token_counts, ta.BPE_TOKEN_COUNTS_SQL,
         "BPE-ish regex token counting")
register("tfidf_top_terms", ta.tfidf_top_terms, ta.TFIDF_TOP_TERMS_SQL,
         "top-3 tf-idf terms per doc, round-before-rank")
register("bigram_counts", ta.bigram_counts, ta.BIGRAM_COUNTS_SQL,
         "corpus bigram frequencies")
register("lang_id_heuristic", ta.lang_id_heuristic, ta.LANG_ID_SQL,
         "marker-based language ID (deterministic argmax over "
         "inlined marker tables)")
register("sequence_packing", ta.sequence_packing, ta.SEQUENCE_PACKING_SQL,
         "concat-and-chunk training-sequence packing per lang shard")
register("hash_train_test_split", ta.hash_train_test_split,
         ta.HASH_SPLIT_SQL,
         "deterministic md5-bucket train/holdout split manifest")
register("pii_scrub", ta.pii_scrub, ta.PII_SCRUB_SQL,
         "PII/URL redaction projection with audit counts")
register("contamination_check", ta.contamination_check,
         ta.CONTAMINATION_SQL,
         "benchmark-contamination scan: 3-gram overlap vs eval set")
register("repetition_ratios", ta.repetition_ratios, ta.REPETITION_SQL,
         "Gopher-style repetition signals: dup bigrams, top-token share")

# --- multimodal plumbing ---------------------------------------------------
register("blob_metadata", mm.blob_metadata, mm.BLOB_METADATA_SQL,
         "binary payload metadata via Arrow mapInPandas")
register("modality_partition_stats", mm.modality_partition_stats,
         mm.MODALITY_PARTITION_STATS_SQL, "payload volume per partition")
register("frame_sample", mm.frame_sample, mm.FRAME_SAMPLE_SQL,
         "strided frame sampling: 1:N mapInPandas over binary payloads")
register("blob_metadata_arrow", mm.blob_metadata_arrow,
         mm.BLOB_METADATA_SQL,
         "mapInArrow twin of blob_metadata (zero-pandas-copy path), "
         "same oracle")
register("image_decode_meta", mm.image_decode_meta, mm.IMAGE_DECODE_SQL,
         "real BMP encode->header-decode round trip over binary "
         "payloads (decode_image: PNG/GIF/BMP/JPEG header specs)")
register("image_resize_half", mm.image_resize_half, mm.IMAGE_RESIZE_SQL,
         "real nearest-neighbor 2:1 BMP downsample over binary "
         "payloads; shape+size oracle, pixel golden in pytest")
register("image_channel_stats", mm.image_channel_stats,
         mm.IMAGE_STATS_SQL,
         "per-channel pixel sums/means from real BMP decode; oracle "
         "re-derives every pixel byte from the seed tiling")
register("image_phash_groups", mm.image_phash_groups,
         mm.IMAGE_PHASH_SQL,
         "perceptual-hash (aHash 8x8) image dedup groups; oracle "
         "re-derives every sampled pixel and the hash bit-for-bit")
register("audio_silence_runs", mm.audio_silence_runs,
         mm.AUDIO_SILENCE_SQL,
         "silence-segment detection (gaps-and-islands over PCM int16 "
         "samples); oracle re-parses samples from the hex dump")
register("frame_shot_boundaries", mm.frame_shot_boundaries,
         mm.SHOT_BOUNDARIES_SQL,
         "frame-difference shot-cut detector over the fake-codec "
         "frame stream; integer intensities, byte-exact oracle")
register("audio_rms_windows", mm.audio_rms_windows, mm.AUDIO_RMS_SQL,
         "PCM int16 per-window RMS loudness via numpy mapInPandas "
         "(integer sum-of-squares + one IEEE sqrt: exact DuckDB twin "
         "parses samples from the hex dump)")

# --- UDF surface -----------------------------------------------------------
register("pandas_udf_token_count", ud.pandas_udf_token_count,
         ud.PANDAS_UDF_TOKEN_COUNT_SQL, "Arrow pandas_udf demo")
register("apply_in_pandas_zscore", ud.apply_in_pandas_zscore,
         ud.APPLY_IN_PANDAS_ZSCORE_SQL,
         "applyInPandas group UDAF (per-lang z-score)")
register("python_udf_slow_path", ud.python_udf_slow_path,
         ud.PYTHON_UDF_SLOW_PATH_SQL,
         "row-at-a-time UDF on a dim table (the documented slow path)")
register("udtf_chunk_documents", ud.udtf_chunk_documents,
         ud.UDTF_CHUNK_SQL,
         "Python UDTF: sliding-window doc chunking via LATERAL join")
register("cogroup_reconcile", ud.cogroup_reconcile,
         ud.COGROUP_RECONCILE_SQL,
         "cogroup applyInPandas: two-sided order/lineitem reconcile")
register("schema_evolution_union", ud.schema_evolution_union,
         ud.SCHEMA_EVOLUTION_SQL,
         "unionByName schema-evolution ingestion contract")

# --- advanced surface -----------------------------------------------------
register("asof_join_prior_event", adv.asof_join_prior_event,
         adv.ASOF_JOIN_SQL,
         "as-of join via union+window (single-shuffle formulation)")
register("asof_join_nearest_event", adv.asof_join_nearest_event,
         adv.ASOF_NEAREST_SQL,
         "as-of join direction='nearest' with tolerance: 2-candidate "
         "window comparison, still one shuffle, past wins ties")
register("pivot_event_type_counts", adv.pivot_event_type_counts,
         adv.PIVOT_SQL, "PIVOT with declared values")
register("unpivot_order_measures", adv.unpivot_order_measures,
         adv.UNPIVOT_SQL, "UNPIVOT/melt to long form")
register("stats_moments", adv.stats_moments, adv.STATS_MOMENTS_SQL,
         "stddev/variance/corr from exact decimal moment sums")
register("min_max_by", adv.min_max_by, adv.MIN_MAX_BY_SQL,
         "max_by/min_by with tie-proof struct ordering")
register("full_outer_nation_presence", adv.full_outer_nation_presence,
         adv.FULL_OUTER_SQL, "full outer join, both-side preservation")
register("cross_join_grid", adv.cross_join_grid, adv.CROSS_JOIN_SQL,
         "explicit cross join of provably-small dims")
register("array_functions", adv.array_functions, adv.ARRAY_FUNCTIONS_SQL,
         "array function surface incl. array-valued output")
register("quantiles_per_flag", adv.quantiles_per_flag, adv.QUANTILES_SQL,
         "exact interpolated percentiles per group")
register("equi_depth_deciles", adv.equi_depth_deciles,
         adv.EQUI_DEPTH_SQL,
         "equi-depth decile histogram per status (ntile bounds = "
         "optimizer column stats; equi-width twin: value_histogram)")
register("rolling_hash_fingerprint", adv.rolling_hash_fingerprint,
         adv.ROLLING_HASH_SQL,
         "Rabin-Karp rolling-window doc fingerprint, zero-shuffle")
register("string_distance", adv.string_distance, adv.STRING_DISTANCE_SQL,
         "levenshtein edit-distance surface")
register("salted_word_count", sk.salted_word_count,
         sk.SALTED_WORD_COUNT_SQL,
         "skew-proof two-stage salted aggregation (== word_count)")

# --- TPC-H composite shapes + SQL surface ---------------------------------
register("q3_shipping_priority", tq.q3_shipping_priority, tq.Q3_SQL,
         "Q3 shape: filtered 3-way join + agg + top-k")
register("q14_promo_share", tq.q14_promo_share, tq.Q14_SQL,
         "Q14 shape: conditional revenue ratio")
register("q18_large_orders", tq.q18_large_orders, tq.Q18_SQL,
         "Q18 shape: HAVING aggregation as join filter")
register("q7_volume_shipping", tq.q7_volume_shipping, tq.Q7_SQL,
         "Q7 shape: bilateral nation trade volume by year (5-way join)")
register("q10_returned_items", tq.q10_returned_items, tq.Q10_SQL,
         "Q10 shape: top-20 customers by returned-item revenue")
register("q16_supplier_part_variety", tq.q16_supplier_part_variety,
         tq.Q16_SQL,
         "Q16 shape (lineitem bridge): distinct-supplier variety, "
         "negated pushdown predicates")
register("q19_disjunctive_pushdown", tq.q19_disjunctive_pushdown,
         tq.Q19_SQL, "Q19 shape: OR-of-ANDs join predicate")
register("sql_grouping_sets", tq.sql_grouping_sets,
         tq.SQL_GROUPING_SETS_SQL,
         "explicit GROUPING SETS via the spark.sql surface")
register("correlated_subquery", tq.correlated_subquery,
         tq.CORRELATED_SUBQUERY_SQL,
         "correlated scalar subquery via the SQL surface")
register("q2_min_cost_supplier", tq2.q2_min_cost_supplier, tq2.Q2_SQL,
         "Q2 shape: min-per-group back-join (correlated min)")
register("q4_order_priority", tq2.q4_order_priority, tq2.Q4_SQL,
         "Q4 shape: EXISTS semi join with non-equi conjunct")
register("q5_local_supplier_volume", tq2.q5_local_supplier_volume,
         tq2.Q5_SQL, "Q5 shape: 6-way local-supplier join")
register("q8_market_share", tq2.q8_market_share, tq2.Q8_SQL,
         "Q8 shape: conditional-sum market share ratio per year")
register("q9_product_profit", tq2.q9_product_profit, tq2.Q9_SQL,
         "Q9 shape: profit per nation/year over LIKE-subset parts")
register("q11_important_parts", tq2.q11_important_parts, tq2.Q11_SQL,
         "Q11 shape: HAVING vs global-total scalar (broadcast)")
register("q12_late_lines_by_status", tq2.q12_late_lines_by_status,
         tq2.Q12_SQL, "Q12 shape: conditional counts by fact bucket")
register("q13_customer_distribution", tq2.q13_customer_distribution,
         tq2.Q13_SQL,
         "Q13 shape: zero-preserving outer join + stacked aggs")
register("q15_top_supplier", tq2.q15_top_supplier, tq2.Q15_SQL,
         "Q15 shape: argmax vs global max over reused aggregate")
register("q17_small_quantity_revenue", tq2.q17_small_quantity_revenue,
         tq2.Q17_SQL,
         "Q17 shape: correlated per-key avg as window (one shuffle)")
register("q20_part_promotion", tq2.q20_part_promotion, tq2.Q20_SQL,
         "Q20 shape: nested semi-join chain with HAVING")
register("q21_suppliers_kept_waiting", tq2.q21_suppliers_kept_waiting,
         tq2.Q21_SQL,
         "Q21 shape: sole-blame EXISTS/NOT-EXISTS as one aggregate")
register("q22_global_sales_opportunity", tq2.q22_global_sales_opportunity,
         tq2.Q22_SQL,
         "Q22 shape: anti join + global scalar threshold")
# --- extended SQL-function surface ---------------------------------------
register("ordered_listagg", sq.ordered_listagg, sq.ORDERED_LISTAGG_SQL,
         "listagg WITHIN GROUP ordered string aggregation")
register("boolean_aggregates", sq.boolean_aggregates,
         sq.BOOLEAN_AGGREGATES_SQL,
         "bool_and / bool_or / count_if combinable aggregates")
register("try_arithmetic", sq.try_arithmetic, sq.TRY_ARITHMETIC_SQL,
         "try_divide NULL-on-error arithmetic contract")
register("regression_metrics", sq.regression_metrics,
         sq.REGRESSION_METRICS_SQL,
         "regr_slope/intercept/r2 from exact decimal moments")
register("time_hierarchy_rollup", sq.time_hierarchy_rollup,
         sq.TIME_HIERARCHY_SQL,
         "hypertable-style day/month/year/total rollup in one pass")
register("url_parse_surface", sq.url_parse_surface, sq.URL_PARSE_SQL,
         "parse_url HOST/PATH/QUERY extraction, zero-shuffle")
register("map_higher_order", ss.map_higher_order, ss.MAP_HIGHER_ORDER_SQL,
         "map_filter / map_zip_with algebra over per-doc maps")
register("token_entropy", ta.token_entropy, ta.TOKEN_ENTROPY_SQL,
         "per-doc Shannon entropy quality signal, order-stable sum")
register("unigram_logprob_filter", ta.unigram_logprob_filter,
         ta.UNIGRAM_LOGPROB_SQL,
         "CCNet-style perplexity filter surrogate: corpus unigram LM "
         "mean log-prob + head/middle/tail terciles")
register("bm25_topk_docs", ta.bm25_topk_docs, ta.BM25_TOPK_SQL,
         "BM25 ranked retrieval: top-10 docs per fixed query over the "
         "corpus (the search the flagship index exists to serve)")
register("rrf_fusion_topk", ta.rrf_fusion_topk, ta.RRF_FUSION_SQL,
         "reciprocal-rank fusion of BM25 + tf-density retrieval runs "
         "(the hybrid-search fusion rule, K=60)")
register("count_min_words", ta.count_min_words, ta.COUNT_MIN_WORDS_SQL,
         "Count-Min sketch vs ground truth: md5-row-hashed mergeable "
         "counter matrix, min-probe estimates for the top-20 words")
register("ngram_novelty_curve", ta.ngram_novelty_curve,
         ta.NGRAM_NOVELTY_SQL,
         "corpus diversity-saturation curve: trigram types introduced "
         "per doc + cumulative unique count (data-scaling diagnostic)")
register("lang_confusion_matrix", ta.lang_confusion_matrix,
         ta.LANG_CONFUSION_SQL,
         "classifier evaluation: lang_id_heuristic confusion matrix "
         "vs declared labels (counts, per-lang shares, correct flag)")
register("skipgram_pmi", ta.skipgram_pmi, ta.SKIPGRAM_PMI_SQL,
         "word2vec-style windowed co-occurrence + PMI (shift-explode "
         "turns the positional range join into a pure equi-join)")
register("keyword_in_context", ta.keyword_in_context, ta.KWIC_SQL,
         "KWIC concordance: capped per-term occurrences with raw-text "
         "snippets sliced at positional-index ordinals")
register("source_balance_gini", ta.source_balance_gini,
         ta.SOURCE_GINI_SQL,
         "per-lang Gini coefficient of doc counts across sources "
         "(corpus-balance diagnostic; rank-form integer sums)")
register("approx_top_k_words", ta.approx_top_k_words,
         ta.APPROX_TOP_K_WORDS_SQL,
         "approx_top_k frequent-words sketch (exact with "
         "maxItemsTracked >= vocab; no rank-20 boundary tie at any "
         "SF, so the exact top-20 is a valid oracle)")
register("recursive_cte_split", sq.recursive_cte_split,
         sq.RECURSIVE_CTE_SPLIT_SQL,
         "WITH RECURSIVE halving installment schedule (Spark 4)")
register("parameterized_sql", sq.parameterized_sql,
         sq.PARAMETERIZED_SQL_SQL,
         "named-parameter spark.sql binding, injection-safe")
register("null_handling_surface", sq.null_handling_surface,
         sq.NULL_HANDLING_SQL,
         "coalesce/nvl2/nullif/greatest/least NULL semantics")
register("string_functions2", sq.string_functions2,
         sq.STRING_FUNCTIONS2_SQL,
         "string surface phase 2: split_part/translate/overlay/...")
register("scd2_dimension", ts.scd2_dimension, ts.SCD2_DIMENSION_SQL,
         "SCD type-2 dimension build: change collapse + validity spans")
register("ordered_funnel", ts.ordered_funnel, ts.ORDERED_FUNNEL_SQL,
         "3-step ordered funnel: strictly-after sequential matching")
register("date_arithmetic", sq.date_arithmetic, sq.DATE_ARITHMETIC_SQL,
         "interval add / month clamp / next_day / ISO week surface")
register("bitwise_surface", sq.bitwise_surface, sq.BITWISE_SURFACE_SQL,
         "bitwise scalar ops + bit_and/or/xor aggregates")
register("regexp_surface", sq.regexp_surface, sq.REGEXP_SURFACE_SQL,
         "regexp_count/substr/instr occurrence analysis")
register("incremental_rollup_merge", sq.incremental_rollup_merge,
         sq.INCREMENTAL_ROLLUP_SQL,
         "partial-aggregate state+delta merge == direct aggregation")
register("transpose_metrics", sq.transpose_metrics,
         sq.TRANSPOSE_METRICS_SQL,
         "DataFrame.transpose (Spark 4) metric-block flip")
register("stat_crosstab", sq.stat_crosstab, sq.STAT_CROSSTAB_SQL,
         "df.stat.crosstab pairwise frequency table")
register("xpath_roundtrip", sq.xpath_roundtrip, sq.XPATH_ROUNDTRIP_SQL,
         "xpath content extraction: build->parse identity")
register("number_format_roundtrip", sq.number_format_roundtrip,
         sq.NUMBER_FORMAT_ROUNDTRIP_SQL,
         "format_number -> to_number parse round-trip")

register("window_navigation", win.window_navigation,
         win.WINDOW_NAVIGATION_SQL,
         "first/last/nth value + ntile navigation surface")
register("range_frame_revenue", win.range_frame_revenue,
         win.RANGE_FRAME_SQL,
         "RANGE time-frame window (join-free trailing-hour agg)")
register("rank_distribution", win.rank_distribution,
         win.RANK_DISTRIBUTION_SQL,
         "percent_rank + cume_dist ranking surface")
register("boolean_search", ta.boolean_search, ta.BOOLEAN_SEARCH_SQL,
         "boolean AND/AND-NOT retrieval: k-way postings intersection "
         "fused into one groupBy (no chained semi-joins)")
register("chi2_discriminative_terms", ta.chi2_discriminative_terms,
         ta.CHI2_TERMS_SQL,
         "chi-squared term selection per language: exact 128-bit "
         "contingency products, top-5 words per lang")
register("zipf_law_fit", ta.zipf_law_fit, ta.ZIPF_FIT_SQL,
         "Zipf's-law OLS fit over word frequencies: decimal-pinned "
         "moment sums, corpus-health slope/intercept")
register("ewma_user_activity", ts.ewma_user_activity, ts.EWMA_SQL,
         "per-event EWMA (alpha=1/2, depth 8): power-of-two weights "
         "as an explicit lag chain — exact doubles, no accumulation "
         "order hazard")
register("mad_outlier_events", ts.mad_outlier_events,
         ts.MAD_OUTLIER_SQL,
         "median-absolute-deviation outlier screen: rank-selected "
         "medians (no interpolation), 3*MAD count per event type")
register("assoc_rules_events", ts.assoc_rules_events,
         ts.ASSOC_RULES_SQL,
         "market-basket association rules over event types: "
         "support/confidence/lift from distinct-user counts")
register("user_growth_curve", ts.user_growth_curve,
         ts.USER_GROWTH_SQL,
         "daily new/active/cumulative users: first-seen min + "
         "running total over the day-level relation")
register("tokenizer_fertility", ta.tokenizer_fertility,
         ta.TOKENIZER_FERTILITY_SQL,
         "per-lang tokenizer fertility (chars/token, tokens/word): "
         "JVM-side regexp_extract_all twin of the BPE UDF demo")
register("clustering_coefficient", it.clustering_coefficient,
         it.CLUSTERING_COEFF_SQL,
         "per-node local clustering coefficient over the df-banded "
         "word graph (triangle credit via explode)")
register("matryoshka_recall", sim.matryoshka_recall,
         sim.MATRYOSHKA_RECALL_SQL,
         "Matryoshka truncation eval: recall@k of 16-dim-prefix "
         "cosine top-k vs the full-dim exact baseline")
register("winsorized_stats", ts.winsorized_stats, ts.WINSORIZED_SQL,
         "winsorized mean per event type: rank-selected p5/p95 clamp "
         "bounds, decimal-pinned robust mean")
register("k_anonymity_audit", cu.k_anonymity_audit,
         cu.K_ANONYMITY_SQL,
         "k-anonymity release audit: QI-group size census + risky-doc "
         "fraction per language (k=5)")
register("cohort_ltv_matrix", ts.cohort_ltv_matrix, ts.COHORT_LTV_SQL,
         "cohort lifetime-value matrix: first-activity-week cohorts x "
         "week offsets, decimal-pinned cumulative LTV per member")
register("ab_test_proportions", ts.ab_test_proportions,
         ts.AB_TEST_SQL,
         "two-proportion z-test between deterministic user buckets: "
         "the experimentation primitive, one conditional aggregate")
register("postings_delta_encode", ii.postings_delta_encode,
         ii.POSTINGS_DELTA_SQL,
         "inverted-index postings gap encoding: per-word delta bits "
         "census + compression ratio vs raw 64-bit ids")
register("minhash_estimate_quality", dd.minhash_estimate_quality,
         dd.MINHASH_ESTIMATE_SQL,
         "MinHash estimator eval: signature-agreement Jaccard vs "
         "exact, per LSH candidate pair (the dedup-family "
         "ann_recall_report)")
register("hapax_ttr_per_lang", ta.hapax_ttr_per_lang,
         ta.HAPAX_TTR_SQL,
         "lexical richness per lang: type-token ratio + hapax rate "
         "(corpus-diversity panel next to zipf_law_fit)")
register("burstiness_fano", ts.burstiness_fano, ts.BURSTINESS_SQL,
         "traffic burstiness per event type: Fano factor of dense "
         "hourly counts from exact integer moments")
register("point_in_time_tier_join", jn.point_in_time_tier_join,
         jn.POINT_IN_TIME_SQL,
         "point-in-time SCD2 lookup: union + last_value IGNORE NULLS "
         "window instead of a validity range join — one shuffle")
register("time_to_convert", ts.time_to_convert,
         ts.TIME_TO_CONVERT_SQL,
         "conversion latency: first-view to first-purchase lag with "
         "rank-selected median/p90 (no interpolation)")
register("quantile_normalize_scores", cu.quantile_normalize_scores,
         cu.QUANTILE_NORMALIZE_SQL,
         "cross-source quantile normalization: within-source rank -> "
         "pooled order statistic, pure rank arithmetic")
register("k_core_words", it.k_core_words, it.K_CORE_SQL,
         "k-core (k=3) by bounded peeling: 4 shrink-the-relation "
         "rounds, unrolled-CTE oracle, converged flag reported")
register("containment_dedup", dd.containment_dedup,
         dd.CONTAINMENT_DEDUP_SQL,
         "overlap-coefficient near-dup over df-capped shingles: "
         "catches subset duplication Jaccard under-scores; bounded "
         "pair fan-out (hot-shingle hub guard)")
register("related_docs_topk", ta.related_docs_topk,
         ta.RELATED_DOCS_SQL,
         "doc→doc find-similar: sparse tf cosine over df-banded "
         "words via inverted-index join + broadcast query vectors "
         "(lexical complement of the ANN family)")
register("shard_assignment", cu.shard_assignment,
         cu.SHARD_ASSIGNMENT_SQL,
         "deterministic md5 shard routing + per-shard balance "
         "manifest (the pre-flight audit before writing training "
         "shards)")
register("bpe_merge_step", ta.bpe_merge_step, ta.BPE_MERGE_SQL,
         "one BPE tokenizer-TRAINING iteration: frequency-weighted "
         "adjacent char-pair counts, top merge candidates "
         "(training-side complement of tokenizer_fertility)")
register("delta_dedup_vs_corpus", dd.delta_dedup_vs_corpus,
         dd.DELTA_DEDUP_SQL,
         "incremental ingestion dedup: incoming batch vs existing "
         "corpus (exact fingerprint semi-join + cross-membership "
         "LSH near-dup), per-doc keep/drop manifest")
register("vocab_coverage_curve", ta.vocab_coverage_curve,
         ta.VOCAB_COVERAGE_SQL,
         "cumulative token coverage at vocab-size cutoffs — the "
         "vocab-size/OOV design table (shape-param complement of "
         "zipf_law_fit)")
register("embedding_quality_audit", sim.embedding_quality_audit,
         sim.EMB_QUALITY_SQL,
         "embedding-table quality gate: dim/NaN/zero-vector "
         "violations + rank-exact norm percentiles + norm-outlier "
         "count (run before building any index)")
register("query_likelihood_dirichlet", ta.query_likelihood_dirichlet,
         ta.QUERY_LIKELIHOOD_SQL,
         "Dirichlet-smoothed query-likelihood retrieval (Zhai & "
         "Lafferty 2004) — the LM ranker beside bm25_topk_docs; "
         "missing terms score background mass via a left-joined "
         "candidate×term grid")
register("rocchio_prf_expansion", ta.rocchio_prf_expansion,
         ta.ROCCHIO_PRF_SQL,
         "pseudo-relevance-feedback query expansion (Rocchio): "
         "tf·idf-weighted top terms of each query's BM25 top-R docs, "
         "original terms excluded")
register("hybrid_search_rrf", ta.hybrid_search_rrf,
         ta.HYBRID_SEARCH_SQL,
         "hybrid lexical+dense retrieval: BM25 run ⊕ exact-cosine run "
         "over the shared doc_id=vec_id key space, fused by "
         "reciprocal-rank fusion over the per-run top-20 pools")
register("bpe_train_merges", ta.bpe_train_merges,
         ta.BPE_TRAIN_SQL,
         "full BPE tokenizer training, 3 unrolled rounds (Sennrich "
         "2016): count→argmax→apply-merge per round, merge applied as "
         "the double-space string-expression pass — no collects, no "
         "UDFs; learns the actual merge table bpe_merge_step only "
         "scores")
register("mmr_diversified_rerank", ta.mmr_diversified_rerank,
         ta.MMR_RERANK_SQL,
         "Maximal-Marginal-Relevance rerank (Carbonell & Goldstein "
         "1998): 3 unrolled greedy selections over the BM25 top-10 "
         "pool, exact token-Jaccard redundancy, λ=1/2")
register("gopher_quality_gate", ta.gopher_quality_gate,
         ta.GOPHER_GATE_SQL,
         "Gopher-rule composite quality gate (Rae et al. 2021): "
         "per-doc pass/fail flags for length / repetition / top-token "
         "/ TTR / word-length rules + conjunctive pass_all — pure "
         "per-row expressions, zero shuffle")
register("bigram_logprob_interpolated", ta.bigram_logprob_interpolated,
         ta.BIGRAM_LOGPROB_SQL,
         "interpolated bigram LM doc scoring (Jelinek-Mercer λ=1/2): "
         "mean ln(λP(w|v)+(1-λ)P(w)) per doc — the context-aware step "
         "beyond unigram_logprob_filter")
register("label_knn_agreement", qz.label_knn_agreement,
         qz.LABEL_KNN_SQL,
         "label-noise audit: per-label k-NN label agreement within "
         "trained k-means cells (exact cosine, cell-restricted "
         "candidates — the IVF discipline keeps it linear)")
register("pca_power_iteration", qz.pca_power_iteration,
         qz.PCA_POWER_SQL,
         "top principal direction of the embeddings: 4 fixed power-"
         "iteration steps on the exact integer Gram matrix, unit-norm "
         "loadings + Rayleigh-quotient eigenvalue")
register("bloom_prefilter_semi_join", jn.bloom_prefilter_semi_join,
         jn.BLOOM_SEMI_JOIN_SQL,
         "runtime-filter technique as a composable operator: fact scan "
         "pre-filtered by a broadcast 4096-bit bloom bitmap of the key "
         "set, exact semi-join behind it — result identical to the "
         "plain semi join the oracle runs")
register("benford_first_digit", adv.benford_first_digit,
         adv.BENFORD_SQL,
         "Benford's-law first-digit audit of order totals: observed "
         "digit shares vs the log10(1+1/d) expectation — the classic "
         "monetary-column anomaly screen")
register("hits_hubs_authorities", it.hits_hubs_authorities,
         it.HITS_SQL,
         "HITS hub/authority scores over the bigram word graph, 4 "
         "L1-normalized iterations — decimal-pinned like pagerank, "
         "oracle replays every iteration as unrolled CTEs")
register("silhouette_cells", qz.silhouette_cells,
         qz.SILHOUETTE_SQL,
         "per-cell simplified-silhouette audit of the trained coarse "
         "quantizer — linear centroid-distance variant (never the "
         "pairwise n-squared classic), the IVF cluster-quality gate")
register("kneser_ney_bigram_logprob", ta.kneser_ney_bigram_logprob,
         ta.KNESER_NEY_SQL,
         "Kneser-Ney bigram LM doc scoring (D=3/4, continuation "
         "unigrams) — the smoothing KenLM ships, beside the "
         "Jelinek-Mercer scorer")
register("ks_drift_by_source", cu.ks_drift_by_source,
         cu.KS_DRIFT_SQL,
         "per-source distribution-drift audit: exact two-sample KS "
         "statistic (source vs rest) over doc lengths, integer-exact "
         "ECDF differences in DECIMAL(38,0) — the per-delivery drift "
         "monitor")
register("bpe_apply_encode", ta.bpe_apply_encode,
         ta.BPE_ENCODE_SQL,
         "encode the corpus with the trained BPE merge table: per-doc "
         "word/char/BPE-token counts + chars-per-token compression "
         "(closes the train->apply tokenizer loop)")
register("gini_key_skew", sk.gini_key_skew,
         sk.GINI_KEY_SKEW_SQL,
         "shuffle-key skew diagnosis: per event_type, key count / "
         "hottest-key share / Gini of the user_id row-count "
         "distribution — the pre-shuffle audit that decides between "
         "plain hash partitioning and the salted rewrite")
register("simhash_hamming_dedup", dd.simhash_hamming_dedup,
         dd.SIMHASH_HAMMING_SQL,
         "SimHash near-dup pairs at Hamming <= 3 via Manku et al. "
         "2007 4x16-bit band blocking — pigeonhole-lossless candidate "
         "generation (65x prune at sf0.1) + exact nibble-XOR popcount "
         "verify")
register("winsorized_robust_stats", cu.winsorized_robust_stats,
         cu.WINSORIZED_STATS_SQL,
         "per-source robust length profile: rank-exact median, 10%-"
         "winsorized mean (clamp-free conditional-sum formulation), "
         "and MAD — the outlier-resistant twin of stats_moments")
register("kcenter_seeds", qz.kcenter_seeds,
         qz.KCENTER_SEEDS_SQL,
         "Gonzalez farthest-first k-center seeds over int8 codes "
         "(3 scan+argmax rounds, bounded 1-row collects) + per-seed "
         "member counts and covering radius — coreset/quantizer-init "
         "anchor selection")
register("join_fanout_profile", jn.join_fanout_profile,
         jn.JOIN_FANOUT_SQL,
         "pre-join cardinality audit of orders x lineitem: per-side "
         "key counts, hottest fan-outs, and the EXACT join output "
         "cardinality sum(l_i*r_i) from two combinable per-key counts "
         "— the join-side twin of gini_key_skew")
register("forget_customer_purge_audit", cu.forget_customer_purge_audit,
         cu.FORGET_PURGE_SQL,
         "right-to-be-forgotten pre-flight: cascade purge impact of a "
         "deterministic tombstone set across customer -> orders -> "
         "lineitem, exact counts + share per table")
register("dunning_llr_collocations", ta.dunning_llr_collocations,
         ta.DUNNING_LLR_SQL,
         "collocations by Dunning log-likelihood ratio (the rare-pair-"
         "calibrated alternative to PMI): 2x2 bigram contingency, "
         "decimal-pinned ln terms, top-20")
register("cross_source_duplication", dd.cross_source_duplication,
         dd.CROSS_SOURCE_DUP_SQL,
         "provenance-level dedup report: exact content fingerprints "
         "shared per source pair — which deliveries duplicate each "
         "other; distinct (fp, source) id pairs, never text")
register("bbit_minwise_estimate", dd.bbit_minwise_estimate,
         dd.BBIT_MINWISE_SQL,
         "b-bit minwise hashing (Li & Konig 2010): 1-bit-per-hash "
         "Jaccard estimator vs full-hash estimate vs exact, per LSH "
         "candidate pair — the 64x sketch-compression trade measured")
register("time_weighted_avg_value", ts.time_weighted_avg_value,
         ts.TIME_WEIGHTED_AVG_SQL,
         "TWAP per event_type: each observation weighted by how long "
         "it remained current (lead-interval weighting) — the "
         "irregular-sampling aggregation, decimal-pinned terms")
register("cluster_canonical_by_quality", cu.cluster_canonical_by_quality,
         cu.CANONICAL_QUALITY_SQL,
         "quality-aware dedup survivor selection: best Gopher-passing "
         "longest member per near-dup cluster (vs the naive min-id "
         "pick, with a differs flag) — composed from "
         "connected_components_dedup + gopher_quality_gate verbatim")
register("chi2_independence_lang_source",
         cu.chi2_independence_lang_source,
         cu.CHI2_INDEPENDENCE_SQL,
         "chi-squared independence test of lang x source with the "
         "strongest standardized-residual cell — the categorical "
         "drift complement of the KS/KL monitors")
register("ctfidf_cluster_terms", qz.ctfidf_cluster_terms,
         qz.CTFIDF_SQL,
         "cluster labeling by class-based TF-IDF (BERTopic recipe): "
         "top-5 terms per trained k-means cell through the doc_id = "
         "vec_id key space — names the clusters SemDeDup prunes")
register("watermark_lateness_profile", ts.watermark_lateness_profile,
         ts.WATERMARK_LATENESS_SQL,
         "out-of-orderness profile that PICKS a streaming watermark: "
         "per-type late-event share, max and rank-exact p95 lateness "
         "vs arrival order — one user-keyed window pass")
register("reshard_movement_audit", cu.reshard_movement_audit,
         cu.RESHARD_AUDIT_SQL,
         "resharding-cost audit 16->17 shards: fraction of docs that "
         "move under mod-hash (~16/17) vs rendezvous hashing (~1/17) "
         "— per-row md5 expressions + one 2-group aggregation, the "
         "migration bill before growing a sharded store")
register("ab_split_welch_ttest", adv.ab_split_welch_ttest,
         adv.AB_WELCH_SQL,
         "experimentation readout: deterministic md5 50/50 user "
         "split, Welch t statistic + Satterthwaite df per event_type "
         "from exact decimal moment sums — one combinable aggregation")
register("ndcg_eval_ivf", sim.ndcg_eval_ivf,
         sim.NDCG_EVAL_SQL,
         "NDCG@k of the trained IVF vs the exact ranking (graded "
         "companion of ann_recall_report's recall): linear gain from "
         "exact ranks, decimal-pinned log2-discounted terms, shared "
         "IDCG literal")
register("hard_negatives_mining", qz.hard_negatives_mining,
         qz.HARD_NEGATIVES_SQL,
         "contrastive-training hard negatives: per query the rank "
         "k+1..2k band of exact-cosine in-cell candidates behind the "
         "IVF top-k — same trained quantizer and scored relation as "
         "ann_ivf_trained_topk")
register("dedup_method_agreement", dd.dedup_method_agreement,
         dd.DEDUP_AGREEMENT_SQL,
         "cross-method near-dup calibration: exact-Jaccard truth vs "
         "MinHash-LSH vs SimHash-Hamming pair sets with precision/"
         "recall — composed from the SAME operators the standalone "
         "entries run")
register("kl_divergence_by_source", cu.kl_divergence_by_source,
         cu.KL_DRIFT_SQL,
         "token-level drift monitor: KL(P_source || P_corpus) over "
         "word distributions, decimal-pinned term sums — catches "
         "vocabulary shift that ks_drift_by_source's length-level KS "
         "cannot see")
register("rfm_segmentation", ts.rfm_segmentation,
         ts.RFM_SQL,
         "RFM quintile segmentation of purchasing users: explicit "
         "rank-derived segments (1=best) over one combinable per-user "
         "reduction, reported as the <=125-cell segment grid with "
         "member counts and decimal-exact spend")
register("ranker_rank_correlation", ta.ranker_rank_correlation,
         ta.RANK_CORRELATION_SQL,
         "per-query Spearman rho between BM25 and Dirichlet-QL "
         "rankings over the shared candidate set + top-1 agreement — "
         "the ranker-swap audit (exact integer d-squared sums, "
         "deterministic tie ranks)")
register("edit_distance_name_pairs", dd.edit_distance_name_pairs,
         dd.EDIT_DISTANCE_PAIRS_SQL,
         "blocked edit-distance entity resolution over the part-name "
         "catalog: (brand, length-bucket) equi-join blocking — "
         "lossless for edit <= 2 — + exact Levenshtein verify on "
         "candidates only")
register("embedding_centroid_drift", qz.embedding_centroid_drift,
         qz.CENTROID_DRIFT_SQL,
         "per-label centroid-vs-global cosine drift over int8 codes — "
         "exact via the scale-invariance identity cos(mean_l, mean_g) "
         "= cos(sum_l, sum_g); the embedding-space twin of "
         "ks_drift_by_source")

register("wand_upper_bound_pruning", ta.wand_upper_bound_pruning,
         ta.WAND_PRUNING_SQL,
         "WAND max-score pruning audit (Broder et al. 2003): per-term "
         "BM25 upper bounds vs the k-th true score theta — candidates "
         "skippable without scoring, plus the provably-zero top-k "
         "violation count recomputed from data; shared decimal BM25 "
         "term scores, one candidate aggregation")

register("cohens_kappa_lang", ev.cohens_kappa_lang,
         ev.COHENS_KAPPA_SQL,
         "Cohen's kappa (1960) of lang_id_heuristic vs declared "
         "labels — chance-corrected agreement from one lineage-cut "
         "|langs|^2 confusion aggregation; exact DECIMAL(38,0)/"
         "HUGEINT marginal products, one pinned division")
register("lang_confidence_calibration", ev.lang_confidence_calibration,
         ev.CALIBRATION_SQL,
         "reliability table behind the Brier score (Murphy 1973) for "
         "the lang classifier's confidence: integer-division bins, "
         "decimal-pinned p and (p-y)^2 sums, mean-confidence vs "
         "accuracy gap per bin — zero joins, one bounded agg")

register("weighted_sample_aes", cu.weighted_sample_aes,
         cu.WEIGHTED_SAMPLE_AES_SQL,
         "Efraimidis-Spirakis A-ES weighted sampling (IPL 2006): "
         "per-row key ln(u)/w from an exact 52-bit md5 uniform and "
         "n_chars weight; the global top-200 keys ARE the sample — "
         "TakeOrdered, mergeable, no global state")
register("jl_projection_recall", sim.jl_projection_recall,
         sim.JL_RECALL_SQL,
         "Johnson-Lindenstrauss retrieval eval (Achlioptas 2003): "
         "recall@k of cosine top-k in a 16-dim +-1 projection vs the "
         "exact full-dim top-k — data-independent counterpart of "
         "matryoshka_recall; sign matrix inlined as plan literals, "
         "identical left-associated sums in both engines")

register("aspect_ratio_bucketing", mm.aspect_ratio_bucketing,
         mm.ASPECT_BUCKETING_SQL,
         "aspect-ratio bucketing for batched vision training (the "
         "SDXL scheduling step): exact integer cross-multiplication "
         "classes, per-bucket batch counts at capacity 32 + padding "
         "waste + decimal-pinned mean aspect — one 5-row combinable "
         "aggregation")

register("minhash_band_sweep", dd.minhash_band_sweep,
         dd.MINHASH_BAND_SWEEP_SQL,
         "LSH banding tuning table (MMDS ch.3): expected recall of "
         "each (bands, rows) split of the 8-hash signature over the "
         "engine's own verified near-dup pairs, with the s-curve "
         "threshold j* as a plan literal; fixed squaring chains, "
         "decimal-pinned p terms, 4-row aggregate")

register("suffix_prefix_overlap", dd.suffix_prefix_overlap,
         dd.SUFFIX_PREFIX_SQL,
         "crawl-record continuation stitching: directed (a,b) pairs "
         "where a's suffix is b's prefix — boundary-bigram equi-join "
         "blocking, exact maximal overlap_k via slice equality on "
         "candidates only; all-integer")

register("reciprocal_nn_pairs", sim.reciprocal_nn_pairs,
         sim.RECIPROCAL_NN_SQL,
         "reciprocal nearest-neighbor pairs (mutual cosine top-1 "
         "within the coarse cell): the high-precision pairing "
         "primitive behind RNN agglomerative clustering — cell "
         "equi-join candidates, per-vector window, tiny nn-relation "
         "self-join; hub vectors filtered free by mutuality")

# --- data layout (round 6) -------------------------------------------------
register("zorder_pruning_audit", lay.zorder_pruning_audit,
         lay.ZORDER_PRUNING_SQL,
         "physical-layout audit: Z-order (Morton, functions/zorder) "
         "vs linear clustering of events on (user, hour) — expected "
         "min/max-envelope scan fraction per dimension for 64 "
         "simulated files; all-integer scaling/interleave/envelopes, "
         "one pinned division per fraction")
register("encoding_size_census", lay.encoding_size_census,
         lay.ENCODING_CENSUS_SQL,
         "per-day-partition PLAIN vs DICT vs RLE byte-cost census "
         "(the columnar writer's encoding decision from first "
         "principles): one ordered window pass for run counts, "
         "combinable per-day agg, all-integer cost model")

# --- round-6 session additions ---------------------------------------------
register("late_interaction_maxsim", ta.late_interaction_maxsim,
         ta.MAXSIM_SQL,
         "ColBERT late-interaction MaxSim retrieval (Khattab & "
         "Zaharia 2020): per-query-token max dot over md5-derived "
         "±1 token sign vectors — zero-shuffle integer scoring + "
         "TakeOrdered top-k")
register("repeated_ngram_span_mask", ta.repeated_ngram_span_mask,
         ta.REPEATED_NGRAM_MASK_SQL,
         "within-doc repeated-4-gram span masking (self-repetition "
         "twin of duplicate_spans): first-occurrence test + interval "
         "union as a pure per-row array program, zero shuffle")
register("rag_chunk_windows", ta.rag_chunk_windows,
         ta.RAG_CHUNK_SQL,
         "RAG ingestion chunking (32-token windows, stride 24) as "
         "pure JVM expressions — the codegen twin of "
         "udtf_chunk_documents; zero shuffle, native generator")
register("holt_linear_forecast", ts.holt_linear_forecast,
         ts.HOLT_SQL,
         "Holt linear-trend smoothing over daily event counts "
         "(alpha=beta=1/2 dyadic recursion, bit-exact F.aggregate "
         "fold vs recursive-CTE oracle) + h=1/h=3 forecasts")
register("bloom_fp_rate_audit", jn.bloom_fp_rate_audit,
         jn.BLOOM_FP_AUDIT_SQL,
         "measured vs load-factor-predicted false-positive rate of "
         "the Bloom prefilter technique — md5-position bitmap over "
         "the member keys, probed by every distinct non-member fact "
         "key; the runtime-filter self-audit")
register("neyman_allocation_sample", cu.neyman_allocation_sample,
         cu.NEYMAN_SQL,
         "Neyman 1934 optimal stratified allocation n_h ∝ N_h·σ_h "
         "with largest-remainder integerization — exact-integer "
         "variance identity + one IEEE sqrt per stratum")
register("sql_modern_surface", sq.sql_modern_surface,
         sq.SQL_MODERN_SQL,
         "modern SQL conveniences both engines converged on: GROUP "
         "BY ALL, ORDER BY ALL, lateral column aliases — parser "
         "sugar over the same pushed-scan combinable agg")
register("feature_hash_collision_audit", ta.feature_hash_collision_audit,
         ta.FEATHASH_AUDIT_SQL,
         "hashing-trick collision audit (Weinberger et al. 2009): "
         "vocabulary hashed into 2^12 md5 buckets — occupancy, "
         "colliding-term share, worst load vs the uniform-hashing "
         "occupancy prediction")
register("pandas_grouped_agg_gini", ud.pandas_grouped_agg_gini,
         ud.PANDAS_GROUPED_AGG_GINI_SQL,
         "GROUPED_AGG pandas_udf (the fourth UDF flavor): per-lang "
         "Gini of doc lengths via the sorted rank-weight identity — "
         "sort-then-sum makes the Arrow reduction order-insensitive; "
         "raw exact-int division, no round")
register("small_files_compaction_plan", lay.small_files_compaction_plan,
         lay.COMPACTION_PLAN_SQL,
         "OPTIMIZE planning query: per-lang current small-file "
         "inventory (md5 16-shard simulation) vs target-size file "
         "count — exact integer ceil, manifest-sized work")
register("heldout_bigram_perplexity", ta.heldout_bigram_perplexity,
         ta.HELDOUT_PPL_SQL,
         "leakage-free LM evaluation: JM bigram⊕Laplace-unigram mix "
         "trained on the md5 75% split, scored on the held-out 25% — "
         "per-lang mean logprob + perplexity; broadcast LMs, "
         "embarrassingly parallel scoring")
register("l_diversity_audit", cu.l_diversity_audit,
         cu.L_DIVERSITY_SQL,
         "l-diversity audit (Machanavajjhala et al. 2007): distinct "
         "sensitive sources per (lang, length-bucket) QI group — the "
         "homogeneity leak k-anonymity misses; manifest-sized rollup")
register("blb_mean_ci", cu.blb_mean_ci,
         cu.BLB_MEAN_CI_SQL,
         "Bag of Little Bootstraps CI (Kleiner et al. 2012): md5 "
         "subsamples, Poisson(4) inverse-CDF replicate weights from "
         "exact 52-bit uniforms, rank-selected percentile bounds per "
         "subsample, bounds averaged — replicate cost bounded by the "
         "subsample, never n")
register("salting_effectiveness_audit", sk.salting_effectiveness_audit,
         sk.SALTING_AUDIT_SQL,
         "what the salted rewrite buys: per-partition load profile "
         "of the word-count shuffle under plain vs salted md5-mod "
         "routing — hottest-partition share + imbalance factor per "
         "scheme; the measurement companion of gini_key_skew")
register("md5_uniformity_audit", cu.md5_uniformity_audit,
         cu.MD5_UNIFORMITY_SQL,
         "one-sample KS test of the engine's own md5-as-U(0,1) "
         "foundation (Massey 1951 critical value) over a bounded "
         "md5-selected sample — the self-audit pattern pointed at "
         "the PRNG itself")
register("attribution_first_last_touch", ts.attribution_first_last_touch,
         ts.ATTRIBUTION_SQL,
         "first-touch vs last-touch conversion attribution in one "
         "time-bounded range window (24h lookback, no self-join) — "
         "per touch type, conversions credited by each rule")
register("order_total_reconciliation", cu.order_total_reconciliation,
         cu.ORDER_RECON_SQL,
         "financial reconciliation gate: o_totalprice vs recomputed "
         "line charge in exact integer micro-dollars — per-year "
         "mismatch share + discrepancy distribution")
register("markov_heldout_accuracy", ts.markov_heldout_accuracy,
         ts.MARKOV_HELDOUT_SQL,
         "held-out top-1 next-event accuracy of the Markov argmax "
         "rule, user-grouped md5 split (no cross-boundary leakage) — "
         "the heldout_bigram_perplexity discipline on the behavioral "
         "model")
register("metric_choice_agreement", sim.metric_choice_agreement,
         sim.METRIC_AGREEMENT_SQL,
         "does the similarity metric matter: top-5 neighbor overlap "
         "per query between cosine, dot, and L2 (monotone surrogate, "
         "no sqrt in the order) — cell-blocked candidates, one "
         "exchange shared by all three rank windows")
register("word_burstiness_adaptation", ta.word_burstiness_adaptation,
         ta.WORD_BURSTINESS_SQL,
         "word burstiness / adaptation (Church & Gale 1995): measured "
         "P(tf>=2 | tf>=1) vs the Poisson prediction at the term's "
         "corpus rate — the statistic behind BM25 tf saturation; "
         "vocabulary-bounded output")

# round-7 additions (6, exactly the window-swap budget VERDICT r6 set)
register("winnowing_fingerprints", ta.winnowing_fingerprints,
         ta.WINNOWING_SQL,
         "winnowing fingerprints (Schleimer et al. SIGMOD 2003, MOSS): "
         "per-window min k-gram hash selection with the >=W+K-1 local "
         "match guarantee; per-doc density vs the 2/(W+1) expectation "
         "— pure per-row array program, zero shuffle")
register("prefix_filter_jaccard_join", dd.prefix_filter_jaccard_join,
         dd.PREFIX_FILTER_JACCARD_SQL,
         "prefix-filtered set-similarity join (SSJoin/PPJoin): rarest "
         "p = n-ceil(t*n)+1 tokens as join keys + integer length "
         "filter — lossless vs jaccard_similarity_join (pinned), with "
         "the Zipf head pruned out of the candidate join")
register("split_leakage_audit", cu.split_leakage_audit,
         cu.SPLIT_LEAKAGE_SQL,
         "train/holdout leakage through near-duplicates (Lee et al. "
         "2022): every verified near-dup pair classified by md5-split "
         "endpoints; holdout docs with a training near-copy counted "
         "and shared against the full holdout — composed verbatim "
         "from jaccard_similarity_join + the hash-split convention")
register("psi_drift_by_source", cu.psi_drift_by_source,
         cu.PSI_DRIFT_SQL,
         "Population Stability Index per source over binned doc "
         "length vs corpus — the binned symmetric drift stat beside "
         "KS (location) and KL (vocabulary); Laplace-smoothed cells, "
         "decimal-pinned terms, one corpus scan + manifest-sized grid")
register("heaps_law_fit", ta.heaps_law_fit, ta.HEAPS_FIT_SQL,
         "Heaps'-law vocabulary-growth fit V(N)=K*N^beta over the "
         "doc_id-ordered stream, checkpointed per 16-doc bucket so "
         "the prefix window is bucket-sized, never corpus-sized — "
         "the growth twin of zipf_law_fit, same pinned-OLS recipe")
register("dedup_token_impact", cu.dedup_token_impact,
         cu.DEDUP_TOKEN_IMPACT_SQL,
         "token-weighted dedup bill per source: exact-stage then "
         "transitive near-dup stage (charged to exact survivors "
         "only), raw/removed/surviving tokens + savings share — "
         "composed verbatim from exact_dedup + connected components")
register("good_turing_discounts", ta.good_turing_discounts,
         ta.GOOD_TURING_SQL,
         "Good-Turing discounted counts r* = (r+1)N_{r+1}/N_r over the "
         "trigram frequency-of-frequencies table (Good 1953, Church & "
         "Gale 1991) + per-class probability mass — the nonparametric "
         "unseen-mass estimate behind every LM smoother; all-integer "
         "until two exact-operand divisions")
register("seasonal_naive_mase", ts.seasonal_naive_mase,
         ts.SEASONAL_NAIVE_MASE_SQL,
         "MASE forecast-skill readout (Hyndman & Koehler 2006): "
         "24h-seasonal-naive forecast of the last day's hourly counts "
         "per event_type, scaled by the in-sample seasonal-naive MAE "
         "— the scale-free gate before fitting a real model; all "
         "windows run on the dense manifest-sized hour grid")
register("session_overlap_pairs", ts.session_overlap_pairs,
         ts.SESSION_OVERLAP_SQL,
         "cross-user session concurrency via the bucketed interval "
         "self-join (the public range-join technique Spark lacks "
         "natively): intervals explode to hour buckets, pair within "
         "a bucket only, kept once by the overlap-start bucket — "
         "per-day overlapping pairs + mean overlap seconds")
register("table_stats_profile", lay.table_stats_profile,
         lay.TABLE_STATS_SQL,
         "ANALYZE-TABLE statistics for lineitem: per-column rows / "
         "non-nulls / exact NDV / min-max strings — what a CBO reads "
         "for join reordering and broadcast decisions; one 1-column "
         "pruned scan per branch, never an Expand multi-distinct")
register("sessionization_sensitivity", ts.sessionization_sensitivity,
         ts.SESSIONIZATION_SENSITIVITY_SQL,
         "session-gap parameter sensitivity: sessions / "
         "events-per-session / broken-gap share under 15/30/60-min "
         "thresholds from ONE lag pass (sessions(T) = users + gaps>T "
         "— no per-session state), the table read before hard-coding "
         "the session family's 30-min constant")
register("hourly_seasonality_strength", ts.hourly_seasonality_strength,
         ts.HOURLY_SEASONALITY_SQL,
         "seasonal-strength feature (tsfeatures/Hyndman): share of "
         "hourly-count variance explained by the 24-slot hour-of-day "
         "profile, 1 - SS_within/SS_tot via exact integer moments + "
         "decimal-pinned per-slot means-model terms — the companion "
         "to seasonal_naive_mase and burstiness_fano")
register("negative_sampling_weights", ta.negative_sampling_weights,
         ta.NEGATIVE_SAMPLING_SQL,
         "word2vec negative-sampling distribution (Mikolov 2013): "
         "P(w) ∝ count^(3/4) with pow round(·,6)-decimal-pinned, "
         "exact-decimal normalizer, top-K head with the damp ratio "
         "the 3/4 trick moves — the vocabulary-level member of the "
         "temperature-flattening family")
register("direct_standardization_rates", cu.direct_standardization_rates,
         cu.DIRECT_STANDARDIZATION_SQL,
         "epidemiology's direct standardization as the Simpson's-"
         "paradox guard for per-source quality league tables: pooled "
         "long-doc rate vs the rate standardized to the corpus "
         "language mix + the confounding gap; decimal-pinned "
         "manifest-sized grid math after one exchange")
register("rbo_ranker_agreement", ta.rbo_ranker_agreement,
         ta.RBO_AGREEMENT_SQL,
         "Rank-Biased Overlap (Webber et al. 2010) between the BM25 "
         "and Dirichlet-QL rankings: top-weighted prefix agreement "
         "RBO_min@10 via the max(r1,r2)<=d depth-membership trick — "
         "the production ranker-swap gate beside Spearman's "
         "equal-weight pool agreement; depth weights inlined as "
         "identical literals, terms decimal-pinned")
register("gumbel_return_levels", ts.gumbel_return_levels,
         ts.GUMBEL_SQL,
         "extreme-value capacity planning (Gumbel 1958 block "
         "maxima, method of moments): per-type 30-day and 365-day "
         "return levels of hourly load from daily maxima — the "
         "provisioning number mean+k*sigma under-states; every "
         "transcendental constant a frozen Python literal in both "
         "engines")
register("decile_lift_table", adv.decile_lift_table,
         adv.DECILE_LIFT_SQL,
         "decile lift table for the richness-ranks-length model: "
         "ntile(10) over the total order, per-decile positive rate + "
         "cumulative lift over base rate — the business-facing "
         "cousin of ROC-AUC; exact rank arithmetic, approx-quantile "
         "bound swap documented for cluster scale")
register("kruskal_wallis_sources", adv.kruskal_wallis_sources,
         adv.KRUSKAL_WALLIS_SQL,
         "Kruskal-Wallis H (1952) across ALL sources' length "
         "distributions — the k-sample omnibus gate before 190 "
         "pairwise tests; doubled-rank exact-integer math on the "
         "pooled value histogram, tie-corrected")
register("trend_mann_kendall", ts.trend_mann_kendall,
         ts.MANN_KENDALL_SQL,
         "robust trend per event_type over daily counts: Mann-"
         "Kendall S + tie-corrected continuity-corrected z, plus the "
         "Theil-Sen median pairwise slope (rank-selected, no "
         "interpolation) — pairwise math on the manifest-sized daily "
         "grid, never the corpus")
register("mcnemar_dedup_methods", dd.mcnemar_dedup_methods,
         dd.MCNEMAR_SQL,
         "McNemar paired test (1947) between MinHash-LSH and "
         "SimHash-Hamming over the union of pairs either flags: "
         "agreement + the two disagreement cells, continuity-"
         "corrected chi2 — the PAIRED comparison (both methods judge "
         "the same pairs) beside dedup_method_agreement's vs-truth "
         "precision/recall")
register("skyline_pareto_docs", adv.skyline_pareto_docs,
         adv.SKYLINE_SQL,
         "SKYLINE operator (Borzsonyi ICDE 2001) — the Pareto "
         "frontier maximizing (n_chars, distinct tokens) via the "
         "2-D sort + running-max trick (SFS core): no pairwise "
         "join, one group-max + a window over the distinct-length "
         "relation; the multi-objective shortlist no single weighted "
         "top-k can express")
register("wilson_ci_rates", adv.wilson_ci_rates, adv.WILSON_SQL,
         "Wilson score 95% CI (1927) for each source's long-doc rate "
         "— boundary-safe where Wald collapses; z frozen as a "
         "16-digit literal; one conditional-count agg, interval math "
         "on the sources relation")
register("capture_recapture_users", adv.capture_recapture_users,
         adv.CAPTURE_RECAPTURE_SQL,
         "Lincoln-Petersen / Chapman capture-recapture population "
         "estimate from the click-users and view-users samples, "
         "reported against the true distinct-user count — the "
         "ecology estimator for sizing a population neither partial "
         "log covers; three distinct-aggs + a 1-row estimator")
register("jackknife_ratio_variance", adv.jackknife_ratio_variance,
         adv.JACKKNIFE_SQL,
         "delete-one-group jackknife (Tukey 1958) for the chars-per-"
         "token RATIO: 16 md5 groups, leave-one-out ratios from "
         "group-sum subtraction (never a resample), "
         "(G-1)/G-weighted deviation sum — the survey-statistics "
         "replicate-variance recipe for sum-over-sum KPIs; all "
         "replicate math on the 16-row group relation")
register("eb_shrinkage_rates", cu.eb_shrinkage_rates,
         cu.EB_SHRINKAGE_SQL,
         "Efron-Morris empirical-Bayes shrunk league table "
         "(fixed-strength form): per-source rates pulled toward the "
         "pooled rate by M=20 pseudo-docs, raw vs shrunk rankings + "
         "rank movement — kills the small-sample leader a raw "
         "ranking crowns; beside wilson_ci_rates and "
         "direct_standardization_rates")
register("kaplan_meier_conversion", ts.kaplan_meier_conversion,
         ts.KAPLAN_MEIER_SQL,
         "Kaplan-Meier survival curve (1958) of view->purchase "
         "conversion, right-censored at the corpus horizon: "
         "S(t) = prod(1 - d_i/n_i) on the hour-bucketed life table — "
         "uses censored users' partial exposure instead of dropping "
         "them (the bias time_to_convert's converted-only stats "
         "carry); decimal-pinned log-sums, d=n drives S to 0 via a "
         "flag never ln(0)")
register("logrank_conversion_arms", ts.logrank_conversion_arms,
         ts.LOGRANK_SQL,
         "log-rank test (Mantel 1966) between the md5 50/50 arms' "
         "conversion curves — the censored-data A/B test Welch and "
         "Mann-Whitney cannot run: per event hour, observed arm-A "
         "conversions vs the hypergeometric expectation given the "
         "at-risk sets; all-integer life table, rational statistic, "
         "no ln/exp")
register("snapshot_diff_audit", lay.snapshot_diff_audit,
         lay.SNAPSHOT_DIFF_SQL,
         "table-version diff (Datafold/data-diff pattern): v1 vs a "
         "deterministic md5-sliced simulated v2 (removed / "
         "price-corrected / status-advanced / late-arrival slices), "
         "ONE full-outer join on the key, exact-decimal change "
         "detection, added/removed/changed/unchanged counts — the "
         "replica-validation gate a CDC pipeline alerts on")
register("kmv_distinct_sketch", adv.kmv_distinct_sketch,
         adv.KMV_SKETCH_SQL,
         "KMV k-minimum-values NDV sketch per event_type (Bar-Yossef "
         "2002): exact 52-bit md5 uniforms, estimate (k-1)/u_k from "
         "the k-th order statistic, reported AGAINST exact NDV with "
         "relative error — the sketch-error audit run before swapping "
         "exact distincts for mergeable sketches")
register("conformal_interval_coverage", adv.conformal_interval_coverage,
         adv.CONFORMAL_SQL,
         "split-conformal prediction intervals (Papadopoulos 2002 / "
         "Vovk): exact finite-sample rank ceil((n_cal+1)(1-alpha)) "
         "nonconformity quantile on the md5 75% calibration split, "
         "empirical coverage audited on the held-out 25% — the "
         "distribution-free interval machinery around any point model")
register("lsh_parameter_planner", dd.lsh_parameter_planner,
         dd.LSH_PLANNER_SQL,
         "LSH banding planner: expected candidate yield of every "
         "(bands x rows) factorization of the 8-minhash signature "
         "via the S-curve 1-(1-s^r)^b over the corpus's observed "
         "pair-similarity histogram — S-curve inlined as import-time "
         "Python literals in BOTH engines (no runtime pow), the "
         "table read before retuning N_BANDS")
register("readability_forcast", ta.readability_forcast,
         ta.READABILITY_FORCAST_SQL,
         "FORCAST readability grade per language (Caylor 1973 — the "
         "sentence-free instrument, right for boilerplate/crawl text "
         "where Flesch-Kincaid is undefined): monosyllable rate via "
         "higher-order filter + vowel-run regex (no explode, no UDF), "
         "mean grade by linearity over round(·,10)-pinned rates, "
         "accessibility band compared on the exact rational threshold")
register("mann_whitney_auc", adv.mann_whitney_auc, adv.MANN_WHITNEY_SQL,
         "Mann-Whitney U rank-sum test + the equivalent ROC-AUC "
         "(AUC = U/(n1·n2)) comparing doc lengths between two "
         "sources: all rank math in exact integers via doubled ranks "
         "(tie-corrected z) — the distribution-free twin of "
         "ab_split_welch_ttest for heavy-tailed metrics")
register("data_expectations_audit", lay.data_expectations_audit,
         lay.DATA_EXPECTATIONS_SQL,
         "Deequ/Great-Expectations-style declarative constraint suite "
         "over orders (completeness, uniqueness, set-membership, "
         "non-negativity, date-range) from ONE scan, unpivoted to the "
         "(constraint, metric, threshold, passed) contract an ingest "
         "gate alerts on")
register("broadcast_join_advisor", lay.broadcast_join_advisor,
         lay.BROADCAST_ADVISOR_SQL,
         "join-strategy advisor: per-table in-memory size estimate "
         "from the declared row model vs Spark's 10 MB "
         "autoBroadcastJoinThreshold → broadcast/shuffle "
         "recommendation — the AQE decision surfaced as an auditable "
         "relation (catches the dim that outgrew the threshold)")
register("t_closeness_audit", cu.t_closeness_audit, cu.T_CLOSENESS_SQL,
         "t-closeness release audit (Li 2007), completing the "
         "k-anonymity / l-diversity ladder: per-QI-class EMD vs the "
         "corpus distribution over 6 ordered length buckets via the "
         "cumulative-difference closed form, decimal-pinned cumsum, "
         "per-class densified grid")
register("adamic_adar_links", it.adamic_adar_links, it.ADAMIC_ADAR_SQL,
         "Adamic-Adar link prediction on the guarded word graph: "
         "top-20 non-adjacent pairs by Σ 1/ln(deg) over common "
         "neighbors — wedge equi-join on the materialized hub-guarded "
         "edge list, anti-join excludes existing edges, "
         "decimal-pinned scores, TakeOrdered top-k")
register("acf_correlogram", ts.acf_correlogram, ts.ACF_SQL,
         "Box-Jenkins autocorrelation correlogram per event_type: "
         "r_k at lags 1..24 on the dense hourly grid via exact "
         "integer cross/head/tail sums (num_k = C_k − ȳ(H_k+T_k) + "
         "m_k·ȳ² — no float accumulation anywhere); the diagnostic "
         "that decomposes what hourly_seasonality_strength "
         "summarizes, read before choosing Holt vs seasonal-naive")
register("cusum_changepoint", ts.cusum_changepoint, ts.CUSUM_SQL,
         "Page 1954 one-sided CUSUM level-shift scan per event_type "
         "on dense hourly counts: the max(0,·) recursion via its "
         "prefix-sum − running-min closed form (two window passes, "
         "fully distributed), z_t decimal-pinned because DuckDB's "
         "segment-tree window sum adds in a different order than "
         "Spark's running frame; alarm at the textbook h = 4σ — the "
         "drift accumulator beside event_rate_anomaly's z-scores")
register("markov_temporal_holdout", ts.markov_temporal_holdout,
         ts.MARKOV_TEMPORAL_SQL,
         "time-based twin of markov_heldout_accuracy: argmax "
         "next-event rule trained on the first 24 days, top-1 "
         "accuracy on the rest — the no-future-leakage split "
         "production deploys under; detects the non-stationarity "
         "the user-grouped md5 split cannot see")


# --- round-8 additions -----------------------------------------------------
register("sliding_window_dau", ts.sliding_window_dau,
         ts.SLIDING_DAU_SQL,
         "trailing 7-day distinct actives (WAU) beside DAU and the "
         "DAU/WAU stickiness ratio — windowed COUNT(DISTINCT) via the "
         "scale-correct expand-to-bucket plan (constant fan-out = the "
         "window length, never a range self-join)")
register("fellegi_sunter_linkage", dd.fellegi_sunter_linkage,
         dd.FELLEGI_SUNTER_SQL,
         "Fellegi-Sunter probabilistic record linkage: blocked pairs "
         "scored by sum of ln(m/u) field weights with frequency-"
         "estimated u-probabilities; output is the agreement-pattern "
         "census a linkage practitioner thresholds on")
register("curriculum_interleave", cu.curriculum_interleave,
         cu.CURRICULUM_INTERLEAVE_SQL,
         "difficulty-decile round-robin training order per language — "
         "the anti-curriculum-collapse interleave; audited by the "
         "per-(lang, decile) placement table (mean gap = #deciles)")
register("label_propagation_round", it.label_propagation_round,
         it.LABEL_PROPAGATION_SQL,
         "one synchronous deterministic LPA round over the undirected "
         "bigram word graph from the all-distinct start; top-20 "
         "emergent communities by member count")
register("grouped_ols_fit", adv.grouped_ols_fit,
         adv.GROUPED_OLS_SQL,
         "per-event-type closed-form OLS of value vs hour-of-day from "
         "sufficient moments; float moments are product-free "
         "(decimal-pinned hourly sums times integer hours)")
register("dbscan_grid_core", sim.dbscan_grid_core,
         sim.DBSCAN_GRID_SQL,
         "DBSCAN core/border/noise census over the 2D-projected "
         "embedding cloud; eps-grid 3x3 equi-join candidates — "
         "lossless blocking, never all-pairs")
register("rake_keyphrases", ta.rake_keyphrases,
         ta.RAKE_SQL,
         "RAKE keyphrase extraction as a relational program: stopword-"
         "boundary phrases, deg/freq word scores, decimal-pinned "
         "phrase scores, top-20 table")
register("hill_tail_index", adv.hill_tail_index,
         adv.HILL_TAIL_SQL,
         "Hill power-law tail-index ladder over per-user activity "
         "counts — the quantitative how-heavy-is-the-power-user-tail "
         "diagnostic that motivates skew salting")

register("nelson_aalen_hazard", ts.nelson_aalen_hazard,
         ts.NELSON_AALEN_SQL,
         "Nelson-Aalen cumulative hazard + Fleming-Harrington "
         "survival over the same right-censored conversion life table "
         "as kaplan_meier_conversion — the additive hazard companion")
register("runs_test_updown", ts.runs_test_updown,
         ts.RUNS_TEST_SQL,
         "Wald-Wolfowitz runs test of daily-count up/down movements "
         "per event type — too few runs = trending, too many = "
         "oscillating; the nonparametric randomness gate")
register("entropy_rate_markov", ts.entropy_rate_markov,
         ts.ENTROPY_RATE_SQL,
         "Shannon entropy rate (+ perplexity, predictability) of the "
         "within-session clickstream Markov chain — the one-number "
         "summary session_path_transitions decomposes")
register("median_of_means", adv.median_of_means,
         adv.MEDIAN_OF_MEANS_SQL,
         "median-of-means robust mean of event values over 16 md5 "
         "buckets beside the plain mean — the sub-Gaussian estimator "
         "one adversarial bucket cannot move")
register("power_mde_planner", adv.power_mde_planner,
         adv.POWER_MDE_SQL,
         "A/B experiment sizing: minimal detectable effect of the "
         "current md5 split at alpha=0.05/80% power from frozen "
         "normal-quantile literals, + n per arm for a 1-point lift")
register("sprt_sequential_ab", ts.sprt_sequential_ab,
         ts.SPRT_SQL,
         "Wald SPRT sequential A/B per md5 arm: running LLR as EXACT "
         "decimal arithmetic over frozen 10-dp increment literals, "
         "first boundary crossing + decision")
register("burrows_delta_stylometry", ta.burrows_delta_stylometry,
         ta.BURROWS_DELTA_SQL,
         "Burrows' Delta authorship distance between every source "
         "pair over top-20 word z-profiles — style drift, decimal-"
         "exact moment accumulation")
register("fleiss_kappa_dedup", dd.fleiss_kappa_dedup,
         dd.FLEISS_KAPPA_SQL,
         "Fleiss' kappa treating exact/MinHash/SimHash dedup as three "
         "raters per document — chance-corrected multi-rater "
         "agreement completing the kappa/McNemar ladder")
register("token_budget_planner", cu.token_budget_planner,
         cu.TOKEN_BUDGET_SQL,
         "data-constrained pre-training budget audit (Muennighoff "
         "2023): epochs per source under the sqrt-tempered mix, the "
         ">4-epoch ceiling flag and the capped-grant deficit")
register("kmeans_coreset_weights", qz.kmeans_coreset_weights,
         qz.KMEANS_CORESET_SQL,
         "per-cell k-means SSE decomposition + lightweight-coreset "
         "sensitivity shares (Bachem 2018) in exact integer "
         "arithmetic over the trained quantizer")
register("cramers_v_matrix", cu.cramers_v_matrix,
         cu.CRAMERS_V_SQL,
         "Cramer's V association matrix across the catalog's three "
         "categorical axis pairs — normalized chi2 on [0,1], the "
         "which-axes-are-entangled table for stratified sampling")

# --- round-9 additions -----------------------------------------------------
register("keyframe_caption_align", mm.keyframe_caption_align,
         mm.KEYFRAME_CAPTION_SQL,
         "video-keyframe/caption JOINT alignment: shot-cut keyframes "
         "mapped to the UTF-8 byte-span caption token + W-token "
         "caption window — single mapInPandas pass, byte-exact twin")

# --- round-10 additions ----------------------------------------------------
register("audio_fingerprint_retrieval", mm.audio_fingerprint_retrieval,
         mm.AUDIO_FINGERPRINT_SQL,
         "cross-modal audio retrieval completing the alignment pair: "
         "Shazam-style (band, band, delta-pos) landmark fingerprints "
         "over the PCM int16 convention, pure-JVM hex parse, "
         "broadcast query side, top-k by shared-fingerprint count")
