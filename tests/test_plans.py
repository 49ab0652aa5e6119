"""Physical-plan assertions (SURVEY.md §4.3): the plan-shape contract
that makes these queries scale — pushdown reaching the parquet scan,
dimension joins broadcasting, top-k avoiding global sorts, hot paths
staying inside WholeStageCodegen (no Python in the dataflow unless the
operator is explicitly a UDF demo).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_in_pthreads_spark.plans.registry import REGISTRY


def plan(spark, sf_dir, name) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q6_filters_pushed_to_scan(spark, sf_dir):
    p = plan(spark, sf_dir, "q6_forecast_revenue")
    # filters reach the FileScan node (the toString truncates the
    # filter list, so match the scan's DataFilters prefix)
    scan = next(l for l in p.splitlines() if "FileScan parquet" in l)
    assert "DataFilters: [isnotnull(l_shipdate" in scan
    # and only the needed columns are read
    assert "[l_quantity" in scan and "l_orderkey" not in scan


def test_q1_prunes_columns(spark, sf_dir):
    p = plan(spark, sf_dir, "q1_pricing_summary")
    read = p[p.index("ReadSchema"):].splitlines()[0]
    # only the 7 needed columns, not all 11 (column pruning)
    assert "l_orderkey" not in read and "l_partkey" not in read
    assert "l_quantity" in read and "l_returnflag" in read


def test_revenue_by_nation_broadcasts_dims(spark, sf_dir):
    p = plan(spark, sf_dir, "revenue_by_nation")
    assert p.count("BroadcastHashJoin") >= 3  # customer, nation, region


def test_top_k_uses_take_ordered(spark, sf_dir):
    p = plan(spark, sf_dir, "top_k_orders")
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p  # no global sort materialization


def test_semi_anti_join_operators(spark, sf_dir):
    assert "LeftSemi" in plan(spark, sf_dir, "customers_with_big_orders")
    assert "LeftAnti" in plan(spark, sf_dir, "customers_without_orders")


def test_inverted_index_single_shuffle(spark, sf_dir):
    """The flagship should shuffle exactly once (the groupBy) — the
    Spark analogue of the reference's single producer→consumer
    exchange (mapreduce.c:117-131)."""
    p = plan(spark, sf_dir, "inverted_index")
    assert p.count("Exchange hashpartitioning") == 1


def test_no_python_in_relational_hot_paths(spark, sf_dir):
    """Python evaluation (BatchEvalPython/ArrowEvalPython/FlatMapsInPandas)
    must not appear in any non-UDF-demo query plan."""
    udf_demos = {"pandas_udf_token_count", "apply_in_pandas_zscore",
                 "python_udf_slow_path", "blob_metadata",
                 "udtf_chunk_documents", "frame_sample", "ann_topk_blas",
                 "blob_metadata_arrow", "cogroup_reconcile",
                 "image_decode_meta", "image_resize_half",
                 "audio_rms_windows", "image_channel_stats",
                 "image_phash_groups", "audio_silence_runs",
                 "frame_shot_boundaries", "pandas_grouped_agg_gini",
                 "keyframe_caption_align",
                 # RDD-API parity demo: Python by construction (the
                 # plan shows Scan ExistingRDD, not EvalPython)
                 "rdd_inverted_index"}
    for name, q in REGISTRY.items():
        if name in udf_demos:
            continue
        p = plan(spark, sf_dir, name)
        assert ("EvalPython" not in p and "InPandas" not in p
                and "InArrow" not in p), name


def test_ivf_prunes_vs_bruteforce(spark, sf_dir):
    """IVF variant joins on the cell key (hash/broadcast join), while
    brute force is an explicit cartesian/broadcast product."""
    p = plan(spark, sf_dir, "ann_ivf_topk")
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p


def test_q3_take_ordered_and_broadcast(spark, sf_dir):
    p = plan(spark, sf_dir, "q3_shipping_priority")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p  # customer side declared broadcast


def test_salted_word_count_two_stage(spark, sf_dir):
    """The salted rewrite must show both aggregation stages (salted
    partial + final) — i.e. ≥2 hash-partition exchanges."""
    p = plan(spark, sf_dir, "salted_word_count")
    assert p.count("Exchange hashpartitioning") >= 2


def test_asof_join_single_window_shuffle(spark, sf_dir):
    """The union+window as-of formulation: exactly one hash exchange
    (the user partitioning) and NO join operator at all."""
    p = plan(spark, sf_dir, "asof_join_prior_event")
    assert p.count("Exchange hashpartitioning") == 1
    assert "Join" not in p


def test_partial_aggregation_in_word_count(spark, sf_dir):
    """word_count must plan two-phase hash aggregation (map-side
    partial_count before the exchange) — the improvement over the
    reference's combine-less shuffle (SURVEY.md §4.2)."""
    p = plan(spark, sf_dir, "word_count")
    assert "partial_count" in p


def test_q7_broadcasts_all_dims(spark, sf_dir):
    """Q7's four dim joins (supplier/customer/nation×2) broadcast; only
    the lineitem⋈orders fact join may exchange."""
    p = plan(spark, sf_dir, "q7_volume_shipping")
    assert p.count("BroadcastHashJoin") >= 4


def test_q19_disjunction_stays_joined(spark, sf_dir):
    """OR-of-ANDs predicate must plan as an equi hash join on partkey
    with a residual filter — never a cartesian fallback."""
    p = plan(spark, sf_dir, "q19_disjunctive_pushdown")
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p
    assert "Cartesian" not in p
    # part-side single-table conjuncts pushed into the dim scan
    scan = [l for l in p.splitlines()
            if "FileScan parquet" in l and "part.parquet" in l]
    assert scan and "p_brand" in scan[0]


def test_q5_broadcasts_all_dims(spark, sf_dir):
    """Q5's customer/supplier/nation/region joins broadcast — the fact
    shuffles only for the lineitem⋈orders key join."""
    p = plan(spark, sf_dir, "q5_local_supplier_volume")
    assert p.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in p


def test_q11_global_total_is_broadcast_not_collect(spark, sf_dir):
    """The grand-total comparison must plan as a broadcast nested-loop
    of a 1-row aggregate — no driver-side collect, no cartesian of two
    big sides."""
    p = plan(spark, sf_dir, "q11_important_parts")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_q17_correlated_avg_single_shuffle(spark, sf_dir):
    """The correlated per-part average is a window over l_partkey:
    exactly one hash exchange, not a re-scan join of lineitem against
    itself."""
    p = plan(spark, sf_dir, "q17_small_quantity_revenue")
    assert "Window" in p
    assert p.count("Exchange hashpartitioning") == 1
    # lineitem is scanned once (plus the broadcast part dim scan)
    li_scans = [l for l in p.splitlines()
                if "FileScan parquet" in l and "lineitem.parquet" in l]
    assert len(li_scans) == 1


def test_q22_anti_join_operator(spark, sf_dir):
    p = plan(spark, sf_dir, "q22_global_sales_opportunity")
    assert "LeftAnti" in p


def test_deterministic_sample_partial_topk(spark, sf_dir):
    """Per-stratum rank filter plans a window after ONE hash exchange
    on lang (no global sort)."""
    p = plan(spark, sf_dir, "deterministic_sample_per_lang")
    assert "Window" in p
    assert p.count("Exchange rangepartitioning") == 0


def test_ordered_funnel_single_shuffle(spark, sf_dir):
    """The round-3 rewrite contract: the 3-step funnel's sequential
    dependency rides ONE user_id exchange (stacked window-mins), the
    fact is scanned once, and the only other exchange is the 1-row
    final reduction."""
    p = plan(spark, sf_dir, "ordered_funnel")
    assert p.count("Exchange hashpartitioning") == 1
    assert p.count("events.parquet") == 1


def test_tfidf_df_via_window_not_join(spark, sf_dir):
    """tf-idf's document frequency must come from a window over the tf
    relation (no tf⋈df equi-join re-shuffle): ≤4 exchanges total and
    no sort-merge join anywhere in the plan (the only join is the
    broadcast of the 1-row corpus count)."""
    p = plan(spark, sf_dir, "tfidf_top_terms")
    assert p.count("Exchange hashpartitioning") <= 4
    assert "SortMergeJoin" not in p


def test_aqe_splits_skewed_join(spark, sf_dir):
    """AQE skew-join handling — the runtime answer to a hot key at
    100 TB (the reference's analogue: `-p 24 -c 1` contending on one
    buffer was 8x slower, BASELINE.md). One key owns ~95% of the left
    side; with broadcast disabled the sort-merge join would stall on
    one straggler partition, and AQE must split it (skew=true in the
    final adaptive plan)."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "262144",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "65536",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "4096",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = (spark.range(0, 150_000)
                .withColumn("k", F.when(F.col("id") % 20 != 0, F.lit(0))
                            .otherwise(F.col("id") % 97))
                .withColumn("pad", F.lpad(F.col("id").cast("string"),
                                          64, "x")))
        right = (spark.range(0, 97)
                 .select(F.col("id").alias("k"),
                         F.col("id").alias("dim_val")))
        # No keyed aggregate downstream: reusing the join's hash
        # partitioning would make AQE decline the split (it avoids
        # introducing an extra shuffle).
        joined = left.join(right, "k")
        assert len(joined.collect()) == 150_000   # materialize → final plan
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final[:2000]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_tpch_shapes_prune_and_push(spark, sf_dir):
    """Sweeping scan audit over every TPC-H shape: any lineitem scan
    must prune columns (never read all 11), and every parquet scan in
    a filtered query must carry PushedFilters. A scan reading all
    columns for a narrow aggregate is wrong at any scale."""
    shapes = [n for n in REGISTRY
              if n.startswith("q") and n[1].isdigit()]
    assert len(shapes) >= 20
    all_cols = {"l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
                "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                "l_linestatus", "l_shipdate", "l_comment"}
    for name in shapes:
        p = plan(spark, sf_dir, name)
        for line in p.splitlines():
            if "FileScan parquet" not in line or "lineitem" not in line:
                continue
            read = line[line.index("ReadSchema"):] if "ReadSchema" in line \
                else ""
            present = {c for c in all_cols if c in read}
            assert len(present) < len(all_cols), (name, line[-400:])


def test_runtime_bloom_filter_injected(spark, sf_dir):
    """Runtime row-level filtering: a selective dim filter on the
    creation side must inject a Bloom filter into the fact scan side of
    a shuffle join — at 100 TB this prunes shuffle input before the
    exchange. (Thresholds scaled down: the application side must only
    be 'big' relative to spark.sql.optimizer.runtime.bloomFilter.
    applicationSideScanSizeThreshold, 10 GB by default.)"""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        p = (spark.read.parquet(f"{sf_dir}/part.parquet")
             .filter(F.col("p_size") < 3))
        j = (li.join(p, li.l_partkey == p.p_partkey)
             .groupBy("p_size").agg(F.count(F.lit(1)).alias("n")))
        exe = j._jdf.queryExecution().executedPlan().toString()
        assert "bloomfilter" in exe.lower()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_observe_metrics_piggyback(spark, sf_dir):
    """df.observe(): pipeline health metrics (row count, null count,
    sum) collected DURING the action — no second scan of the data, the
    production answer to 'audit counters without re-reading 100 TB'."""
    from pyspark.sql import Observation

    obs = Observation("audit")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .alias("null_custkeys"))
    n = observed.filter(F.col("o_totalprice") > 0).count()
    m = obs.get
    assert m["rows_seen"] == o.count()      # metrics saw ALL rows
    assert m["null_custkeys"] == 0
    assert n <= m["rows_seen"]


def test_duplicate_spans_no_cartesian_hot_list_broadcast(spark, sf_dir):
    """The span join must stay an equi-join on the gram (never a
    cartesian), and the hot-gram guard must be a broadcast anti-join
    below it."""
    p = plan(spark, sf_dir, "duplicate_spans")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


def test_pq_adc_scoring_is_broadcast_side(spark, sf_dir):
    """PQ-ADC pairs every vector with the tiny query-LUT relation —
    legal only as a BROADCAST nested loop (10 rows), never a shuffle
    cartesian; the one exchange is the top-k window."""
    p = plan(spark, sf_dir, "pq_adc_topk")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p
    assert p.count("Exchange hashpartitioning") == 1


def test_bm25_broadcasts_stats_sides(spark, sf_dir):
    """The df relation (per query term: bounded, so its hint is
    allowlisted), the 1-row N/avgdl stats and the constant query list
    broadcast; the corpus is never on the build side of anything."""
    p = plan(spark, sf_dir, "bm25_topk_docs")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastHashJoin") >= 2


def test_count_min_sketch_is_broadcast_probe(spark, sf_dir):
    """The DEPTH x WIDTH counter matrix joins the probe side as a
    broadcast — the sketch itself must never shuffle the corpus more
    than the one build aggregation."""
    p = plan(spark, sf_dir, "count_min_words")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_rrf_shares_bm25_exchange_budget(spark, sf_dir):
    """All three fusion windows partition by query_id, so RRF must
    plan with the SAME exchange count as plain BM25 — fusion adds
    sorts, never shuffles."""
    assert (plan(spark, sf_dir, "rrf_fusion_topk")
            .count("Exchange hashpartitioning")
            == plan(spark, sf_dir, "bm25_topk_docs")
            .count("Exchange hashpartitioning"))


def test_reliable_checkpoint_switch(spark, sf_dir, tmp_path):
    """truncate_lineage honors the reliableCheckpoint conf: with a
    checkpoint dir set and the conf on, iterative results are
    unchanged AND the reliable checkpoint directory receives data;
    with the conf off (default) nothing is written there."""
    import os

    from mapreduce_in_pthreads_spark.functions.lineage import (
        RELIABLE_CONF)
    from mapreduce_in_pthreads_spark.plans.registry import REGISTRY

    def run():
        return sorted(
            map(tuple,
                REGISTRY["connected_components_dedup"]
                .fn(spark, sf_dir).collect()))

    baseline = run()
    ckpt = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(ckpt)
    try:
        assert not any(files for _, _, files in os.walk(ckpt))
        spark.conf.set(RELIABLE_CONF, "true")
        assert run() == baseline
        assert any(files for _, _, files in os.walk(ckpt)), (
            "reliable mode did not write to the checkpoint dir")
    finally:
        spark.conf.unset(RELIABLE_CONF)


def test_cbo_column_stats_drive_broadcast(spark, sf_dir):
    """Cost-based optimization evidence: with a 4 KB broadcast
    threshold, the filtered customer dim plans as a SortMergeJoin on
    file-size estimates alone, but after ANALYZE ... FOR ALL COLUMNS
    the CBO filter-selectivity estimate shrinks it below threshold and
    the SAME query plans a BroadcastHashJoin — the stats-driven
    replanning a warehouse relies on (AQE disabled so the static
    planner, not runtime sizes, makes the call)."""
    import shutil

    from mapreduce_in_pthreads_spark.sources.tables import load_table

    saved = {k: spark.conf.get(k) for k in (
        "spark.sql.adaptive.enabled",
        "spark.sql.cbo.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.join.preferSortMergeJoin")}
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")
    # the session default prefers shuffled-hash; this test's "before"
    # baseline is specifically the sort-merge plan CBO flips away from
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
    q = """SELECT o.o_orderkey, c.c_name FROM cbo_t_orders o
           JOIN cbo_t_customer c ON o.o_custkey = c.c_custkey
           WHERE c.c_acctbal BETWEEN 0 AND 100"""
    try:
        load_table(spark, sf_dir, "orders").write.mode(
            "overwrite").saveAsTable("cbo_t_orders")
        load_table(spark, sf_dir, "customer").write.mode(
            "overwrite").saveAsTable("cbo_t_customer")
        before = spark.sql(q)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "SortMergeJoin" in before and \
            "BroadcastHashJoin" not in before
        spark.sql(
            "ANALYZE TABLE cbo_t_customer COMPUTE STATISTICS "
            "FOR ALL COLUMNS")
        after = spark.sql(q)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "BroadcastHashJoin" in after and \
            "SortMergeJoin" not in after
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        wh = spark.conf.get("spark.sql.warehouse.dir")
        for t in ("cbo_t_orders", "cbo_t_customer"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        if wh.startswith("file:"):
            shutil.rmtree(wh[5:], ignore_errors=True)


def test_boolean_search_broadcasts_terms(spark, sf_dir):
    """The query-term table is tiny and must broadcast; the k-way
    intersection is ONE aggregate on (query, doc), never chained
    semi-joins or a cartesian."""
    p = plan(spark, sf_dir, "boolean_search")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastHashJoin") >= 2
    # one exchange for postings-distinct, one for the hit aggregate
    assert p.count("Exchange hashpartitioning") <= 2


def test_chi2_margins_broadcast(spark, sf_dir):
    """Language and word margins join the (lang, word) cell relation
    as broadcasts; the only shuffles are the presence-distinct, the
    cell aggregate, the margin aggregates, and the per-lang top-k."""
    p = plan(spark, sf_dir, "chi2_discriminative_terms")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" in p  # the 1-row N(docs) attach


def test_ewma_is_single_exchange_no_join(spark, sf_dir):
    """The EWMA lag chain is one window over user_id — a single
    exchange, no self-join of events."""
    p = plan(spark, sf_dir, "ewma_user_activity")
    assert p.count("Exchange hashpartitioning") == 1
    assert "Join" not in p


def test_mad_medians_broadcast_back(spark, sf_dir):
    """Both rank-selected median relations (5 rows each) must
    broadcast back onto events — never shuffle the fact side for
    them."""
    p = plan(spark, sf_dir, "mad_outlier_events")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastHashJoin") >= 2


def test_assoc_rules_margins_broadcast(spark, sf_dir):
    """The per-type margin relation broadcasts; the only non-broadcast
    join is the user_id self-join of the distinct (user, type)
    relation."""
    p = plan(spark, sf_dir, "assoc_rules_events")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastHashJoin") >= 2


def test_user_growth_day_level_window(spark, sf_dir):
    """The running total must run over the DAY-level relation; the
    new-users side joins it without a cartesian."""
    p = plan(spark, sf_dir, "user_growth_curve")
    assert "CartesianProduct" not in p
    assert "Join" in p


def test_tokenizer_fertility_zero_shuffle_scan(spark, sf_dir):
    """Pure scan -> expression -> combinable agg: exactly one exchange
    (the per-lang aggregate), regexp stays JVM-side (no Python
    eval)."""
    p = plan(spark, sf_dir, "tokenizer_fertility")
    assert p.count("Exchange hashpartitioning") == 1
    assert "EvalPython" not in p


def test_clustering_coeff_no_cartesian(spark, sf_dir):
    """Triangle enumeration stays an equi-join chain on oriented
    edges — never a cartesian."""
    p = plan(spark, sf_dir, "clustering_coefficient")
    assert "CartesianProduct" not in p


def test_graph_edge_relations_materialized_once(spark, sf_dir):
    """Regression pin for the session-5 lineage cuts: the wedge-join
    consumers must reference a MATERIALIZED edge relation, not replay
    the scan→distinct→band→pair-join pipeline per leg.  Pre-cut,
    triangle_count executed 33 exchanges and clustering_coefficient
    41; post-cut the visible plans shuffle only the (vocab-bounded)
    edge/degree relations.  A reappearing parquet scan in these plans
    means a cut was dropped."""
    for name, budget in (("triangle_count", 8),
                         ("clustering_coefficient", 10),
                         ("k_core_words", 6)):
        p = plan(spark, sf_dir, name)
        assert p.count("Exchange hashpartitioning") <= budget, name
        assert "FileScan parquet" not in p, name  # upstream is cut
    # same pattern: the capped-posting / banded-tf relations feed
    # 3-4 consumers each and must be cut once (7→3 and 12→4
    # exchanges when added)
    for name, budget in (("containment_dedup", 5),
                         ("related_docs_topk", 6)):
        p = plan(spark, sf_dir, name)
        assert p.count("Exchange hashpartitioning") <= budget, name


def test_ann_reports_materialize_bruteforce_once(spark, sf_dir):
    """The exact brute-force baseline feeds both the hits join and
    the query grid — it must appear as a materialized scan, never as
    two replayed embeddings scans."""
    # remaining parquet scans are the method subplans' own embeddings
    # reads (each method scans corpus + query side: 4 methods → 8,
    # truncated-MRL ranking → 2); the bf replay would add two more
    for name, budget in (("ann_recall_report", 8),
                         ("matryoshka_recall", 2)):
        p = plan(spark, sf_dir, name)
        n_scans = p.count("FileScan parquet")
        assert n_scans <= budget, f"{name}: {n_scans} scans"


def test_matryoshka_recall_broadcast_queries_no_shuffled_cross(spark, sf_dir):
    """Both rankings pair candidates with the 10-row broadcast query
    set — broadcast nested loop is legal, a shuffled cartesian is
    not."""
    p = plan(spark, sf_dir, "matryoshka_recall")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p


def test_winsorized_bounds_broadcast(spark, sf_dir):
    """The rank-selected p5/p95 bound relations broadcast back onto
    events."""
    p = plan(spark, sf_dir, "winsorized_stats")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastHashJoin") >= 2


def test_k_anonymity_two_aggregates_only(spark, sf_dir):
    """QI census is a combinable count + per-lang rollup: no joins at
    all, at most two exchanges."""
    p = plan(spark, sf_dir, "k_anonymity_audit")
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") <= 2


def test_cohort_ltv_sizes_broadcast(spark, sf_dir):
    """Cohort sizes broadcast onto the (cohort, offset) matrix; the
    running total runs over the matrix relation, not events."""
    p = plan(spark, sf_dir, "cohort_ltv_matrix")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_ab_test_two_aggregates_no_join(spark, sf_dir):
    """One per-user aggregate + one global conditional aggregate —
    no joins, bounded exchanges."""
    p = plan(spark, sf_dir, "ab_test_proportions")
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") <= 2


def test_postings_delta_single_profile(spark, sf_dir):
    """Same single-hash-exchange-family profile as the flagship: the
    lag window and the aggregate share the word partitioning."""
    p = plan(spark, sf_dir, "postings_delta_encode")
    assert "Join" not in p
    assert "CartesianProduct" not in p


def test_minhash_estimate_no_all_pairs(spark, sf_dir):
    """Candidates must come from the band-bucket equi-join — never a
    cartesian of documents."""
    p = plan(spark, sf_dir, "minhash_estimate_quality")
    assert "CartesianProduct" not in p


def test_ann_recall_report_grid_broadcast(spark, sf_dir):
    """The method x query grid pairs 10 queries with the 4-row method
    list — broadcast nested loop, never a shuffled cartesian."""
    p = plan(spark, sf_dir, "ann_recall_report")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p


def test_hapax_ttr_two_combinable_aggregates(spark, sf_dir):
    """(lang, word) count then per-lang rollup — no joins."""
    p = plan(spark, sf_dir, "hapax_ttr_per_lang")
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") <= 2


def test_burstiness_grid_join_broadcast(spark, sf_dir):
    """The dense hour x type grid joins the hourly counts without a
    shuffled cartesian; moments aggregate over the grid relation."""
    p = plan(spark, sf_dir, "burstiness_fano")
    assert "CartesianProduct" not in p


def test_point_in_time_join_is_window_not_range_join(spark, sf_dir):
    """The SCD2 lookup must plan as union + window (one user_id
    exchange), never as a join at all — the validity-interval range
    join is exactly what this shape avoids."""
    p = plan(spark, sf_dir, "point_in_time_tier_join")
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") == 1


def test_time_to_convert_scalar_medians_broadcast(spark, sf_dir):
    """The rank-selected median/p90 single-row relations attach via
    broadcast; no shuffled cartesian anywhere."""
    p = plan(spark, sf_dir, "time_to_convert")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p


def test_quantile_normalize_no_global_per_row_sort(spark, sf_dir):
    """The corpus-sized relation must NEVER be globally row-ranked
    (that funnels 100 TB through one task): the only single-partition
    window runs over the distinct-SCORE relation, the big window is
    partitioned by source, and the interval probe broadcasts."""
    p = plan(spark, sf_dir, "quantile_normalize_scores")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # interval probe + N attach
    assert "hashpartitioning(source" in p  # per-source rank window
    # single-partition exchanges only for the distinct-score window
    # and the 1-row global count — both value-domain/scalar sized
    assert p.count("Exchange SinglePartition") <= 2


def test_k_core_no_cartesian(spark, sf_dir):
    """Peeling is aggregates + equi-joins over a shrinking edge
    relation — never a cartesian."""
    p = plan(spark, sf_dir, "k_core_words")
    assert "CartesianProduct" not in p


def test_query_likelihood_grid_left_join_broadcast(spark, sf_dir):
    """The candidate x term grid attaches tf via joins whose build
    sides (terms, cf, totals) are broadcast — no shuffled cartesian,
    and the corpus-sized token relation is aggregated before any
    join."""
    p = plan(spark, sf_dir, "query_likelihood_dirichlet")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_rocchio_feedback_docs_broadcast_into_token_join(spark, sf_dir):
    """The R-doc pseudo-relevant set must broadcast into the token
    join (it is ROCCHIO_R x |queries| rows); no cartesian anywhere."""
    p = plan(spark, sf_dir, "rocchio_prf_expansion")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_pca_iteration_chain_is_cut(spark, sf_dir):
    """The Gram relation and every power-iteration iterate are
    lineage-truncated: the final plan must join only D- and D²-row
    cached relations — zero hash exchanges, no re-scan of the
    embeddings, no cartesian (the 1-row norm/eigenvalue attaches are
    the only single-partition exchanges)."""
    p = plan(spark, sf_dir, "pca_power_iteration")
    assert "FileScan parquet" not in p
    assert p.count("Exchange hashpartitioning") == 0
    assert "CartesianProduct" not in p
    assert p.count("Exchange SinglePartition") <= 3


def test_gopher_gate_zero_shuffle_scan(spark, sf_dir):
    """The rule battery is pure per-row expressions — the gate must
    run inside the scan's projection: no exchange, no join."""
    p = plan(spark, sf_dir, "gopher_quality_gate")
    assert "Exchange" not in p
    assert "Join" not in p


def test_bigram_lm_vocab_relations_broadcast(spark, sf_dir):
    """The (v,w)/prefix/unigram LM relations are vocab-bounded and
    must attach to the doc-bigram occurrences by broadcast — no
    shuffled join of two corpus-sized relations, no cartesian."""
    p = plan(spark, sf_dir, "bigram_logprob_interpolated")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_hybrid_search_fusion_joins_pool_sized_runs(spark, sf_dir):
    """Both runs are cut to per-query top-POOL before the fusion
    join; the dense run broadcasts the query embeddings (no shuffled
    cartesian of the embedding table with itself)."""
    p = plan(spark, sf_dir, "hybrid_search_rrf")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # broadcast query-set cross


def test_mmr_rerank_pool_relations_cut(spark, sf_dir):
    """The POOL/POOL²-sized pool and sims relations are lineage-cut,
    so the unrolled greedy steps must not re-scan the corpus: zero
    FileScans and no cartesian in the final plan."""
    p = plan(spark, sf_dir, "mmr_diversified_rerank")
    assert "FileScan parquet" not in p
    assert "CartesianProduct" not in p


def test_label_knn_pairs_are_cell_equi_join(spark, sf_dir):
    """The k-NN candidate relation must come from the cell equi-join
    (the IVF discipline) — never a cartesian of the embedding table
    with itself."""
    p = plan(spark, sf_dir, "label_knn_agreement")
    assert "CartesianProduct" not in p


def test_grouped_topk_uses_window_group_limit(spark, sf_dir):
    """Spark 3.5+'s WindowGroupLimit pushes the rank<=k predicate
    below the full window sort: each partition keeps a bounded top-k
    heap instead of ranking every row — the optimization that makes
    per-key top-k viable at 100 TB. Pin that it actually fires for
    the grouped-top-k family."""
    from mapreduce_in_pthreads_spark.plans.registry import REGISTRY

    df = REGISTRY["top_orders_per_customer"].fn(spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in p
