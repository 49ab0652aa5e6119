"""The planner owns join strategy; explicit hints need a listed bound.

The session's auto-broadcast threshold plus AQE decide which join side
to broadcast (``session.py``). An explicit ``F.broadcast(...)`` or
``.hint(...)`` in ``operators/`` is allowed only where the planner
cannot see a relation's bound: its row count is fixed by a small key
set or a per-query top-k, but its static size estimate grows with the
corpus. Each such call is listed in ``ALLOWED`` by (module, function,
hinted relation) with the bound in words. An unlisted call fails, and
so does a listed one that no longer matches a call, so the list can
only shrink.
"""

from __future__ import annotations

import ast
from pathlib import Path

OPERATORS = (Path(__file__).resolve().parent.parent
             / "mapreduce_in_pthreads_spark" / "operators")

PER_EVENT_TYPE = "one row per event_type (5 types)"
PER_SOURCE = "one row per source/lang cell of the catalog"
QUERY_VECTORS = "N_QUERIES query vectors"
PER_LENGTH = ("one row per distinct document length: bounded by the "
              "longest document, not the document count")

ALLOWED: dict[tuple[str, str, str], str] = {
    ("advanced", "conformal_interval_coverage", "stats"): PER_EVENT_TYPE,
    ("advanced", "conformal_interval_coverage", "tau"): PER_EVENT_TYPE,
    ("advanced", "jackknife_ratio_variance", "base"):
        "one row: a grouping on global scalars",
    ("curation", "dsir_importance_weights", "ratios"):
        "one row per hashed feature bucket (DSIR_K)",
    ("curation", "winsorized_robust_stats", "stats"): PER_SOURCE,
    ("curation", "chi2_independence_lang_source", "cols_"): PER_SOURCE,
    ("curation", "direct_standardization_rates", "langs"): PER_SOURCE,
    ("curation", "t_closeness_audit", "gb"):
        "one row per sensitive-attribute bucket",
    ("curation", "cramers_v_matrix", "cols_"): PER_SOURCE,
    ("curation", "quantile_normalize_scores", "intervals"): PER_LENGTH,
    ("curation", "ks_drift_by_source", "support"): PER_LENGTH,
    ("curation", "ks_drift_by_source", "glob"): PER_LENGTH,
    ("dedup", "duplicate_spans", "b"):
        "shuffle_hash, not a broadcast: keeps the corpus-sized gram "
        "relation OFF broadcast so exchange reuse builds it once",
    ("dedup", "cross_source_duplication", "srcs"): PER_SOURCE,
    ("multimodal", "audio_fingerprint_retrieval", "queries"):
        "fingerprints of the N_AUDIO_QUERIES query clips",
    ("quantizer", "_ivf_ranked", "q"): QUERY_VECTORS,
    ("quantizer", "ann_ivf_multiprobe_topk", "q"):
        "N_QUERIES query vectors x NPROBE probe cells",
    ("quantizer", "pca_power_iteration", "v"):
        "one row per embedding dimension (PCA_D)",
    ("quantizer", "embedding_centroid_drift", "glob"):
        "one row per embedding dimension",
    ("quantizer", "embedding_centroid_drift", "nl"): "one row per label",
    ("similarity", "ann_topk_bruteforce", "q"): QUERY_VECTORS,
    ("similarity", "ann_ivf_topk", "q"): QUERY_VECTORS,
    ("similarity", "ann_lsh_topk", "q"): QUERY_VECTORS,
    ("similarity", "matryoshka_recall", "q16"): QUERY_VECTORS,
    ("similarity", "jl_projection_recall", "qp"): QUERY_VECTORS,
    ("text_analysis", "_bm25_doc_scores", "df_"):
        "one row per BM25 query term",
    ("text_analysis", "wand_upper_bound_pruning", "theta"):
        "one row per BM25 query",
    ("text_analysis", "wand_upper_bound_pruning", "ub"):
        "one row per BM25 query term",
    ("text_analysis", "hybrid_search_rrf", "q"): "the BM25 query vectors",
    ("text_analysis", "mmr_diversified_rerank", "pool"):
        "MMR_POOL candidates per query",
    ("text_analysis", "mmr_diversified_rerank", "b"):
        "MMR_POOL candidates per query",
    ("text_analysis", "mmr_diversified_rerank", "s1"):
        "one selected doc per query",
    ("text_analysis", "mmr_diversified_rerank", "s2"):
        "one selected doc per query",
    ("text_analysis", "mmr_diversified_rerank", "sims"):
        "MMR_POOL^2 pairs per query",
    ("text_analysis", "_ql_per_doc", "cf"): "one row per BM25 query term",
    ("text_analysis", "rocchio_prf_expansion", "rel"):
        "ROCCHIO_R feedback docs per query",
    ("text_analysis", "count_min_words", "sketch"):
        "CMS_DEPTH x CMS_WIDTH sketch cells",
    ("text_analysis", "chi2_discriminative_terms", "lang_tot"):
        "one row per lang",
    ("text_analysis", "related_docs_topk", "q_norm"):
        "the RELATED_N_QUERY_DOCS query docs",
    ("text_analysis", "related_docs_topk", "q_tf"):
        "terms of the RELATED_N_QUERY_DOCS query docs",
    ("timeseries", "approx_quantiles_events", "sk"): PER_EVENT_TYPE,
    ("timeseries", "daily_profile_similarity", "q_norm"):
        "the SIM_N_QUERY_USERS query users",
    ("timeseries", "daily_profile_similarity", "q_prof"):
        "SIM_N_QUERY_USERS query users x 24 hours",
    ("timeseries", "mad_outlier_events", "med"): PER_EVENT_TYPE,
    ("timeseries", "mad_outlier_events", "mad"): PER_EVENT_TYPE,
    ("timeseries", "assoc_rules_events", "per_type"): PER_EVENT_TYPE,
    ("timeseries", "winsorized_stats", "lo"): PER_EVENT_TYPE,
    ("timeseries", "winsorized_stats", "hi"): PER_EVENT_TYPE,
    ("timeseries", "cohort_ltv_matrix", "sizes"):
        "one row per calendar cohort week",
    ("timeseries", "markov_heldout_accuracy", "rules"):
        "one rule per event_type",
    ("timeseries", "markov_temporal_holdout", "rules"):
        "one rule per event_type",
    ("timeseries", "acf_correlogram", "mom"): PER_EVENT_TYPE,
    ("timeseries", "cusum_finish", "stats"): PER_EVENT_TYPE,
}


def _root_name(node: ast.AST) -> str:
    """The variable a hinted expression starts from (``sims`` for
    ``sims.select(...)``)."""
    while isinstance(node, (ast.Call, ast.Attribute)):
        node = node.func if isinstance(node, ast.Call) else node.value
    return node.id if isinstance(node, ast.Name) else ast.unparse(node)


def hint_sites(source: str, module: str) -> list[tuple[str, str, str]]:
    """(module, top-level function, hinted relation) per ``F.broadcast``
    or ``.hint`` call in ``source``."""
    sites = []
    for top in ast.parse(source).body:
        for node in ast.walk(top):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)):
                continue
            f = node.func
            if (f.attr == "broadcast" and isinstance(f.value, ast.Name)
                    and f.value.id == "F" and node.args):
                target = node.args[0]
            elif f.attr == "hint":
                target = f.value
            else:
                continue
            sites.append((module, getattr(top, "name", "<module>"),
                          _root_name(target)))
    return sites


def unlisted(sites) -> list[tuple[str, str, str]]:
    return sorted({s for s in sites if s not in ALLOWED})


def _fleet_sites() -> list[tuple[str, str, str]]:
    return [s for p in sorted(OPERATORS.glob("*.py"))
            for s in hint_sites(p.read_text(), p.stem)]


def test_every_hint_is_allowlisted():
    bad = unlisted(_fleet_sites())
    assert not bad, (
        f"hints outside the allowlist: {bad}. Let the planner decide; "
        "hint only a relation whose bound it cannot see, and list it "
        "in ALLOWED with that bound")


def test_allowlist_has_no_stale_entries():
    stale = sorted(set(ALLOWED) - set(_fleet_sites()))
    assert not stale, f"allowlist entries matching no call: {stale}"


def test_guard_flags_an_unlisted_hint():
    src = ("def q(spark, sf_dir):\n"
           "    vocab = words.groupBy('word').count()\n"
           "    return tok.join(F.broadcast(vocab), 'word')\n")
    assert unlisted(hint_sites(src, "text_analysis")) == [
        ("text_analysis", "q", "vocab")]
    src = "def q(a, b):\n    return a.join(b.hint('broadcast'), 'k')\n"
    assert unlisted(hint_sites(src, "joins")) == [("joins", "q", "b")]
