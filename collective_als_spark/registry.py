"""Query registry: every operator exposed to the driver's correctness
gate lives here as a (spark_fn, oracle_sql) pair.

``spark_fn(spark, sf_dir) -> DataFrame`` builds the DataFrame plan;
``oracle`` is equivalent DuckDB SQL over the pre-registered views.
Column names/aliases must match exactly (the driver sorts columns by
name and hashes values). Non-SQL-expressible entries set oracle=None
and get a rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Entry:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None


_REGISTRY: dict[str, Entry] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        _REGISTRY[name] = Entry(fn, oracle)
        return fn

    return deco


def _ensure_loaded() -> None:
    # import for side effect: modules register their queries
    from collective_als_spark import queries as _q  # noqa: F401


# Driver-visibility ordering. The driver checks exactly the first 50
# registered queries, so registration order decides which operators get
# a CORRECTNESS row. One representative survives per SURVEY §2 operator
# and per operator family; the SURVEY2_WITNESSES map below and
# tests/test_registration.py enforce that every §2 operator keeps >=1
# witness inside the cap. Names below the cap line stay checked by
# pytest (tests/test_oracle_parity.py and the plan/rows-only sweeps).
# Unlisted queries append in registration order.
DRIVER_CAP = 50

_PRIORITY: list[str] = [
    # -- multimodal north star
    "token_count_by_source", "pipeline_clean_corpus", "multimodal_features",
    "embedding_neardup_pairs", "dedup_clusters", "chrono_split_sizes",
    "asof_join_purchase_click", "explode_dictionary",
    # -- SURVEY §2 representatives
    "rank_range_filter", "orderby_limit", "rmse_mae",
    "checked_cast_projection", "row_filter_clean", "affine_recode",
    "union_distinct_ids", "left_join_enrich",
    "pair_inner_join", "full_outer_merge", "gramian_yty", "sql_passthrough",
    "pricing_summary", "ranking_metrics_at_k",
    "cmf_fit_predict", "cmf_fit_3entity",
    # the implicit-feedback fit (L5/Q6): the reference's most
    # idiosyncratic semantics
    "cmf_fit_implicit",
    # fit -> chronological holdout -> threshold booleans against a
    # constant oracle: the one driver row that asserts fit quality
    "cmf_quality_gate",
    # -- LLM-pipeline north star; lake_predicate_dml puts the
    # mixed-precedence DML predicate under the oracle
    "exact_dedup", "lake_predicate_dml", "lsh_candidate_pairs",
    "lake_mor_upsert_nullstats",
    "lake_snapshot_lifecycle", "ann_topk_cosine",
    "text_quality_metrics", "lake_sql_dml", "snapshot_batch_read",
    # -- one representative per family
    "star_join_revenue", "topk_per_group",
    # cross-batch sequence tracking: the strictly harder CDC apply shape
    "lake_tracked_apply",
    "lake_column_mapping",
    "lake_merge_on_predicates",
    "ann_filtered_topk",
    "lake_scd2_history",
    "benchmark_decontamination",
    "lake_identity_columns", "lake_merge_matrix",
    "lake_type_widening",
    "lake_cdf_stream", "dq_expectations_suite",
    "multimodal_ppm_decode",
    "lake_incremental_view",
    # ---------------- below the driver cap line (50) ----------------
    # family twins of in-cap witnesses
    "item_item_cosine", "gopher_quality_signals",
    "minhash_signature", "lake_apply_changes", "lake_update_quality",
    "doc_fingerprint",
    "prefix_jaccard_pairs",
    "lang_id_heuristic", "sessionization",
    "ngram_jaccard_pairs",
    "cmf_recommend_topk",
    "psi_drift",
    # §2 duplicates: their operators keep an in-cap witness per
    # SURVEY2_WITNESSES
    "chrono_rank", "epoch_millis", "als_regression_eval",
    "movielens_parity_metrics",
    # the remaining extension queries
    "trend_regression", "intersect_except", "exact_percentiles",
    "tumbling_window_agg",
    "document_chunking", "quality_quantile_filter", "repetition_metrics",
    "deterministic_sample", "sequence_packing", "simhash_neardup_pairs",
    "contamination_overlap", "embedding_quantize", "bm25_scores",
    "bpe_token_count", "source_mixture_sample", "multimodal_frame_sample",
    "incremental_lsh_pairs", "hybrid_retrieval",
    "stratified_sample_exact", "kfold_assign", "negative_sampling",
    "scd2_intervals", "hourly_resample_gapfill", "pipeline_training_prep",
    "zorder_keys", "vocab_top_words", "word_bigram_counts",
    "vocab_top_p_mass", "conversion_funnel", "salted_join_revenue",
    "pmi_bigrams",
    "event_transition_matrix", "numeric_mask_stats", "pagerank_trade_graph",
    "fuzzy_name_linkage", "embedding_covariance",
    "chi_square_independence", "dq_audit", "triangle_count",
    "zscore_outliers", "join_key_skew_profile",
    "welch_ttest", "session_paths", "sliding_window_agg",
    "rrf_fusion", "token_budget_allocation",
    "cube_agg",
    "distinct_count_stats",
    "approx_distinct_quantile", "ann_topk_lsh", "ann_topk_ivf",
    "streaming_tumbling_agg", "streaming_stateful_totals",
    "streaming_static_enrich", "streaming_session_window", "streaming_dedup",
    "streaming_stream_join", "streaming_upsert_totals",
    "multimodal_audio_energy",
]

# SURVEY §2 operator -> registered queries that witness it. Used by
# tests/test_registration.py to assert every §2 operator keeps at least
# one witness inside the first DRIVER_CAP slots, no matter how the
# priority list is reshuffled. Operators SURVEY §2 marks do-not-port
# (J2-J4, A1-A4, O2-O4, M7) are omitted: the DataFrame rebuild subsumes
# them by design.
SURVEY2_WITNESSES: dict[str, list[str]] = {
    "S3_table_scan": ["pricing_summary"],
    "S4_sql_passthrough": ["sql_passthrough"],
    "P1_P2_checked_cast": ["checked_cast_projection"],
    "P4_row_filter": ["row_filter_clean"],
    "P5_nan_pair_filter": ["rmse_mae"],
    "P6_rank_range_filter": ["rank_range_filter"],
    "P7_map_recode": ["affine_recode"],
    "J1_prediction_join": ["left_join_enrich", "cmf_fit_predict"],
    "J5_full_outer_merge": ["full_outer_merge"],
    "J6_pair_join": ["pair_inner_join"],
    "A6_gramian_yty": ["gramian_yty"],
    "A7_distinct_universe": ["union_distinct_ids"],
    "A8_F1_explode_dictionary": ["explode_dictionary"],
    "A10_rmse_mae": ["rmse_mae"],
    "A11_ranking_metrics": ["ranking_metrics_at_k"],
    "W1_split_chronologically": ["chrono_split_sizes"],
    "W2_global_rank": ["rank_range_filter", "chrono_split_sizes", "chrono_rank"],
    "O1_sort_by_key": ["orderby_limit"],
    "U1_union": ["union_distinct_ids"],
    "F2_affine_recode": ["affine_recode"],
    "F3_date_to_millis": ["affine_recode", "epoch_millis"],
    "F4_dot_product": ["ann_topk_cosine"],
    "M2_M5_fit_predict": ["cmf_fit_predict"],
    "M3_fit_relations": ["cmf_fit_3entity"],
    "L5_implicit_confidence": ["cmf_fit_implicit"],
}


def _ordered_names() -> list[str]:
    listed = [n for n in _PRIORITY if n in _REGISTRY]
    rest = [n for n in _REGISTRY if n not in set(_PRIORITY)]
    return listed + rest


def spark_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _ensure_loaded()
    return {name: _REGISTRY[name].fn for name in _ordered_names()}


def oracle_queries() -> dict[str, str]:
    _ensure_loaded()
    return {
        name: _REGISTRY[name].oracle
        for name in _ordered_names()
        if _REGISTRY[name].oracle is not None
    }
