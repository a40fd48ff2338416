"""Named query registry: the driver-facing judged surface.

Each entry pairs a Spark DataFrame builder with an equivalent ANSI-SQL
oracle string for DuckDB (run by the driver at sf0.01 and hash-compared,
see ``/root/repo/__spark_entry__.py``).  Conventions that make the
hash-compare stable:

  * every computed column is aliased identically on both sides;
  * integer aggregates are cast to BIGINT on the DuckDB side (DuckDB sums
    integers into HUGEINT, Spark into LongType);
  * doubles are rounded to a fixed number of decimals on both sides;
  * timestamps are formatted to 'yyyy-MM-dd HH:mm:ss' strings on both sides.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Query:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # None => non-SQL-expressible; driver does rows-only
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: Optional[str], doc: Optional[str] = None):
    """Register ``fn`` under ``name``; ``doc`` defaults to its docstring."""
    def deco(fn):
        REGISTRY[name] = Query(name=name, spark_fn=fn, oracle=oracle,
                               doc=(fn.__doc__ or "") if doc is None else doc)
        return fn

    return deco


# The oracle side of the engine tokenizer: DuckDB's RE2 ``[^\pL]+`` split
# matches Spark's Java-regex ``[^\p{L}]+`` exactly (both drop the empty
# strings), raw and lowercased.
_DUCK_TOKS = "list_filter(regexp_split_to_array(text, '[^\\pL]+'), x -> x <> '')"
_DUCK_TOKS_LOWER = (
    "list_filter(regexp_split_to_array(lower(text), '[^\\pL]+'), x -> x <> '')"
)


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read a test table.  The driver's ``events.parquet`` carries
    nanosecond-precision timestamps, which Spark's parquet reader rejects;
    read them as raw int64 nanos and truncate to microseconds (exactly what
    DuckDB's reader does, so the oracle agrees).

    ``nanosAsLong`` is set before ANY table is read, not only events, so
    it is constant over the session: no other sf table has a nanosecond
    column, and the schema memo below is keyed by the flag, so a flag
    that flipped at the first events load would miss every table read
    before it once more.  The read is ``sources.readers.read_parquet``:
    each table's schema is inferred once per session and file state, and
    a later load launches no Spark job."""
    from nonconsumptive_spark.sources.readers import NANOS_AS_LONG, read_parquet

    spark.conf.set(NANOS_AS_LONG, "true")
    df = read_parquet(spark, f"{sf_dir}/{table}.parquet")
    if table == "events":
        from pyspark.sql import functions as F

        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        # NO fan-out here: events queries are window/agg-shaped, so their
        # FIRST operator already shuffles to full parallelism — an input
        # repartition only adds an exchange (A/B at sf0.1 warm:
        # events_session 0.57 -> 1.0s, decayed_engagement 0.23 -> 0.66s;
        # behavior_pairs, the one CPU-heavy scan, was a wash).
        return df
    if table in ("documents", "embeddings"):
        df = _fan_out(spark, df)
    return df


def _fan_out(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Guarded split fan-out for tables feeding CPU-heavy per-row
    operators (tokenize, md5 minhash, cosine, per-user sequence sorts).
    The test files are a single row group, i.e. a single input split —
    without a fan-out the whole pipeline runs on one core.  At production
    scale inputs arrive as many splits and this is a no-op (guarded on
    the actual split count)."""
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min(target, 8):
        df = df.repartition(target)
    return df


# Registry order: the correctness gate (CORRECTNESS_r*.json) checks the
# first 50 entries each round.
# Generated by `python tools/stale_report.py --write`; do not edit by hand.
PRIORITY: tuple[str, ...] = (
    # BEGIN stale_report --write
    "q_click_attribution_outer",
    "q_cliffs_delta",
    "q_cochran_q",
    "q_dunn_posthoc",
    "q_wilcoxon_signed_rank",
    "q_simhash_near_pairs",
    "q_decontamination",
    "q_dedup_clusters",
    "q_fingerprint",
    "q_hash_sample",
    "q_kmeans_assign",
    "q_lang_id",
    "q_langid_vs_labels",
    "q_quadgram_counts",
    "q_quality_score",
    "q_repetition_scores",
    "q_semdedup_prune",
    "q_srp_stats",
    "q_tfidf_top_terms",
    "q_token_count_ws",
    "q_unigram_logprob",
    "q_bigram_counts",
    "q_bigram_logprob",
    "q_bigram_pmi",
    "q_canonical_docs",
    "q_cap_per_source",
    "q_chunked_wordcounts",
    "q_corpus_profile",
    "q_count_sum_preservation",
    "q_countmin_estimate",
    "q_dataset_split",
    "q_dedup_exact",
    "q_dedup_stats",
    "q_doc_token_counts",
    "q_document_lengths",
    "q_encoded_unigrams",
    "q_global_wordcount",
    "q_heaps_fit",
    "q_lsh_candidates",
    "q_minhash_dedup_pairs",
    "q_minhash_signatures",
    "q_mmr_select",
    "q_ngram_jaccard_pairs",
    "q_quality_filter",
    "q_redact_pii",
    "q_remove_repeated_spans",
    "q_sentence_stats",
    "q_simhash",
    "q_strip_markup",
    "q_temperature_mix",
    "q_training_order",
    "q_trigram_counts",
    "q_uniform_sample_k",
    "q_vocabulary",
    "q_winnow_fingerprints",
    "q_winnow_overlap_pairs",
    "q_zipf_slope",
    "q_backoff_cross_corpus",
    "q_bloom_novelty",
    "q_bootstrap_mean_ci",
    "q_burrows_delta",
    "q_char_diversity",
    "q_containment_pairs",
    "q_dedup_incremental",
    "q_distinctive_terms",
    "q_dsir_weights",
    "q_edit_distance_pairs",
    "q_hll_distinct",
    "q_js_divergence",
    "q_lsh_dedup_recall",
    "q_min_span_proximity",
    "q_nb_lang_confusion",
    "q_perplexity_buckets",
    "q_phrase_search",
    "q_phrase_search_indexed",
    "q_ppjoin_pairs",
    "q_psi_drift",
    "q_rake_keywords",
    "q_snm_pairs",
    "q_stratified_sample",
    "q_stupid_backoff",
    "q_tfidf_cosine_pairs",
    "q_encoded_quadgrams",
    "q_hard_negatives",
    "q_hll_by_group",
    "q_k_anonymity",
    "q_kn_bigram_logprob",
    "q_min_span_indexed",
    "q_priority_sample_group",
    "q_query_likelihood",
    "q_rbo_rankers",
    "q_rrf_fusion",
    "q_source_overlap_matrix",
    "q_token_entropy",
    "q1_pricing_summary",
    "q_anti_join",
    "q_cast_ladder_roundtrip",
    "q_click_attribution",
    "q_correlated_subquery",
    "q_distinct_cardinality",
    "q_dup_id_guard",
    "q_events_session",
    "q_events_sliding",
    "q_events_tumbling",
    "q_events_user_running",
    "q_except_intersect",
    "q_filter_projection",
    "q_grouping_sets",
    "q_id_resolution",
    "q_markov_transitions",
    "q_multikey_sort",
    "q_multimodal_features",
    "q_orders_by_month",
    "q_pivot_event_values",
    "q_point_lookup",
    "q_posexplode_provenance",
    "q_quantiles",
    "q_regex_extract_cast",
    "q_regex_vote",
    "q_rollup_revenue",
    "q_salted_join_revenue",
    "q_semi_join",
    "q_shipping_priority",
    "q_star_join_revenue",
    "q_struct_roundtrip",
    "q_topk_categories",
    "q_topk_customers",
    "q_union_shards",
    "q_unpivot_measures",
    "q_window_frames",
    "q_window_rank",
    "q_approx_distinct",
    "q_arrow_batch_stats",
    "q_asof_join",
    "q_bpe_merges",
    "q_corpus_diff",
    "q_cosine_near_pairs",
    "q_dict_encode",
    "q_embedding_norms",
    "q_funnel_stages",
    "q_knn_cosine_bruteforce",
    "q_knn_quantized",
    "q_nfc_normalize",
    "q_norms_by_label",
    "q_pack_sequences",
    "q_quantize_int8",
    "q_renest_roundtrip",
    "q_srp_hamming",
    "q_token_pagerank",
    "q_tokenize_fallback",
    "q_user_value_trend",
    "q_bm25_topk",
    "q_bpe_encode",
    "q_cube_revenue",
    "q_curation_pipeline",
    "q_frame_sample",
    "q_image_resize",
    "q_packing_stats",
    "q_remove_duplicated_chunks",
    "q_retention_cohorts",
    "q_sessionize_lag",
    "q_token_triangles",
    "q_bfs_distances",
    "q_cdc_duplicate_chunks",
    "q_cooccurrence_window",
    "q_cumulative_users",
    "q_degree_assortativity",
    "q_event_transitions",
    "q_event_type_lift",
    "q_gini_tokens",
    "q_knn_pq_adc",
    "q_kwic",
    "q_label_centroid_distances",
    "q_length_quantiles_by_lang",
    "q_logreg_train",
    "q_negative_sampling",
    "q_ngram_novelty",
    "q_range_join_events",
    "q_seasonal_residuals",
    "q_skyline_docs",
    "q_skyline_kd",
    "q_value_histogram",
    "q_vocab_growth_curve",
    "q_weighted_sample",
    "q_winsorize",
    "q_zorder_curve",
    "q_zscore_outliers",
    "q_abtt_residuals",
    "q_ams_f2",
    "q_approx_quantiles",
    "q_blocklist_match",
    "q_bpe_fertility",
    "q_calibration_bins",
    "q_cusum_daily",
    "q_daily_autocorr",
    "q_decayed_engagement",
    "q_embedding_decontamination",
    "q_embedding_dim_corr",
    "q_events_json",
    "q_hapax_stats",
    "q_hits_scores",
    "q_jaro_winkler_links",
    "q_kaplan_meier",
    "q_knn_cosine_ivf",
    "q_knn_cosine_lsh",
    "q_ks_length_sources",
    "q_ktruss",
    "q_label_propagation",
    "q_lang_source_chi2",
    "q_lang_source_mi",
    "q_logdice_collocations",
    "q_mad_outliers",
    "q_mann_whitney_sources",
    "q_markov_stationary",
    "q_mrr_map_eval",
    "q_ndcg_eval",
    "q_rbp_eval",
    "q_repeated_regions",
    "q_silhouette",
    "q_sliding_chunks",
    "q_spearman_len_tokens",
    "q_top_component",
    "q_user_behavior_pairs",
    "q_welch_ttest_sources",
    "q_adamic_adar",
    "q_auc_eval",
    "q_benford_deviation",
    "q_binseg_daily",
    "q_bitext_margin",
    "q_bleu_pairs",
    "q_chao1_richness",
    "q_cluster_capped_sample",
    "q_clustering_coefficient",
    "q_code_score",
    "q_cohens_kappa",
    "q_conditional_entropy",
    "q_cusum_by_type",
    "q_dedup_rate_by_source",
    "q_event_sequences",
    "q_ewma_anomalies",
    "q_flesch_reading",
    "q_fs_link_scores",
    "q_good_turing",
    "q_jackknife_ratio",
    "q_kaplan_meier_cohorts",
    "q_kcenter_select",
    "q_kcore",
    "q_kendall_tau_b",
    "q_kruskal_wallis",
    "q_l_diversity",
    "q_leakage_safe_split",
    "q_levene_bf",
    "q_lexical_cohesion",
    "q_lm_hit_at_k",
    "q_mann_kendall",
    "q_mixture_budget",
    "q_modularity",
    "q_neyman_allocation",
    "q_normalize_unicode",
    "q_percentile_filter",
    "q_postings_size_stats",
    "q_ppr_tokens",
    "q_quality_retention",
    "q_rouge2_pairs",
    "q_runs_test",
    "q_shuffle_quality",
    "q_source_kl",
    "q_span_corruption",
    "q_t_closeness",
    "q_theil_index",
    "q_token_burstiness",
    "q_truncation_loss",
    "q_wilson_ci",
    "q_yules_k",
    "q_anova_oneway",
    "q_audio_window_energy",
    "q_char_entropy",
    "q_cluster_representatives",
    "q_cohens_d_sources",
    "q_cohort_value",
    "q_common_prefix",
    "q_cooks_distance",
    "q_cramers_v",
    "q_daily_bands",
    "q_daily_mix_entropy",
    "q_embedding_isotropy",
    "q_event_entropy_rate",
    "q_event_type_overlap",
    "q_fk_integrity",
    "q_g2_collocations",
    "q_growth_accounting",
    "q_grubbs_outlier",
    "q_gunning_fog",
    "q_hhi_concentration",
    "q_higher_moments",
    "q_hill_tail",
    "q_holt_linear_daily",
    "q_interarrival_stats",
    "q_jaccard_histogram",
    "q_keyness_terms",
    "q_kmeans_elbow",
    "q_log_odds_dirichlet",
    "q_lorenz_curve",
    "q_mantel_haenszel",
    "q_mattr",
    "q_mcnemar_langid",
    "q_nn_label_agreement",
    "q_oov_by_source",
    "q_permutation_test",
    "q_return_time_hist",
    "q_rfm_segments",
    "q_rm3_expansion",
    "q_sax_daily",
    "q_seasonality_strength",
    "q_seq_pattern_pairs",
    "q_skew_report",
    "q_split_balance",
    "q_stickiness",
    "q_term_position_bias",
    "q_type_user_hhi",
    "q_vocab_coverage",
    "q_word_length_profile",
    "q_xcorr_types",
    "q_zeta_markers",
    "q_abc_parts",
    "q_ann_recall_curve",
    "q_ansari_bradley",
    "q_avg_precision",
    "q_basket_rules",
    "q_bh_fdr",
    "q_bradley_terry",
    "q_brier_decomposition",
    "q_bucketed_join_revenue",
    "q_capture_recapture",
    "q_conformal_interval",
    "q_covariate_balance",
    "q_cox_ph",
    "q_cuped_abtest",
    "q_dedup_threshold_curve",
    "q_did_readout",
    "q_eb_shrinkage",
    "q_err_eval",
    "q_friedman_daily",
    "q_gain_chart",
    "q_gries_dp",
    "q_harmonic_centrality",
    "q_isotonic_bins",
    "q_jonckheere_trend",
    "q_juilland_dispersion",
    "q_keyphrase_cvalue",
    "q_langid_prf",
    "q_link_prediction",
    "q_ljung_box",
    "q_lm_interp_tune",
    "q_lm_jm_topk",
    "q_logrank_test",
    "q_markov_absorption",
    "q_mixture_materialize",
    "q_mood_median",
    "q_nearest_centroid_eval",
    "q_nelson_aalen",
    "q_odds_ratio_ci",
    "q_page_trend",
    "q_pinball_quantile",
    "q_price_elasticity",
    "q_qini_curve",
    "q_readability_panel",
    "q_shapley_attribution",
    "q_simpson_flip",
    "q_sprt_daily",
    "q_theil_sen_slope",
    "q_time_to_convert",
    "q_von_neumann_ratio",
    "q_weibull_fit",
    # END stale_report --write
)


def all_queries() -> dict[str, Query]:
    # Import side-effect modules exactly once.
    from nonconsumptive_spark.queries import (  # noqa: F401
        clustering,
        dedup,
        evaluation,
        events,
        graph,
        hybrid,
        multimodal,
        relational,
        retrieval,
        scalar,
        similarity,
        stats,
        text,
        textstats,
    )

    return {name: REGISTRY[name] for name in PRIORITY}


TABLES: tuple[str, ...] = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def register_views(spark: SparkSession, sf_dir: str,
                   tables: tuple[str, ...] = TABLES) -> None:
    """Register every test table as a temp view (through ``load``, so the
    events nano-timestamp fix and the split fan-out apply) — the raw
    ``spark.sql`` entry point for ad-hoc queries over the same data the
    registry runs on."""
    from pathlib import Path

    for t in tables:
        if Path(f"{sf_dir}/{t}.parquet").exists():
            load(spark, sf_dir, t).createOrReplaceTempView(t)
