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


def register(name: str, oracle: Optional[str], doc: str = ""):
    def deco(fn):
        REGISTRY[name] = Query(name=name, spark_fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


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


# The driver verifies the FIRST 50 registry entries per round
# (CORRECTNESS_r{N}.json).  Rotation policy (mechanical via
# ``python tools/stale_report.py`` — run it at round start): (1) queries
# whose implementation or oracle changed since the last driver gate,
# (2) queries never driver-verified, (3) new queries added this round,
# then (4) the longest-unverified tail (oldest last-green round first)
# fills the remaining slots.  Goal: no green row older than two rounds
# for any code-touched file.
#
# ROUND-8 WINDOW (the first 50 below): the FINAL never-driver-checked
# burn-down (VERDICT r7 item 1).  After r7 the cumulative external
# coverage was 319/366; the remaining 47 never-checked entries lead
# (the r7 judge pre-verified all 47 green, dtype-strict, at sf0.01),
# followed by 3 of the 4 r8-promoted entries (queries/promoted_r8.py:
# bucketed_join_revenue, ljung_box, mood_median).  Position 51
# (q_cochran_q, the 4th promoted entry) heads the r9 window; after r9's
# first row lands, every one of the 370 registered queries has at
# least one external CORRECTNESS row and the tail becomes a pure
# longest-unverified re-check rotation (last-green round ascending;
# the 50 rows r7 just checked sit at the very end).
PRIORITY: tuple[str, ...] = (
    # ------- ROUND-8 WINDOW (first 50): the final never-driver-checked
    # burn-down (VERDICT r7 item 1).  After r7 the cumulative external
    # coverage was 319/366 with exactly these 47 registered entries
    # never checked (registry minus the union of CORRECTNESS_r01-r07
    # keys); the r7 judge pre-verified ALL 47 green dtype-strict at
    # sf0.01.  Slots 48-50 are the first three of the r8-promoted
    # cohort (queries/promoted_r8.py).  After this window every
    # registered query except q_cochran_q (position 51, heads the r9
    # window) has an external CORRECTNESS row.
    "q_juilland_dispersion",
    "q_brier_decomposition",
    "q_langid_prf",
    "q_gain_chart",
    "q_ann_recall_curve",
    "q_isotonic_bins",
    "q_von_neumann_ratio",
    "q_simpson_flip",
    "q_odds_ratio_ci",
    "q_cuped_abtest",
    "q_time_to_convert",
    "q_sprt_daily",
    "q_theil_sen_slope",
    "q_avg_precision",
    "q_bh_fdr",
    "q_err_eval",
    "q_bradley_terry",
    "q_lm_jm_topk",
    "q_shapley_attribution",
    "q_nelson_aalen",
    "q_did_readout",
    "q_link_prediction",
    "q_readability_panel",
    "q_gries_dp",
    "q_eb_shrinkage",
    "q_covariate_balance",
    "q_qini_curve",
    "q_harmonic_centrality",
    "q_markov_absorption",
    "q_nearest_centroid_eval",
    "q_keyphrase_cvalue",
    "q_conformal_interval",
    "q_weibull_fit",
    "q_capture_recapture",
    "q_abc_parts",
    "q_basket_rules",
    "q_price_elasticity",
    "q_logrank_test",
    "q_friedman_daily",
    "q_cox_ph",
    "q_pinball_quantile",
    "q_mixture_materialize",
    "q_jonckheere_trend",
    "q_ansari_bradley",
    "q_lm_interp_tune",
    "q_page_trend",
    "q_dedup_threshold_curve",
    # -- r8-promoted cohort, part 1 (3 of 4): staged+verified in r7
    #    (then queries/staging.py), green at sf0.001 AND sf0.01 under
    #    the driver-grade compare; bucketed join's zero-exchange plan
    #    asserted by tests/test_bucketing.py.
    "q_bucketed_join_revenue",
    "q_ljung_box",
    "q_mood_median",
    # ------- end of the 50-slot r8 window -------
    # r9 queue head: the 4th r8-promoted entry, then the
    # longest-unverified re-check tail (unchanged relative order:
    # code-touched-in-r7 rows first, then last-green round ascending).
    "q_cochran_q",
    "q_dedup_clusters",
    "q_canonical_docs",
    "q_dedup_rate_by_source",
    "q_dedup_incremental",
    "q_ewma_anomalies",
    "q_user_value_trend",
    "q_repeated_regions",
    "q_remove_repeated_spans",
    "q_vocabulary",
    "q_encoded_unigrams",
    "q_bigram_counts",
    "q_chunked_wordcounts",
    "q_simhash_near_pairs",
    "q_salted_join_revenue",
    "q_id_resolution",
    "q1_pricing_summary",
    "q_click_attribution",
    "q_events_sliding",
    "q_events_user_running",
    "q_distinct_cardinality",
    "q_events_tumbling",
    "q_events_session",
    "q_pivot_event_values",
    "q_multimodal_features",
    "q_star_join_revenue",
    "q_point_lookup",
    "q_filter_projection",
    "q_topk_customers",
    "q_window_rank",
    "q_quantiles",
    "q_topk_categories",
    "q_regex_vote",
    "q_anti_join",
    "q_semi_join",
    "q_union_shards",
    "q_except_intersect",
    "q_rollup_revenue",
    "q_orders_by_month",
    "q_dup_id_guard",
    "q_multikey_sort",
    "q_shipping_priority",
    "q_grouping_sets",
    "q_window_frames",
    "q_correlated_subquery",
    "q_unpivot_measures",
    "q_regex_extract_cast",
    "q_cast_ladder_roundtrip",
    "q_posexplode_provenance",
    "q_struct_roundtrip",
    "q_markov_transitions",
    "q_kmeans_assign",
    "q_semdedup_prune",
    "q_asof_join",
    "q_funnel_stages",
    "q_token_count_ws",
    "q_repetition_scores",
    "q_decontamination",
    "q_hash_sample",
    "q_quality_score",
    "q_lang_id",
    "q_fingerprint",
    "q_langid_vs_labels",
    "q_pack_sequences",
    "q_arrow_batch_stats",
    "q_unigram_logprob",
    "q_corpus_diff",
    "q_knn_cosine_bruteforce",
    "q_embedding_norms",
    "q_norms_by_label",
    "q_cosine_near_pairs",
    "q_quantize_int8",
    "q_knn_quantized",
    "q_dict_encode",
    "q_approx_distinct",
    "q_srp_stats",
    "q_srp_hamming",
    "q_quadgram_counts",
    "q_tfidf_top_terms",
    "q_nfc_normalize",
    "q_tokenize_fallback",
    "q_renest_roundtrip",
    "q_bpe_merges",
    "q_token_pagerank",
    "q_heaps_fit",
    "q_zipf_slope",
    "q_simhash",
    "q_mmr_select",
    "q_dedup_exact",
    "q_minhash_signatures",
    "q_lsh_candidates",
    "q_minhash_dedup_pairs",
    "q_ngram_jaccard_pairs",
    "q_remove_duplicated_chunks",
    "q_dedup_stats",
    "q_retention_cohorts",
    "q_sessionize_lag",
    "q_frame_sample",
    "q_image_resize",
    "q_dataset_split",
    "q_temperature_mix",
    "q_packing_stats",
    "q_redact_pii",
    "q_bigram_logprob",
    "q_cap_per_source",
    "q_quality_filter",
    "q_winnow_fingerprints",
    "q_winnow_overlap_pairs",
    "q_training_order",
    "q_corpus_profile",
    "q_strip_markup",
    "q_sentence_stats",
    "q_curation_pipeline",
    "q_uniform_sample_k",
    "q_bm25_topk",
    "q_cube_revenue",
    "q_doc_token_counts",
    "q_document_lengths",
    "q_global_wordcount",
    "q_trigram_counts",
    "q_bigram_pmi",
    "q_count_sum_preservation",
    "q_bpe_encode",
    "q_countmin_estimate",
    "q_token_triangles",
    "q_containment_pairs",
    "q_ngram_novelty",
    "q_snm_pairs",
    "q_ppjoin_pairs",
    "q_lsh_dedup_recall",
    "q_bloom_novelty",
    "q_cdc_duplicate_chunks",
    "q_edit_distance_pairs",
    "q_range_join_events",
    "q_zscore_outliers",
    "q_winsorize",
    "q_value_histogram",
    "q_cumulative_users",
    "q_event_type_lift",
    "q_event_transitions",
    "q_seasonal_residuals",
    "q_dsir_weights",
    "q_perplexity_buckets",
    "q_stratified_sample",
    "q_char_diversity",
    "q_stupid_backoff",
    "q_backoff_cross_corpus",
    "q_js_divergence",
    "q_cooccurrence_window",
    "q_distinctive_terms",
    "q_negative_sampling",
    "q_bootstrap_mean_ci",
    "q_tfidf_cosine_pairs",
    "q_vocab_growth_curve",
    "q_length_quantiles_by_lang",
    "q_kwic",
    "q_nb_lang_confusion",
    "q_rake_keywords",
    "q_psi_drift",
    "q_logreg_train",
    "q_gini_tokens",
    "q_skyline_docs",
    "q_burrows_delta",
    "q_weighted_sample",
    "q_skyline_kd",
    "q_knn_pq_adc",
    "q_label_centroid_distances",
    "q_phrase_search",
    "q_phrase_search_indexed",
    "q_min_span_proximity",
    "q_zorder_curve",
    "q_hll_distinct",
    "q_bfs_distances",
    "q_degree_assortativity",
    "q_logdice_collocations",
    "q_hapax_stats",
    "q_token_entropy",
    "q_kn_bigram_logprob",
    "q_mad_outliers",
    "q_embedding_decontamination",
    "q_embedding_dim_corr",
    "q_source_overlap_matrix",
    "q_rrf_fusion",
    "q_hard_negatives",
    "q_rbo_rankers",
    "q_decayed_engagement",
    "q_lang_source_mi",
    "q_welch_ttest_sources",
    "q_lang_source_chi2",
    "q_ks_length_sources",
    "q_mann_whitney_sources",
    "q_user_behavior_pairs",
    "q_sliding_chunks",
    "q_spearman_len_tokens",
    "q_daily_autocorr",
    "q_bpe_fertility",
    "q_hll_by_group",
    "q_priority_sample_group",
    "q_k_anonymity",
    "q_jaro_winkler_links",
    "q_calibration_bins",
    "q_ams_f2",
    "q_ktruss",
    "q_approx_quantiles",
    "q_events_json",
    "q_knn_cosine_lsh",
    "q_knn_cosine_ivf",
    "q_encoded_quadgrams",
    "q_query_likelihood",
    "q_cusum_daily",
    "q_kaplan_meier",
    "q_ndcg_eval",
    "q_mrr_map_eval",
    "q_rbp_eval",
    "q_label_propagation",
    "q_hits_scores",
    "q_top_component",
    "q_abtt_residuals",
    "q_silhouette",
    "q_markov_stationary",
    "q_blocklist_match",
    "q_min_span_indexed",
    "q_kcenter_select",
    "q_postings_size_stats",
    "q_percentile_filter",
    "q_normalize_unicode",
    "q_code_score",
    "q_cusum_by_type",
    "q_kaplan_meier_cohorts",
    "q_lexical_cohesion",
    "q_bitext_margin",
    "q_fs_link_scores",
    "q_conditional_entropy",
    "q_quality_retention",
    "q_shuffle_quality",
    "q_mixture_budget",
    "q_cluster_capped_sample",
    "q_event_sequences",
    "q_benford_deviation",
    "q_auc_eval",
    "q_adamic_adar",
    "q_kcore",
    "q_bleu_pairs",
    "q_leakage_safe_split",
    "q_good_turing",
    "q_token_burstiness",
    "q_l_diversity",
    "q_ppr_tokens",
    "q_clustering_coefficient",
    "q_lm_hit_at_k",
    "q_source_kl",
    "q_mann_kendall",
    "q_neyman_allocation",
    "q_kendall_tau_b",
    "q_cohens_kappa",
    "q_yules_k",
    "q_chao1_richness",
    "q_flesch_reading",
    "q_kruskal_wallis",
    "q_levene_bf",
    "q_t_closeness",
    "q_jackknife_ratio",
    "q_rouge2_pairs",
    "q_modularity",
    "q_wilson_ci",
    "q_theil_index",
    "q_truncation_loss",
    "q_span_corruption",
    "q_binseg_daily",
    "q_runs_test",
    # -- the 50 rows the driver checked in r7 (CORRECTNESS_r07: 50/50
    #    green) — freshest external evidence, so they rotate to the very
    #    end of the queue (rotation policy rule 4).
    "q_cooks_distance",
    "q_sax_daily",
    "q_seasonality_strength",
    "q_mattr",
    "q_interarrival_stats",
    "q_embedding_isotropy",
    "q_cohort_value",
    "q_rfm_segments",
    "q_split_balance",
    "q_anova_oneway",
    "q_cramers_v",
    "q_vocab_coverage",
    "q_event_type_overlap",
    "q_higher_moments",
    "q_daily_mix_entropy",
    "q_lorenz_curve",
    "q_event_entropy_rate",
    "q_hhi_concentration",
    "q_jaccard_histogram",
    "q_growth_accounting",
    "q_stickiness",
    "q_return_time_hist",
    "q_char_entropy",
    "q_word_length_profile",
    "q_oov_by_source",
    "q_hill_tail",
    "q_daily_bands",
    "q_nn_label_agreement",
    "q_common_prefix",
    "q_term_position_bias",
    "q_type_user_hhi",
    "q_cluster_representatives",
    "q_kmeans_elbow",
    "q_xcorr_types",
    "q_g2_collocations",
    "q_cohens_d_sources",
    "q_permutation_test",
    "q_holt_linear_daily",
    "q_seq_pattern_pairs",
    "q_rm3_expansion",
    "q_gunning_fog",
    "q_grubbs_outlier",
    "q_keyness_terms",
    "q_skew_report",
    "q_zeta_markers",
    "q_fk_integrity",
    "q_mcnemar_langid",
    "q_audio_window_energy",
    "q_log_odds_dirichlet",
    "q_mantel_haenszel",
)


def all_queries() -> dict[str, Query]:
    # Import side-effect modules exactly once.
    from nonconsumptive_spark.queries import (  # noqa: F401
        clustering,
        dedup,
        events,
        hybrid,
        multimodal,
        promoted,
        promoted_r6,
        promoted_r7,
        promoted_r8,
        relational,
        retrieval,
        scalar,
        similarity,
        text,
        textstats,
    )

    ordered = {name: REGISTRY[name] for name in PRIORITY if name in REGISTRY}
    for name, q in REGISTRY.items():
        if name not in ordered:
            ordered[name] = q
    return ordered


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
