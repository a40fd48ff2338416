"""Physical-plan census over every registered query: join strategies,
exchange counts, and scan-level pruning, printed as a markdown table.

Usage:  python tools/plan_census.py [sf_dir] > PLAN_CENSUS.md

The census is also the repo's structural-regression harness: the
companion test (tests/test_plan_census.py) asserts that no query's plan
contains CartesianProduct, and that BroadcastNestedLoopJoin appears only
in queries on the documented whitelist (1-row-aggregate attaches and the
intentionally-tiny-side forms), so an accidental cross product anywhere
in 150+ queries fails CI instead of shipping.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# Queries where BroadcastNestedLoopJoin is the DOCUMENTED right plan:
# either a 1-row-aggregate attach (constant broadcast), a <=#labels-row
# pair expansion, or an intentionally-broadcast <=k-row query side.
BNLJ_WHITELIST = {
    "q_knn_cosine_bruteforce",   # <=10-row query side, by design
    "q_rrf_fusion",              # same: knn_bruteforce broadcast query side
    "q_decayed_engagement",      # 1-row max-age attach
    "q_lang_source_mi",          # 1-row total attach onto #cells frame
    "q_lang_source_chi2",        # tiny-grid cross joins + 1-row dims attach
    "q_welch_ttest_sources",     # #sources^2 broadcast self-join
    "q_ks_length_sources",       # #sources x #values grid build
    "q_mann_whitney_sources",    # same grid build as KS
    "q_spearman_len_tokens",     # 1-row totals + distinct-value rank attach
    "q_daily_autocorr",          # #days-spine lag joins + 1-row attaches
    "q_knn_quantized",
    "q_knn_pq_adc",
    "q_knn_cosine_lsh",
    "q_knn_cosine_ivf",
    "q_mmr_select",
    "q_stupid_backoff",          # 1-row totals attach
    "q_kn_bigram_logprob",       # 1-row type-totals attach
    "q_backoff_cross_corpus",
    "q_js_divergence",           # #labels^2 pair expansion
    "q_label_centroid_distances",
    "q_cosine_near_pairs",       # 1-row norm attach
    "q_embedding_decontamination",  # broadcast benchmark side, by design
    "q_source_overlap_matrix",   # #sources^2 spine from the tiny size table
    "q_dsir_weights",            # 1-row totals attach
    "q_hll_by_group",            # groups x 256-register spine build
    "q_seasonal_residuals",      # 1-row residual-moment attach
    "q_weighted_sample",         # 1-row tau attach onto the k-row cut
    "q_perplexity_buckets",
    "q_nb_lang_confusion",       # #labels-row fan-out + 1-row vocab attach
    "q_psi_drift",               # 1-row edge-array + 10-row bin-spine attach
    "q_hll_distinct",            # 1-row exact-audit attach onto 1-row sums
    "q_bootstrap_mean_ci",       # 1-row full-mean attach
    "q_heaps_fit",               # capped regression frame
    "q_zipf_slope",
    "q_ljung_box",               # #days-spine lag joins + 1-row den/tot attach
    "q_mood_median",             # 1-row median + 1-row totals attach
    "q_cochran_q",               # 1-row k/marginal-sum attaches
    "q_vocab_growth_curve",      # 10-row spine vs 10-row buckets
    "q_srp_stats",               # 1-row invariant attaches
    "q_srp_hamming",
    "q_tfidf_top_terms",         # 1-row n_docs attach
    "q_tfidf_cosine_pairs",
    "q_distinctive_terms",
    "q_corpus_profile",
    "q_approx_distinct",
    "q_countmin_estimate",
    "q_count_sum_preservation",
    "q_quantize_int8",
    "q_embedding_norms",
    "q_norms_by_label",
    "q_curation_pipeline",
    "q_decontamination",
    "q_dataset_split",
    "q_temperature_mix",
    "q_cap_per_source",
    "q_hash_sample",
    "q_uniform_sample_k",
    "q_stratified_sample",
    "q_dedup_stats",
    "q_bigram_pmi",
    "q_bigram_logprob",
    "q_unigram_logprob",
    "q_ngram_novelty",
    "q_winnow_overlap_pairs",
    "q_bm25_topk",            # 1-row (N, avgdl) attach
    "q_event_type_lift",      # 1-row n_users attach
    "q_funnel_stages",        # 1-row stage-total attaches
    "q_token_triangles",      # 1-row edge/triangle-count attaches
    "q_lsh_dedup_recall",     # three 1-row count attaches
    # r5-staged (censused pre-promotion):
    "q_cusum_daily",          # 1-row (n, s) totals attach onto the day spine
    "q_kaplan_meier",         # 1-row obs-end + user-total attaches
    "q_query_likelihood",     # 1-row corpus-size + query-constant attaches
    "q_top_component",        # 1-row mean/eigenvector-frame attaches per round
    "q_abtt_residuals",       # same power-iteration attaches + final v attach
    "q_bitext_margin",        # bounded broadcast query batch, by design
    "q_fs_link_scores",       # 1-row u-estimate attach
    "q_conditional_entropy",  # two 1-row aggregate attaches
    "q_shuffle_quality",      # two 1-row aggregate attaches
    "q_mixture_budget",       # 1-row normalizer attach
    "q_auc_eval",             # #labels-row class spine onto the score histogram
    "q_benford_deviation",    # 9-row digit spine onto per-group totals
    "q_token_burstiness",     # 1-row doc-count attach
    "q_mrr_map_eval",         # knn_bruteforce's <=n_queries broadcast side
    "q_rbp_eval",             # same knn_bruteforce broadcast query side
    "q_source_kl",            # <=#strata key spine onto vocab + 1-row vt attach
    "q_neyman_allocation",    # 1-row weight-total attach
    "q_kendall_tau_b",        # <=#cells^2 bucket-grid self-join + 1-row attaches
    "q_cohens_kappa",         # <=|langs|^2 confusion frame, 1-row pe attach
    "q_kruskal_wallis",       # 1-row ties attach onto the 1-row H aggregate
    "q_levene_bf",            # 1-row totals attach onto the #sources frame
    "q_t_closeness",          # 10-row bucket spine + 1-row global-count attach
    "q_jackknife_ratio",      # 1-row totals attach onto the #sources frame
    "q_modularity",           # 1-row M2 + 1-row global-Q attaches
    "q_truncation_loss",      # 4-row max-len literal spine, by design
    "q_cooks_distance",       # 1-row moment + 1-row SSE attaches
    "q_embedding_isotropy",   # 1-row vt + entropy attaches on 64-dim frame
    "q_rfm_segments",         # three 1-row quintile-edge attaches + max-ts attach
    "q_split_balance",        # 1-row total attach onto the 3-row split frame
    "q_cramers_v",            # langs x sources grid build + 1-row attaches
    "q_vocab_coverage",       # 3-row k spine + 1-row totals attach
    "q_lorenz_curve",         # 1-row edge + totals attaches on the histogram
    "q_event_entropy_rate",   # two 1-row aggregate attaches
    "q_return_time_hist",     # 1-row total attach onto the gap histogram
    "q_hill_tail",            # 1-row ref/max-rank attaches on the k+1 head
    "q_nn_label_agreement",   # knn_bruteforce broadcast <=10-row query side
    "q_xcorr_types",          # 4-row lag-spine broadcast, by design
    "q_ktruss",               # 1-row converged-flag attach onto the truss
    # r6-staged (censused pre-promotion):
    "q_cohens_d_sources",     # #sources^2 broadcast self-join (welch pattern)
    "q_g2_collocations",      # 1-row bigram-total attach onto the bigram frame
    "q_permutation_test",     # 1-row observed-stat + 2-row source-frame attaches
    "q_rm3_expansion",        # BM25's 1-row (N, avgdl) + 1-row normalizer attaches
    "q_keyness_terms",        # 1-row corpus-total attach onto the cell frame
    "q_skew_report",          # 1-row totals/top-1/p99 attaches on the key-count frame
    "q_fk_integrity",         # two 1-row orphan/child-count attaches
    "q_mcnemar_langid",       # 1-row majority-label attach onto the scan
    "q_juilland_dispersion",  # top-k x #parts grid build (both sides tiny)
    "q_mantel_haenszel",      # 1-row first-source-label attach onto the scan
    "q_brier_decomposition",  # two 1-row totals attaches onto the 10-bin frame
    "q_langid_prf",           # #classes-row spine fan-out onto the scan
    "q_gain_chart",           # 1-row N + totals attaches; 10-row frame after
    "q_ann_recall_curve",     # knn_bruteforce's broadcast query side + 1-row
                              # hit-count attaches, one per probe level
    "q_isotonic_bins",        # 10-bin grid/spine builds, all bin-bounded
    "q_simpson_flip",         # 1-row marginal + first-source-label attaches
    "q_odds_ratio_ci",        # 1-row first-source-label attach onto the scan
    "q_time_to_convert",      # 1-row total + quantile attaches on the histogram
    "q_sprt_daily",           # 1-row rate-totals attach onto the day spine
    # r9 staged (censused pre-promotion):
    "q_wilcoxon_signed_rank",  # 1-row span attach onto the events scan
    "q_dunn_posthoc",         # k x k broadcast self-join of the k-row
                              # group frame (source-cardinality bounded)
                              # + 1-row total/tie attaches
    # r5-continuation staged (censused pre-promotion):
    "q_theil_sen_slope",      # #days^2 pair spine + 1-row min-day/count attaches
    "q_avg_precision",        # 11-row level spine + 1-row n_pos/ap attaches
    "q_did_readout",          # 1-row observation-span attach onto the scan
    "q_eb_shrinkage",         # 1-row MoM-prior attach onto the user frame
    "q_gries_dp",             # top-k x #parts grid + 1-row totals attach
    "q_lm_jm_topk",           # 1-row corpus-size + query-constant attaches
    "q_nelson_aalen",         # 1-row obs-end + user-total attaches (KM pattern)
    "q_shapley_attribution",  # 2^n coalition spine joins, all mask-bounded
    "q_conformal_interval",   # 1-row q_hat + k-index attaches onto the scan
    "q_weibull_fit",          # KM's 1-row attaches + 1-row OLS-moment attach
    "q_capture_recapture",    # 1-row observation-span attach onto the scan
    "q_abc_parts",            # 1-row revenue-total attach onto the part spine
    "q_basket_rules",         # 1-row n_orders attach onto the pair frame
    "q_logrank_test",         # KM-style 1-row totals + cohort-spine attaches
    "q_friedman_daily",       # #days x #types grid build + two 1-row attaches
    "q_cox_ph",               # 1-row (theta, us, js) attach onto spine counts
    "q_mixture_materialize",  # 1-row (budget, zq) normalizer attach
    "q_jonckheere_trend",     # group x value grid build + two 1-row attaches
    "q_ansari_bradley",       # 1-row N-total attach onto the score spine
    "q_lm_interp_tune",       # 9-row lambda spine + 1-row (T, V) attach
    "q_page_trend",           # Friedman grid build + three 1-row attaches
    # r9: the census now descends into materialize_once checkpoints
    # (round-8 verdict item 5), surfacing BNLJs that were always in the
    # executed sub-jobs but hidden from the query-level plan.  Each was
    # re-verified as a bounded build side:
    "q_bradley_terry",        # 1-row n_tot attach onto the games frame
    "q_burrows_delta",        # top-m marker-spine grid build (bounded k)
    "q_hits_scores",          # per-round 1-row max-normalizer attach
    "q_kaplan_meier_cohorts",  # 1-row observation-end attach (KM pattern)
    "q_log_odds_dirichlet",   # 1-row corpus-totals attach onto the vocab
    "q_zeta_markers",         # 1-row (n_a, n_b) attach onto the df frame
    # hybrid-eval family: the shared hybrid_postings (1-row n_docs
    # attach) and hybrid_sem (knn's <=n_queries broadcast query side)
    # builders are censused under whichever consumer builds them first
    # in sorted order — whitelist every consumer so a registry
    # promotion that changes the order cannot flap the gate
    # (q_rrf_fusion / q_mrr_map_eval / q_rbp_eval already above):
    "q_err_eval",
    "q_ndcg_eval",
    "q_rbo_rankers",
    "q_hard_negatives",
}


def census(spark, sf_dir: str, only=None):
    from nonconsumptive_spark.plans import checkpoint as ckpt
    from nonconsumptive_spark.queries import all_queries

    entries = {name: q.spark_fn for name, q in all_queries().items()}

    rows = []
    for name, spark_fn in sorted(entries.items()):
        if only and name not in only:
            continue
        # The census DESCENDS INTO CHECKPOINTS (r9, round-8 verdict
        # item 5): materialize_once cuts lineage, so the query-level
        # plan hides whatever pipeline was planned behind each
        # checkpoint; the observer hands us every sub-frame BEFORE its
        # lineage is cut and the metrics below aggregate over the top
        # plan plus all sub-plans.  Session-shared frames are censused
        # under whichever query builds them first (sorted order, so
        # deterministic) — a cache hit has no pipeline to census.
        subframes: list = []
        ckpt.set_materialization_observer(
            lambda n, df: subframes.append(df))
        try:
            frames = [spark_fn(spark, sf_dir)] + subframes
            plans = [f._jdf.queryExecution().executedPlan().toString()
                     for f in frames]
        except Exception as e:  # pragma: no cover
            rows.append((name, str(e)[:80], 0, "ERROR"))
            continue
        finally:
            ckpt.set_materialization_observer(None)
        abbrev = {"BroadcastNestedLoopJoin": "BNLJ", "CartesianProduct":
                  "CART", "SortMergeJoin": "SMJ", "BroadcastHashJoin":
                  "BHJ", "ShuffledHashJoin": "SHJ"}
        plan = "\n".join(plans)
        joins = sorted(set(re.findall(
            r"(BroadcastNestedLoopJoin|CartesianProduct|SortMergeJoin"
            r"|BroadcastHashJoin|ShuffledHashJoin)", plan)))
        rows.append((name, "+".join(abbrev[j] for j in joins) or "-",
                     plan.count("Exchange"),
                     "CARTESIAN" if "CartesianProduct" in plan else
                     ("BNLJ" if "BroadcastNestedLoopJoin" in plan else "")))
    return rows


def main():
    from nonconsumptive_spark.session import get_spark

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    write_path = None
    for a in sys.argv[1:]:
        if a == "--write":
            write_path = "PLAN_CENSUS.md"
        elif a.startswith("--write="):
            write_path = a.split("=", 1)[1]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    spark = get_spark("plan-census", cpus=4, shuffle_partitions=4)
    rows = census(spark, sf_dir)
    lines = ["| query | joins | exchanges | flags |", "|---|---|---|---|"]
    bad = 0
    for name, joins, ex, flag in rows:
        mark = ""
        if flag in ("CARTESIAN", "ERROR") or (
                flag == "BNLJ" and name not in BNLJ_WHITELIST):
            mark = " **UNEXPECTED**"
            bad += 1
        lines.append(f"| {name} | {joins} | {ex} | {flag}{mark} |")
    print("\n".join(lines))
    if write_path is not None:
        # Truncation guard (the r7 end-of-round snapshot committed a
        # 0-byte PLAN_CENSUS.md): refuse to replace the committed census
        # with one smaller than the registry — a partial or empty run
        # must never clobber the audit artifact.  Write to a temp file
        # and rename so a crash mid-write can't leave a torn file.
        from nonconsumptive_spark.queries import REGISTRY

        n_rows = len(rows)
        if n_rows < len(REGISTRY):
            print(f"REFUSING --write: census has {n_rows} rows < "
                  f"registry {len(REGISTRY)}", file=sys.stderr)
            sys.exit(2)
        import os
        tmp = write_path + ".tmp"
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.replace(tmp, write_path)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
