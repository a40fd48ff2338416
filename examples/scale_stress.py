"""Scale-stress harness: tile the sf0.1 tables by K (default 10x ~ sf1),
run a representative operator slice at both scales in one JVM, and print
the time ratios.  A row-linear operator should scale ~K; anything clearly
superlinear is a scale cliff the plan audit missed.

Corpus construction (deterministic-ish, NOT oracle-checked — this is a
throughput experiment, so `F.shuffle`'s per-run randomness is fine):

  * documents: K tiles, ids offset by tile * n; tile 0 keeps the original
    text, tiles >= 1 shuffle the token order so shingle/minhash-based
    dedup does NOT collapse tiles into near-dup pairs (word order is what
    those operators key on) — pair structure stays ~K * the sf0.1
    structure instead of exploding K^2-fold.
  * embeddings: ids offset; tiles >= 1 perturb each dim by +tile * 0.01,
    keeping realistic (high but not duplicate) cross-tile cosines.
  * lineitem / orders / customer / events: key columns offset per tile so
    join fan-outs and group counts scale by K, not collapse onto K-times
    heavier hot keys.

Usage:  python examples/scale_stress.py [K] [out_root]
Writes tables to {out_root}/sfx{K} (default /tmp/nc_scale/sfx10), reuses
them if present.  Prints one JSON line with per-query (base_s, scaled_s,
ratio).
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

BASE = "/root/testdata/sf0.1"

# operator slice: row-linear scans, the global-agg barrier, shuffle-heavy
# dedup/ANN, the star join, and a window query
QUERIES = [
    "q1_pricing_summary",
    "q_star_join_revenue",
    "q_global_wordcount",
    "q_vocabulary",
    "q_encoded_unigrams",
    "q_dedup_exact",
    "q_minhash_dedup_pairs",
    "q_lang_id",
    "q_quality_score",
    "q_decayed_engagement",
    "q_knn_cosine_bruteforce",
    "q_events_session",
    # r4e additions: grid-based statistics, hybrid retrieval, blocked
    # behavior similarity, the wide-form trained classifier
    "q_ks_length_sources",
    "q_mann_whitney_sources",
    "q_rrf_fusion",
    "q_user_behavior_pairs",
    "q_logreg_train",
    "q_sliding_chunks",
    # r4f additions: zero-shuffle scans (phrase, zorder), the two-phase
    # skyline, the index-backed phrase join, bounded-frame stylometry
    "q_phrase_search",
    "q_phrase_search_indexed",
    "q_skyline_docs",
    "q_burrows_delta",
    "q_gini_tokens",
    "q_zorder_curve",
    "q_seasonal_residuals",
    "q_bfs_distances",
    "q_degree_assortativity",
    "q_weighted_sample",
    # r4h/4i additions: the in-row sweep, the k-d grouped-map skyline,
    # grouped sketches/samples, and the index-side multi-phrase join
    "q_min_span_proximity",
    "q_skyline_kd",
    "q_hll_by_group",
    "q_priority_sample_group",
    "q_k_anonymity",
    # r4j additions
    "q_query_likelihood",
    "q_cusum_daily",
    "q_kaplan_meier",
    "q_ndcg_eval",
    "q_code_score",
    "q_label_propagation",
    "q_top_component",
    "q_abtt_residuals",
    "q_hits_scores",
    "q_cusum_by_type",
    "q_kaplan_meier_cohorts",
    "q_lexical_cohesion",
    # r5 additions: the changed/new operators of the promotion round
    "q_jaro_winkler_links",
    "q_ktruss",
    "q_encoded_quadgrams",
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
    # r5 continuation batch A: eval/inference completions
    "q_theil_sen_slope",
    "q_avg_precision",
    "q_bh_fdr",
    "q_err_eval",
    # r5 continuation batch B: preference & retrieval
    "q_bradley_terry",
    "q_lm_jm_topk",
    # r5 continuation batch C: causal / survival / attribution
    "q_shapley_attribution",
    "q_nelson_aalen",
    "q_did_readout",
    # r5 continuation batch D: text dispersion / readability / graph
    "q_link_prediction",
    "q_readability_panel",
    "q_gries_dp",
    # r5 continuation batch E: experiment analytics completion
    "q_eb_shrinkage",
    "q_covariate_balance",
    "q_qini_curve",
    # r5 continuation batch F: graph / chains / embedding eval
    "q_harmonic_centrality",
    "q_markov_absorption",
    "q_nearest_centroid_eval",
    # r5 continuation batch G: termhood + conformal uncertainty
    "q_keyphrase_cvalue",
    "q_conformal_interval",
    "q_weibull_fit",
    "q_capture_recapture",
    # r5 continuation batch J: retail analytics on the TPC-H star
    "q_abc_parts",
    "q_basket_rules",
    "q_price_elasticity",
    # r5 continuation batch K: statistical-test family completions
    "q_logrank_test",
    "q_friedman_daily",
    # r6 additions: survival regression, quantile loss, mixture last mile
    "q_cox_ph",
    "q_pinball_quantile",
    "q_ljung_box",
    "q_mood_median",
    "q_cochran_q",
    "q_bucketed_join_revenue",
    "q_mixture_materialize",
    "q_jonckheere_trend",
    "q_ansari_bradley",
    "q_lm_interp_tune",
    "q_page_trend",
    "q_dedup_threshold_curve",
    # r9 additions: the paired/post-hoc/effect-size rank additions + the
    # outer-attribution registry face
    "q_wilcoxon_signed_rank",
    "q_dunn_posthoc",
    "q_cliffs_delta",
    "q_click_attribution_outer",
]


def _tile(df, k: int, offsets: dict[str, int]):
    """Union K copies with per-tile integer offsets on the given columns."""
    tiles = []
    for t in range(k):
        d = df
        for col, step in offsets.items():
            d = d.withColumn(col, (F.col(col) + F.lit(t * step)).cast("long"))
        tiles.append(d.withColumn("__tile", F.lit(t)))
    out = tiles[0]
    for d in tiles[1:]:
        out = out.unionByName(d)
    return out


def build(spark, k: int, root: Path) -> None:
    from nonconsumptive_spark.functions.text import tokenize

    root.mkdir(parents=True, exist_ok=True)

    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    n_docs = docs.count()
    tiled = _tile(docs, k, {"doc_id": n_docs})
    # tiles >= 1: shuffle token order (keeps unigram stats, breaks
    # shingle identity so near-dup pair structure scales ~K)
    tiled = tiled.withColumn(
        "text",
        F.when(F.col("__tile") == 0, F.col("text")).otherwise(
            F.concat_ws(" ", F.shuffle(tokenize(F.col("text"))))
        ),
    ).drop("__tile")
    tiled.write.mode("overwrite").parquet(str(root / "documents.parquet"))

    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    n_vec = emb.count()
    tiled = _tile(emb, k, {"vec_id": n_vec})
    tiled = tiled.withColumn(
        "embedding",
        F.transform(
            "embedding",
            lambda x: (x + F.col("__tile") * F.lit(0.01)).cast("float"),
        ),
    ).drop("__tile")
    tiled.write.mode("overwrite").parquet(str(root / "embeddings.parquet"))

    li = spark.read.parquet(f"{BASE}/lineitem.parquet")
    n_ord = 1 + li.agg(F.max("l_orderkey")).collect()[0][0]
    _tile(li, k, {"l_orderkey": n_ord}).drop("__tile").write.mode(
        "overwrite").parquet(str(root / "lineitem.parquet"))

    orders = spark.read.parquet(f"{BASE}/orders.parquet")
    n_cust = 1 + orders.agg(F.max("o_custkey")).collect()[0][0]
    _tile(orders, k, {"o_orderkey": n_ord, "o_custkey": n_cust}).drop(
        "__tile").write.mode("overwrite").parquet(str(root / "orders.parquet"))

    cust = spark.read.parquet(f"{BASE}/customer.parquet")
    _tile(cust, k, {"c_custkey": n_cust}).drop("__tile").write.mode(
        "overwrite").parquet(str(root / "customer.parquet"))

    ev = spark.read.parquet(f"{BASE}/events.parquet")
    n_ev = ev.count()
    n_usr = 1 + ev.agg(F.max("user_id")).collect()[0][0]
    # shift each tile 90 days forward so session/window group counts
    # scale instead of piling onto the same time range
    tiled = _tile(ev, k, {"event_id": n_ev, "user_id": n_usr})
    tiled = tiled.withColumn(
        "ts", F.col("ts") + F.expr("make_interval(0,0,0,1,0,0,0)")
                            * F.col("__tile") * 90
    ).drop("__tile")
    tiled.write.mode("overwrite").parquet(str(root / "events.parquet"))

    # small dims: copy as-is
    for t in ("region", "nation", "supplier", "part"):
        spark.read.parquet(f"{BASE}/{t}.parquet").write.mode(
            "overwrite").parquet(str(root / f"{t}.parquet"))


def timed(fn, spark, sf_dir) -> float:
    t0 = time.monotonic()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def main():
    # usage: scale_stress.py [K] [out_root] [--only name1,name2]
    args = [a for a in sys.argv[1:] if not a.startswith("--only")]
    only = None
    for a in sys.argv[1:]:
        if a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))
    k = int(args[0]) if len(args) > 0 else 10
    out_root = Path(args[1]) if len(args) > 1 else Path("/tmp/nc_scale")
    scaled_dir = out_root / f"sfx{k}"

    from nonconsumptive_spark.queries import all_queries
    from nonconsumptive_spark.session import get_spark

    spark = get_spark("nc-scale-stress", cpus=32, shuffle_partitions=64)
    if not (scaled_dir / "documents.parquet").exists():
        build(spark, k, scaled_dir)

    reg = all_queries()
    results = {}
    for name in QUERIES:
        if only and name not in only:
            continue
        fn = reg[name].spark_fn
        timed(fn, spark, BASE)                    # warm
        base = min(timed(fn, spark, BASE) for _ in range(2))
        timed(fn, spark, str(scaled_dir))         # warm
        big = min(timed(fn, spark, str(scaled_dir)) for _ in range(2))
        results[name] = {
            "base_s": round(base, 3),
            "scaled_s": round(big, 3),
            "ratio": round(big / base, 2),
        }
        print(f"  {name:28s} {base:6.2f}s -> {big:7.2f}s  x{big/base:5.2f}",
              file=sys.stderr)
    print(json.dumps({"k": k, "results": results}))


if __name__ == "__main__":
    main()
