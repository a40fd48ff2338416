"""Headline benchmark: runs the flagship queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Execution is forced with a noop sink (full pipeline runs, nothing
collected to the driver) — measures engine throughput, not driver IO.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from nonconsumptive_spark.queries import all_queries  # noqa: E402
from nonconsumptive_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "q_star_join_revenue",
    "q_window_rank",
    "q_topk_customers",
    "q_encoded_unigrams",
    "q_bigram_counts",
    "q_chunked_wordcounts",
    "q_vocabulary",
    "q_dedup_exact",
    "q_minhash_dedup_pairs",
    "q_simhash",
    "q_lang_id",
    "q_quality_score",
    "q_knn_cosine_bruteforce",
    "q_events_session",
    "q_events_tumbling",
]


def _minhash_pairs_xxhash64(spark, sf_dir):
    """Production-hash variant of q_minhash_dedup_pairs: xxhash64 shingle
    hashing (JVM-native, ~20% faster than the md5 oracle-portable path).
    Timed every round so the fast path can't rot; NOT part of the judged
    headline total (no DuckDB oracle for xxhash64)."""
    from nonconsumptive_spark.operators.dedup import minhash_dedup_pairs
    from nonconsumptive_spark.queries import load

    return minhash_dedup_pairs(load(spark, sf_dir, "documents"),
                               threshold=0.5, hash_fn="xxhash64")


# Extra timed-but-not-judged entries, reported under "extra_queries" and
# excluded from the headline total so round-over-round comparisons hold:
# the xxhash64 variant, then every registered query outside the headline.
EXTRA = {
    "q_minhash_dedup_pairs[xxhash64]": _minhash_pairs_xxhash64,
    **{name: q.spark_fn for name, q in sorted(all_queries().items())
       if name not in HEADLINE},
}


def _python_proc_census() -> int:
    """Count of OTHER live python processes.  Per-pid OSError guard
    (ADVICE r6): a process that exits between the /proc listing and the
    comm read is skipped, not fatal to the whole census (the old
    single-try/except around sum() discarded the measurement to -1 on
    one vanished pid)."""
    def _is_python(p: Path) -> bool:
        try:
            return "python" in (p / "comm").read_text(errors="ignore")
        except OSError:
            return False

    try:
        return sum(
            1 for p in Path("/proc").iterdir()
            if p.name.isdigit() and p.name != str(os.getpid())
            and _is_python(p)
        )
    except OSError:
        return -1


def _loadavg() -> list:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return [-1.0, -1.0, -1.0]


def _await_quiet_box() -> tuple:
    """Load-aware retry (VERDICT r6 item 3): the r6 driver headline read
    19.93 s at ambient loadavg 19.2 — 2.0x the r3 record — while the
    same code measured 10.8-11.5 s on a quiet box.  Before the timed
    run, if the 1-min loadavg exceeds SPARK_GRAFT_LOAD_GATE (default
    2.0), sleep and re-check a bounded number of times
    (SPARK_GRAFT_LOAD_TRIES x 30 s, default 12 -> <=6 min), recording
    every attempt's reading so the JSON shows whether the gate was met
    or waited out.  Gate <= 0 disables the wait (always proceed)."""
    gate = float(os.environ.get("SPARK_GRAFT_LOAD_GATE", "2.0"))
    tries = max(1, int(os.environ.get("SPARK_GRAFT_LOAD_TRIES", "12")))
    attempts = []
    load = _loadavg()
    for i in range(tries):
        load = _loadavg()
        attempts.append(load[0])
        if gate <= 0 or load[0] < 0 or load[0] < gate:
            break
        if i < tries - 1:
            time.sleep(30.0)
    return load, attempts, gate


# The historically heaviest extras (max recorded sf0.1 row >= ~5 s
# across BENCH_r01-r07) get a second timed pass with per-row MIN when
# they come up in the rotation: single-pass first-touch swings on these
# rows (e.g. gries_dp 8.7 vs 1.4 s, hhi 6.4 vs 0.5 s on untouched code)
# are larger than any real trend.  Bounded cost: ~1 min per bench run.
WARM_EXTRAS = {
    "q_repeated_regions",
    "q_jaro_winkler_links",
    "q_fs_link_scores",
    "q_kmeans_elbow",
    "q_gries_dp",
    "q_markov_stationary",
    "q_hll_by_group",
    "q_encoded_quadgrams",
    "q_gain_chart",
    "q_hits_scores",
    "q_leakage_safe_split",
    "q_kcore",
    "q_dedup_threshold_curve",
    "q_rbo_rankers",
    "q_hhi_concentration",
    "q_modularity",
    "q_ndcg_eval",
    "q_silhouette",
    "q_mrr_map_eval",
}


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else -1.0
    # Box-load evidence (VERDICT r5 item 5): the r5 headline inflated
    # +38% vs r3 uniformly across untouched queries — classic ambient
    # load.  Capture 1/5/15-min loadavg and a python process census
    # BEFORE Spark starts (ambient, not self-inflicted), so
    # "environmental" is a measurement, not an assertion; r6 adds a
    # bounded load-gate wait so the recorded headline is taken on the
    # quietest minute available.
    ambient_load, load_attempts, load_gate = _await_quiet_box()
    ambient_procs = _python_proc_census()
    spark = get_spark("nc-spark-bench")
    registry = all_queries()

    # Warm the JVM/session on a trivial job so q1 doesn't pay startup cost.
    spark.range(1000).selectExpr("sum(id)").collect()

    # One untimed warm-up pass: first-touch costs (parquet footer reads, OS
    # page cache, whole-stage codegen compilation) are 2-4x the steady-state
    # query time at this scale and belong to the session, not the query.
    # The timed pass below measures repeatable engine throughput.
    for name in HEADLINE:
        registry[name].spark_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Two timed passes, per-query MIN: the headline number should measure
    # engine throughput, not whatever else the host happened to be doing
    # during one pass (observed: a loaded machine inflates a pass ~40%).
    timings: dict[str, float] = {}
    for _ in range(2):
        for name in HEADLINE:
            q = registry[name]
            t0 = time.time()
            df = q.spark_fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            timings[name] = min(timings.get(name, dt), dt)
    # Loadavg right after the timed passes: paired with the pre-run
    # reading this bounds contamination DURING the measurement (a quiet
    # start + loaded finish would show up here).  Includes this bench's
    # own Spark threads, so compare deltas, not absolutes.
    load_after_timed = _loadavg()

    # Extras are non-judged trend rows, single-pass timed (first-touch
    # cost included — comparable only to other extras rows).  With every
    # non-headline query an extra, a full pass is far longer than the
    # headline, so extras ROTATE: a deterministic sixth of the sorted name
    # list per round (round index = count of recorded BENCH_r*.json
    # files), plus the always-on sentinels.  Every extra is therefore
    # re-measured at least every sixth round while one bench run stays
    # short.
    # Override: SPARK_GRAFT_BENCH_EXTRAS=all | none | <comma-list>.
    always_on = ["q_minhash_dedup_pairs[xxhash64]"]
    sel = os.environ.get("SPARK_GRAFT_BENCH_EXTRAS", "")
    if sel == "all":
        extra_names = list(EXTRA)
    elif sel == "none":
        extra_names = []
    elif sel:
        extra_names = [n for n in sel.split(",") if n in EXTRA]
    else:
        rnd = len(list(Path(__file__).resolve().parent.glob("BENCH_r*.json")))
        rotating = sorted(n for n in EXTRA if n not in always_on)
        extra_names = always_on + rotating[rnd % 6::6]
    extra: dict[str, float] = {}
    warm_rows: list[str] = []
    for name in extra_names:
        t0 = time.time()
        EXTRA[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        extra[name] = round(time.time() - t0, 3)
        if name in WARM_EXTRAS:
            # second pass, record the min: these are the only extras big
            # enough for the first-touch swing to drown the trend signal
            # (observed 2-5x between rounds on untouched code)
            t0 = time.time()
            EXTRA[name](spark, sf_dir) \
                .write.format("noop").mode("overwrite").save()
            extra[name] = min(extra[name], round(time.time() - t0, 3))
            warm_rows.append(name)

    total = round(sum(timings.values()), 3)
    # Extras go on their OWN line first: the driver's tail capture of the
    # final line is bounded (~2000 chars; BENCH_r04 overflowed it), so
    # the FINAL line carries only the compact headline record.
    print(json.dumps({
        "metric": "extra_queries_single_pass",
        "extra_queries": extra,
        "extras_rotation": f"{len(extra)}/{len(EXTRA)} this round",
        # rows in warm_min2 used the min-of-two-passes protocol; all
        # other extras remain single-pass (first-touch cost included)
        "warm_min2": warm_rows,
        "sf": sf,
    }))
    print(json.dumps({
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # headline protocol: untimed warm-up pass, then per-query MIN of
        # two timed passes in one warm JVM (adopted in round 3 — earlier
        # rounds were single-pass; see BASELINE.md)
        "methodology": "warm-jvm, warmup + min-of-2; extras on prior line",
        "registry_size": len(all_queries()),
        "ambient_loadavg": ambient_load,
        "ambient_load_attempts": load_attempts,
        "ambient_load_gate": load_gate,
        "loadavg_after_timed": load_after_timed,
        "ambient_python_procs": ambient_procs,
        "sf": sf,
    }))


if __name__ == "__main__":
    main()
