"""Experiment (A/B) readout report: the full causal-analytics battery in
one run — the round-5 continuation operator family end-to-end.

  * health check:   covariate balance SMDs (is the bucketing hash sane?)
  * average effect: CUPED-adjusted readout + difference-in-differences
  * targeting:      Qini uplift curve by activity decile
  * attribution:    exact Shapley values over touch channels
  * rates:          empirical-Bayes shrunk per-user conversion rates
  * uncertainty:    split-conformal interval + test-half coverage
  * sequential:     SPRT decision over the daily series

Usage:  python examples/ab_report.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from nonconsumptive_spark.queries import all_queries
    from nonconsumptive_spark.session import get_spark

    spark = get_spark("ab-report", cpus=8, shuffle_partitions=8)
    reg = all_queries()

    def run(name):
        return reg[name].spark_fn(spark, sf_dir).collect()

    print(f"# A/B readout — {sf_dir}\n")

    print("## Randomization health (|SMD| < 0.1 is balanced)")
    for r in sorted(run("q_covariate_balance"), key=lambda r: r["covariate"]):
        smd = "n/a (constant)" if r["smd"] is None else f"{r['smd']:+.3f}"
        print(f"- {r['covariate']:15s} SMD {smd}  "
              f"(treat {r['mean_t']}, control {r['mean_c']})")

    cu = run("q_cuped_abtest")[0]
    print("\n## Average effect")
    print(f"- CUPED: {dict(cu.asDict())}")
    dd = run("q_did_readout")[0]
    print(f"- DiD: estimate {dd['did']}, SE {dd['se']}, t = {dd['t_stat']}")

    print("\n## Qini uplift by targeting decile (cumulative)")
    for r in sorted(run("q_qini_curve"), key=lambda r: r["decile"]):
        print(f"- decile {r['decile']:2d}: qini = {r['qini']}")

    print("\n## Shapley conversion attribution")
    for r in sorted(run("q_shapley_attribution"), key=lambda r: -r["phi"]):
        print(f"- {r['channel']:8s} phi = {r['phi']}")

    eb = sorted(run("q_eb_shrinkage"),
                key=lambda r: -r["shrunk_rate"])[:5]
    print("\n## Top shrunk per-user purchase rates")
    for r in eb:
        print(f"- user {r['user_id']}: raw {r['raw_rate']} -> "
              f"shrunk {r['shrunk_rate']} (x = {r['x']}, n = {r['n']})")

    ci = run("q_conformal_interval")[0]
    print("\n## Conformal interval (target coverage 0.9)")
    print(f"- q_hat = {ci['q_hat']}, test coverage = {ci['coverage']} "
          f"({ci['n_covered']}/{ci['n_test']})")

    sp = run("q_sprt_daily")[-1]
    print("\n## Sequential test (latest day)")
    print(f"- {sp['day']}: cum LLR = {sp['cum_llr']}, "
          f"decision = {sp['decision']}")


if __name__ == "__main__":
    main()
