"""Source-comparison report: the full battery for "how do these two
subcorpora differ?" in one run — the round-5 operator family end-to-end.

  * effect size:       Cohen's d / Hedges' g on document length
  * significance:      Welch's t (parametric) + seeded permutation test
                       (distribution-free)
  * stratified check:  Mantel-Haenszel long-document odds ratio across
                       languages (Simpson's-paradox-proof)
  * marker words:      frequency keyness (Dunning G²), presence zeta
                       (Craig), Bayesian-shrinkage log-odds (Monroe) —
                       three lenses on WHAT distinguishes the sources

Usage:  python examples/source_compare.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from nonconsumptive_spark.queries import all_queries
    from nonconsumptive_spark.session import get_spark

    spark = get_spark("source-compare", cpus=8, shuffle_partitions=8)
    reg = all_queries()

    def run(name):
        return reg[name].spark_fn(spark, sf_dir).collect()

    print(f"# Source comparison — {sf_dir}\n")

    d = sorted(run("q_cohens_d_sources"),
               key=lambda r: -abs(r["cohens_d"]))[0]
    print("## Largest length effect size")
    print(f"- {d['source_a']} vs {d['source_b']}: d = {d['cohens_d']}, "
          f"Hedges g = {d['hedges_g']} (n = {d['n_a']}/{d['n_b']})")

    p = run("q_permutation_test")[0]
    print("\n## Permutation test (two first sources, mean length)")
    print(f"- observed |diff| = {p['diff_obs_q'] / 1e6:.3f}, "
          f"p = {p['p_value']} over {p['n_eff']} seeded reassignments")

    mh = run("q_mantel_haenszel")[0]
    print("\n## Mantel-Haenszel (long-doc rate, stratified by lang)")
    print(f"- common OR = {mh['mh_odds_ratio']} across "
          f"{mh['n_strata']} strata")

    print("\n## Marker words (three lenses)")
    key = [r for r in run("q_keyness_terms") if r["overused"]][:5]
    print("- keyness (frequency):",
          ", ".join(f"{r['source']}:{r['token']}" for r in key))
    zeta = run("q_zeta_markers")
    print("- zeta (presence):    ",
          ", ".join(f"{r['side']}:{r['token']}" for r in zeta[:5]))
    lo = run("q_log_odds_dirichlet")
    print("- log-odds (shrunk):  ",
          ", ".join(f"{r['side']}:{r['token']} z={r['z']:.1f}"
                    for r in lo[:5]))


if __name__ == "__main__":
    main()
