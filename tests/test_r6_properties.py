"""Property tests for Cox PH, the rank trend tests (queries/stats.py),
pinball loss (queries/evaluation.py) and mixture materialization
(queries/textstats.py): Cox PH recovers a closed-form hazard ratio on a
constructed two-cohort conversion table, the pinball readout's quantile
actually minimizes the loss, and the mixture materialization's integer
accounting closes."""

from __future__ import annotations

from datetime import datetime, timedelta

import duckdb
import pytest

from nonconsumptive_spark.queries import all_queries

REGISTRY = all_queries()

SF = "/root/testdata/sf0.001"


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string")


def test_cox_recovers_sqrt3_hazard_ratio(spark):
    """Two cohorts, two event times: treat converts 15@1h + 5@3h,
    control 5@1h + 15@3h.  The Breslow partial-likelihood score
    1 = theta/(1+theta) + theta/(3+theta) has the closed-form root
    theta* = sqrt(3) — Newton from 1.0 must land on it."""
    from nonconsumptive_spark.operators.survival import cox_ph_binary

    t0 = datetime(2024, 1, 1)
    rows = []
    odd = [2 * i + 1 for i in range(20)]   # treat cohort (g = 1)
    even = [2 * i + 2 for i in range(20)]  # control
    for u in odd[:15] + even[:5]:
        rows += [(u, t0, "signup"),
                 (u, t0 + timedelta(minutes=90), "purchase")]
    for u in odd[15:] + even[5:]:
        rows += [(u, t0, "signup"),
                 (u, t0 + timedelta(minutes=210), "purchase")]
    out = cox_ph_binary(_events(spark, rows)).collect()[0]
    assert out["n_treat"] == 20 and out["n_control"] == 20
    assert out["d_total"] == 40 and out["d_treat"] == 20
    assert out["theta"] == pytest.approx(3 ** 0.5, abs=1e-4)
    assert out["beta"] == pytest.approx(0.549306, abs=1e-4)
    # converged: the final round's quantized score is ~0
    assert abs(out["us"]) < out["js"] // 1000


def test_cox_fully_censored_is_identity(spark):
    """No purchases anywhere -> every Newton round is a no-op."""
    from nonconsumptive_spark.operators.survival import cox_ph_binary

    t0 = datetime(2024, 1, 1)
    rows = []
    for u in range(1, 11):
        rows += [(u, t0, "signup"),
                 (u, t0 + timedelta(hours=u), "click")]
    out = cox_ph_binary(_events(spark, rows)).collect()[0]
    assert out["d_total"] == 0 and out["us"] == 0 and out["js"] == 0
    assert out["theta"] == 1.0 and out["beta"] == 0.0
    assert out["se_beta"] is None


def test_pinball_quantile_minimizes_loss(spark):
    """The ceil(tau*n) order statistic minimizes pinball loss: shifting
    the pivot by +-1 cent can never do better (ties allowed)."""
    rows = REGISTRY["q_pinball_quantile"].spark_fn(spark, SF).collect()
    assert rows
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{SF}/lineitem.parquet'")
    for r in rows:
        for delta in (-1, 1):
            alt = con.sql(f"""
                SELECT sum(CASE WHEN v >= {r['q_hat_cents'] + delta}
                           THEN 3 * (v - ({r['q_hat_cents'] + delta}))
                           ELSE 1 * (({r['q_hat_cents'] + delta}) - v) END)
                FROM (SELECT CAST(floor(100.0 * l_extendedprice + 0.5)
                             AS BIGINT) AS v
                      FROM lineitem
                      WHERE l_returnflag = '{r['flag']}')
            """).fetchone()[0]
            assert r["loss_q"] <= alt, (r["flag"], delta)


def test_mixture_materialize_accounting_closes(spark):
    """target = full_epochs * n_tokens + rem_budget exactly; the selected
    remainder never exceeds its budget; sqrt-temperature upsamples the
    smallest source harder than the largest (ratio ordering)."""
    rows = {r["source"]: r for r in
            REGISTRY["q_mixture_materialize"].spark_fn(spark, SF).collect()}
    assert rows
    budget = sum(r["n_tokens"] for r in rows.values())
    assert sum(r["target"] for r in rows.values()) <= budget
    for r in rows.values():
        assert r["target"] == (r["full_epochs"] * r["n_tokens"]
                               + r["rem_budget"])
        assert r["rem_tokens"] <= r["rem_budget"]
        assert r["rem_docs"] <= r["n_docs"]
    small = min(rows.values(), key=lambda r: r["n_tokens"])
    large = max(rows.values(), key=lambda r: r["n_tokens"])
    if small["n_tokens"] < large["n_tokens"]:
        assert (small["target"] / small["n_tokens"]
                >= large["target"] / large["n_tokens"])


def _docs_dir(spark, tmp_path, rows):
    d = str(tmp_path / "synth")
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


def test_jonckheere_exact_on_perfect_trend(spark, tmp_path):
    """Three ordered groups with strictly increasing lengths and no ties:
    every cross-group pair is concordant, so u2 = 2 * (#pairs) = 24 and
    z > 0."""
    rows = [(1, "w", "a"), (2, "w w", "a"),
            (3, "w w w", "b"), (4, "w w w w", "b"),
            (5, "w w w w w", "c"), (6, "w w w w w w", "c")]
    out = REGISTRY["q_jonckheere_trend"].spark_fn(
        spark, _docs_dir(spark, tmp_path, rows)).collect()[0]
    assert out["n_total"] == 6 and out["n_groups"] == 3
    assert out["u2"] == 24
    assert out["z"] > 0


def test_ansari_bradley_exact_scores(spark, tmp_path):
    """Even docs at extreme lengths {1,9}, odd docs all centered at 5:
    doubled scores are 3/9/3, treat sum A2 = 36, z = 12/sqrt(144/7)."""
    rows = [(2, "w", "s"), (4, "w", "s"),
            (6, " ".join(["w"] * 9), "s"), (8, " ".join(["w"] * 9), "s"),
            (1, "w w w w w", "s"), (3, "w w w w w", "s"),
            (5, "w w w w w", "s"), (7, "w w w w w", "s")]
    out = REGISTRY["q_ansari_bradley"].spark_fn(
        spark, _docs_dir(spark, tmp_path, rows)).collect()[0]
    assert out["n_total"] == 8 and out["n_treat"] == 4
    assert out["a2"] == 36 and out["s1"] == 48 and out["sq"] == 360
    assert out["z"] == pytest.approx(12 / (144 / 7) ** 0.5, abs=1e-5)


def test_lm_interp_prefers_bigram_on_structured_text(spark, tmp_path):
    """Perfectly predictable bigrams (b always follows a) make the
    held-out likelihood monotone in lambda -> argmax at k = 9."""
    txt = "a b " * 20
    rows = [(i, txt, "s") for i in range(1, 9)]
    out = REGISTRY["q_lm_interp_tune"].spark_fn(
        spark, _docs_dir(spark, tmp_path, rows)).collect()
    assert len(out) == 9
    assert sum(1 for r in out if r["is_best"]) == 1
    best = max(out, key=lambda r: r["logprob_q"])
    assert best["k"] == 9 and best["is_best"]
    assert len({r["held_bigrams"] for r in out}) == 1


def test_page_trend_perfect_ordering(spark):
    """Counts strictly increasing along the lexicographic type order on
    every day: L2 per block = 2 * sum(j^2) = 28 for k = 3, z > 0."""
    from datetime import datetime

    rows = []
    for d in range(1, 6):
        t0 = datetime(2024, 1, d)
        for j, (etype, cnt) in enumerate([("a", 1), ("b", 2), ("c", 3)]):
            for i in range(cnt):
                rows.append((d * 100 + j * 10 + i, t0, 7, etype))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string")
    import tempfile
    d = tempfile.mkdtemp(prefix="page_")
    ev.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = REGISTRY["q_page_trend"].spark_fn(spark, d).collect()[0]
    assert out["n_days"] == 5 and out["k_types"] == 3
    assert out["l2"] == 5 * 28
    assert out["z"] > 0


def test_threshold_curve_consistent_with_minhash_pairs(spark):
    """pairs_ge at bucket 5 must equal the headline q_minhash_dedup_pairs
    row count (threshold 0.5 on the same rounded jaccard), and the
    cumulative column must reconcile with the per-bucket counts."""
    from nonconsumptive_spark.queries import all_queries

    curve = {r["bucket"]: r for r in
             REGISTRY["q_dedup_threshold_curve"].spark_fn(spark, SF).collect()}
    assert curve
    total = 0
    for b in sorted(curve, reverse=True):
        total += curve[b]["n_pairs"]
        assert curve[b]["pairs_ge"] == total
    n_at_5 = sum(r["n_pairs"] for b, r in curve.items() if b >= 5)
    headline = all_queries()["q_minhash_dedup_pairs"].spark_fn(
        spark, SF).count()
    assert n_at_5 == headline
