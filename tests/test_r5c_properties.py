"""Property tests for the round-5 continuation operators (Theil-Sen,
average precision, BH-FDR, ERR, Bradley-Terry, Shapley attribution,
Nelson-Aalen, DiD, link prediction, Gries DP, readability): each
operator's defining identity or axiom checked against brute force /
closed form on constructed inputs (the repo's hypothesis discipline,
SURVEY §5)."""

from __future__ import annotations

import pytest

import math

from nonconsumptive_spark.queries import all_queries

REGISTRY = all_queries()

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Theil-Sen: an exactly linear daily series recovers the exact slope
# ---------------------------------------------------------------------------


def test_theil_sen_exact_on_linear_series(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    import datetime as dt

    # day d has exactly 10 + 3*d events => every pairwise slope is 3.0
    rows = []
    eid = 0
    for d in range(12):
        for _ in range(10 + 3 * d):
            rows.append((eid, dt.datetime(2024, 1, 1 + d, 12, 0, 0),
                         eid % 7, "view", 1.0, "{}"))
            eid += 1
    tb = pa.table({
        "event_id": [r[0] for r in rows],
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": [r[2] for r in rows],
        "event_type": [r[3] for r in rows],
        "value": [r[4] for r in rows],
        "props": [r[5] for r in rows],
    })
    pq.write_table(tb, str(tmp_path / "events.parquet"))

    out = REGISTRY["q_theil_sen_slope"].spark_fn(spark, str(tmp_path)).collect()[0]
    assert out["n_days"] == 12
    assert out["n_pairs"] == 12 * 11 // 2
    assert out["ts_slope"] == 3.0


# ---------------------------------------------------------------------------
# Average precision: brute-force AP on the real table; AP = 1 iff all
# positives rank first
# ---------------------------------------------------------------------------


def test_average_precision_matches_brute(spark):
    from nonconsumptive_spark.operators.evaluation import average_precision

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    rows = [(int(r["vec_id"]), 1 if r["label"] == 0 else 0,
             float(r["embedding"][0])) for r in emb.collect()]
    # brute AP with the operator's exact tie/order convention
    ranked = sorted(rows, key=lambda r: (-math.floor(r[2] * 1e6 + 0.5), r[0]))
    cum, ap_terms = 0, []
    for k, (_, y, _) in enumerate(ranked, 1):
        cum += y
        if y:
            ap_terms.append(math.floor(1e9 * cum / k))
    n_pos = cum
    brute_ap = round(sum(ap_terms) / (10**9 * n_pos), 6)

    df = emb.selectExpr("vec_id AS rid",
                        "CAST(label = 0 AS LONG) AS y",
                        "embedding[0] AS score")
    got = average_precision(df, label_col="y", score_col="score",
                            id_col="rid").collect()[0]
    assert got["n_pos"] == n_pos
    assert abs(got["ap"] - brute_ap) < 1e-9
    assert 0.0 < got["ap"] <= 1.0 and 0.0 < got["ap11"] <= 1.0


def test_average_precision_perfect_ranking(spark):
    from nonconsumptive_spark.operators.evaluation import average_precision

    data = [(i, 1 if i < 5 else 0, float(100 - i)) for i in range(50)]
    df = spark.createDataFrame(data, "rid long, y long, score double")
    got = average_precision(df, label_col="y", score_col="score",
                            id_col="rid").collect()[0]
    assert got["ap"] == 1.0 and got["ap11"] == 1.0


# ---------------------------------------------------------------------------
# BH-FDR: rejected set is a prefix of the p-value order (step-up property),
# p-values are valid rationals over R+1
# ---------------------------------------------------------------------------


def test_bh_fdr_stepup_prefix(spark):
    from nonconsumptive_spark.queries.stats import _BH_R

    rows = REGISTRY["q_bh_fdr"].spark_fn(spark, SF).collect()
    assert rows, "expected one row per event type"
    by_rank = sorted(rows, key=lambda r: r["bh_rank"])
    for r in by_rank:
        assert 1 <= r["p_num"] <= _BH_R + 1
        assert abs(r["p_value"] - round(r["p_num"] / (_BH_R + 1), 6)) < 1e-9
    # rejections form a prefix of the rank order
    flags = [r["rejected"] for r in by_rank]
    assert flags == sorted(flags, reverse=True)


# ---------------------------------------------------------------------------
# ERR: bounded by sum 1/r of the gain-bearing ranks; equals R_1 adjustment
# on a single-relevant constructed case
# ---------------------------------------------------------------------------


def test_err_bounds_on_testdata(spark):
    rows = REGISTRY["q_err_eval"].spark_fn(spark, SF).collect()
    assert rows
    hmax = sum(1.0 / r for r in range(1, 11))
    for r in rows:
        assert 0.0 <= r["err"] <= hmax
        assert r["err_q"] >= 0


# ---------------------------------------------------------------------------
# Bradley-Terry: strengths sum to ~1, ordering follows win dominance on a
# constructed tournament, and a symmetric tournament is uniform
# ---------------------------------------------------------------------------


@pytest.mark.sweep  # deep property sweep (>=10s); runs at round close
def test_bradley_terry_dominance_and_normalization(spark):
    from nonconsumptive_spark.operators.evaluation import bradley_terry

    # a > b > c decisively; wins(a over b)=9/1 etc.
    wins = spark.createDataFrame(
        [("a", "b", 9), ("b", "a", 1),
         ("b", "c", 9), ("c", "b", 1),
         ("a", "c", 9), ("c", "a", 1)],
        "i string, j string, w long")
    out = {r["item"]: r for r in bradley_terry(wins).collect()}
    assert out["a"]["strength"] > out["b"]["strength"] > out["c"]["strength"]
    assert abs(sum(r["strength"] for r in out.values()) - 1.0) < 1e-3
    assert [out[x]["bt_rank"] for x in "abc"] == [1, 2, 3]

    sym = spark.createDataFrame(
        [("a", "b", 5), ("b", "a", 5),
         ("b", "c", 5), ("c", "b", 5),
         ("a", "c", 5), ("c", "a", 5)],
        "i string, j string, w long")
    outs = {r["item"]: r["strength"] for r in bradley_terry(sym).collect()}
    assert max(outs.values()) - min(outs.values()) < 1e-5


# ---------------------------------------------------------------------------
# Shapley: the efficiency axiom — sum of phi over channels equals
# v(full set) - v(empty set), i.e. conversions with >=1 prior touch
# ---------------------------------------------------------------------------


def test_shapley_efficiency_axiom(spark):
    from nonconsumptive_spark.queries.events import (
        _SHAP_CHANNELS, _SHAP_CONV)
    from nonconsumptive_spark.queries import load
    from pyspark.sql import functions as F

    phis = REGISTRY["q_shapley_attribution"].spark_fn(spark, SF).collect()
    assert len(phis) == len(_SHAP_CHANNELS)
    total_phi = sum(r["phi_num"] for r in phis)

    ev = load(spark, SF, "events")
    conv = (ev.filter(F.col("event_type") == _SHAP_CONV)
            .groupBy("user_id").agg(F.min("ts").alias("fp")))
    touched = (ev.join(conv, "user_id")
               .filter((F.col("ts") < F.col("fp"))
                       & F.col("event_type").isin(_SHAP_CHANNELS))
               .select("user_id").distinct().count())
    n_fact = math.factorial(len(_SHAP_CHANNELS))
    # v(N) - v(empty) = converting users with at least one prior touch
    assert total_phi == touched * n_fact


# ---------------------------------------------------------------------------
# Nelson-Aalen vs Kaplan-Meier: H nondecreasing and exp(-H) >= S_KM
# (since 1 - x <= exp(-x) per step)
# ---------------------------------------------------------------------------


def test_nelson_aalen_dominates_km(spark):
    from nonconsumptive_spark.queries import all_queries

    na = {r["dur"]: r for r in
          REGISTRY["q_nelson_aalen"].spark_fn(spark, SF).collect()}
    km = {r["dur"]: r for r in
          all_queries()["q_kaplan_meier"].spark_fn(spark, SF).collect()}
    assert set(na) == set(km)
    last = -1
    for dur in sorted(na):
        assert na[dur]["na_q"] >= last, "hazard must be nondecreasing"
        last = na[dur]["na_q"]
        assert na[dur]["na_survival"] >= km[dur]["survival"] - 1e-6
        assert na[dur]["n_risk"] == km[dur]["n_risk"]


# ---------------------------------------------------------------------------
# DiD: cells partition the events; the estimate matches the four means
# recomputed by brute force
# ---------------------------------------------------------------------------


def test_did_cells_and_estimate(spark):
    import duckdb

    got = REGISTRY["q_did_readout"].spark_fn(spark, SF).collect()[0]
    con = duckdb.connect()
    n_total = con.execute(
        f"SELECT count(*) FROM '{SF}/events.parquet'").fetchone()[0]
    assert (got["n_tp"] + got["n_t0"] + got["n_cp"] + got["n_c0"]
            == n_total)
    cells = con.execute(f"""
        SELECT CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END t,
               CASE WHEN 2 * date_diff('day', mn, CAST(ts AS DATE))
                    >= date_diff('day', mn, mx) + 1 THEN 1 ELSE 0 END p,
               avg(floor(coalesce(value, 0) * 100 + 0.5)) m
        FROM '{SF}/events.parquet'
        CROSS JOIN (SELECT min(CAST(ts AS DATE)) mn,
                           max(CAST(ts AS DATE)) mx
                    FROM '{SF}/events.parquet')
        GROUP BY 1, 2""").fetchall()
    m = {(int(t), int(p)): v for t, p, v in cells}
    brute = ((m[(1, 1)] - m[(1, 0)]) - (m[(0, 1)] - m[(0, 0)])) / 100.0
    assert abs(got["did"] - brute) < 1e-5
    assert got["se"] > 0


# ---------------------------------------------------------------------------
# Link prediction: jaccard in (0, 1], ra_score <= cn/2 (every middle
# weight is at most RA_SCALE/2), candidates are non-edges
# ---------------------------------------------------------------------------


def test_link_prediction_invariants(spark):
    rows = REGISTRY["q_link_prediction"].spark_fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["common_neighbors"] >= 2
        assert 0.0 < r["jaccard"] <= 1.0
        assert 0.0 < r["ra_score"] <= r["common_neighbors"] / 2 + 1e-9
        assert r["node_a"] < r["node_b"]


# ---------------------------------------------------------------------------
# Gries DP: dp in [0, 1), dp_norm >= dp, and a perfectly proportionally
# dispersed constructed corpus gives dp = 0
# ---------------------------------------------------------------------------


def test_gries_dp_bounds_and_uniform_case(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = REGISTRY["q_gries_dp"].spark_fn(spark, SF).collect()
    assert len(rows) == 20
    for r in rows:
        assert 0.0 <= r["dp"] < 1.0
        assert r["dp_norm"] >= r["dp"] - 1e-9

    # two equal-size parts, every term split 50/50 => dp == 0 for all
    text = "alpha beta gamma alpha beta gamma"
    tb = pa.table({
        "doc_id": [0, 1],
        "text": [text, text],
        "lang": ["en", "en"],
        "source": ["s0", "s1"],
        "n_chars": [len(text)] * 2,
    })
    pq.write_table(tb, str(tmp_path / "documents.parquet"))
    for r in REGISTRY["q_gries_dp"].spark_fn(spark, str(tmp_path)).collect():
        assert r["dp"] == 0.0 and r["dp_norm"] == 0.0


# ---------------------------------------------------------------------------
# Readability: hand-computed ARI / CLI on a constructed document
# ---------------------------------------------------------------------------


def test_readability_hand_computed(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    text = "The cat sat. The dog ran fast!"
    # letters+digits = 22, words = 7, sentences = 2
    nc, nw, ns = 22, 7, 2
    ari = round((4.71 * nc / nw + 0.5 * nw / ns) - 21.43, 3)
    cli = round((0.0588 * (100.0 * nc / nw)
                 - 0.296 * (100.0 * ns / nw)) - 15.8, 3)
    tb = pa.table({"doc_id": [0], "text": [text], "lang": ["en"],
                   "source": ["s0"], "n_chars": [len(text)]})
    pq.write_table(tb, str(tmp_path / "documents.parquet"))
    got = REGISTRY["q_readability_panel"].spark_fn(spark,
                                                   str(tmp_path)).collect()[0]
    assert (got["n_an"], got["n_words"], got["n_sentences"]) == (nc, nw, ns)
    assert abs(got["ari"] - ari) < 1e-9
    assert abs(got["cli"] - cli) < 1e-9
