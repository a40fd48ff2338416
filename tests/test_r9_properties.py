"""Property tests for the paired / post-hoc / effect-size rank tests
(queries/stats.py): Wilcoxon signed-rank hits its closed-form extreme
when every user shifts the same way, Dunn's z vanishes on
identically-distributed sources and signs correctly on disjoint ones,
and Cliff's delta hits +1 / 0 on disjoint / identical groups."""

from __future__ import annotations

from datetime import datetime, timedelta

from nonconsumptive_spark.queries import all_queries

REGISTRY = all_queries()


def _events_dir(spark, tmp_path, rows):
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double"
    ).coalesce(1).write.mode("overwrite").parquet(d + "/events.parquet")
    return d


def _docs_dir(spark, tmp_path, rows):
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")
    return d


def test_wilcoxon_all_positive_shift(spark, tmp_path):
    """Every user has strictly more second-half events -> every
    difference is positive: W2- = 0 and W2+ = n(n+1) (the doubled
    rank-sum total), z > 0."""
    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in range(1, 11):
        # 1 event in the first half, 1 + u in the second (distinct |d|
        # per user -> no ties, tie_q = 0)
        rows.append((eid, t0, u, "view", 1.0)); eid += 1
        for j in range(1 + u):
            rows.append((eid, t0 + timedelta(days=30, hours=j), u,
                         "view", 1.0)); eid += 1
    d = _events_dir(spark, tmp_path, rows)
    out = REGISTRY["q_wilcoxon_signed_rank"].spark_fn(spark, d).collect()[0]
    n = out["n_pairs"]
    assert n == 10
    assert out["w2_minus"] == 0
    assert out["w2_plus"] == n * (n + 1)
    assert out["tie_q"] == 0
    assert out["z"] > 0


def test_wilcoxon_symmetric_shift_is_zero(spark, tmp_path):
    """Five users shift up by k, five shift down by the same k -> W2+
    equals W2- exactly and z = 0."""
    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in range(1, 6):  # up-shifters: 1 first-half, 1+u second-half
        rows.append((eid, t0, u, "view", 1.0)); eid += 1
        for j in range(1 + u):
            rows.append((eid, t0 + timedelta(days=30, hours=j), u,
                         "view", 1.0)); eid += 1
    for u in range(11, 16):  # mirrored down-shifters
        rows.append((eid, t0 + timedelta(days=30), u, "view", 1.0)); eid += 1
        for j in range(1 + (u - 10)):
            rows.append((eid, t0 + timedelta(hours=j), u,
                         "view", 1.0)); eid += 1
    d = _events_dir(spark, tmp_path, rows)
    out = REGISTRY["q_wilcoxon_signed_rank"].spark_fn(spark, d).collect()[0]
    assert out["n_pairs"] == 10
    assert out["w2_plus"] == out["w2_minus"]
    assert out["z"] == 0.0


def test_dunn_identical_sources_z_zero(spark, tmp_path):
    """Two sources with the same length distribution share mean rank
    exactly -> z = 0.0 (integer rank sums, not approximately)."""
    rows = [(i, "t", "a", 10 + (i % 5)) for i in range(50)]
    rows += [(100 + i, "t", "b", 10 + (i % 5)) for i in range(50)]
    d = _docs_dir(spark, tmp_path, rows)
    out = REGISTRY["q_dunn_posthoc"].spark_fn(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["source_a"], r["source_b"]) == ("a", "b")
    assert r["z"] == 0.0


def test_dunn_disjoint_sources_sign(spark, tmp_path):
    """Source a's lengths all below source b's -> mean rank of a is
    smaller, z < 0 (a minus b ordering)."""
    rows = [(i, "t", "a", 10 + i) for i in range(20)]
    rows += [(100 + i, "t", "b", 1000 + i) for i in range(20)]
    d = _docs_dir(spark, tmp_path, rows)
    r = REGISTRY["q_dunn_posthoc"].spark_fn(spark, d).collect()[0]
    assert r["z"] < 0
    # closed form: mean doubled-ranks are n+1 and 3n+1 for two disjoint
    # equal-size groups of n
    n = 20
    assert r["r2a"] / r["na"] == n + 1
    assert r["r2b"] / r["nb"] == 3 * n + 1


def test_cliffs_delta_extremes(spark, tmp_path):
    """Even-id docs (group a) all longer than odd-id -> delta = +1;
    identical distributions -> delta = 0."""
    rows = [(2 * i, "t", "s", 1000 + i) for i in range(30)]       # a: big
    rows += [(2 * i + 1, "t", "s", 10 + i) for i in range(30)]    # b: small
    d = _docs_dir(spark, tmp_path, rows)
    r = REGISTRY["q_cliffs_delta"].spark_fn(spark, d).collect()[0]
    assert (r["na"], r["nb"]) == (30, 30)
    assert r["lt"] == 0 and r["ties"] == 0
    assert r["delta"] == 1.0

    rows = [(2 * i, "t", "s", 10 + (i % 3)) for i in range(30)]
    rows += [(2 * i + 1, "t", "s", 10 + (i % 3)) for i in range(30)]
    d = _docs_dir(spark, tmp_path.joinpath("eq"), rows)
    r = REGISTRY["q_cliffs_delta"].spark_fn(spark, d).collect()[0]
    assert r["gt"] == r["lt"]
    assert r["delta"] == 0.0
