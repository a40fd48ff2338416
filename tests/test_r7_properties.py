"""Property tests for Ljung-Box, Mood's median and Cochran's Q
(queries/stats.py) and the bucketed join (queries/relational.py):
Ljung-Box vanishes on a constant series and grows on a constructed
alternating one, Mood's median test hits its closed-form extremes on
identical / disjoint samples, Cochran's Q matches a hand-computed value
and NULLs out on the degenerate all-types-every-day design, and the
bucketed join equals its flat-parquet twin (plan assertions live in
tests/test_bucketing.py)."""

from __future__ import annotations

from datetime import datetime, timedelta

from nonconsumptive_spark.queries import all_queries

REGISTRY = all_queries()

SF = "/root/testdata/sf0.001"


def _events_dir(spark, tmp_path, rows):
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double"
    ).coalesce(1).write.mode("overwrite").parquet(d + "/events.parquet")
    return d


def test_ljung_box_constant_series_is_zero(spark, tmp_path):
    """A flat daily series has den = 0 -> every contribution and Q are
    exactly 0 (the guarded branch, not a tiny float)."""
    t0 = datetime(2024, 1, 1)
    rows = [(i * 100 + j, t0 + timedelta(days=i), 1, "view", 1.0)
            for i in range(30) for j in range(5)]
    d = _events_dir(spark, tmp_path, rows)
    out = {r["lag"]: r for r in REGISTRY["q_ljung_box"].spark_fn(spark, d).collect()}
    assert set(out) == {1, 2, 3, 4, 5, 6, 7}
    for r in out.values():
        assert r["cq"] == 0 and r["q_stat"] == 0.0


def test_ljung_box_alternating_series_detects_autocorrelation(spark, tmp_path):
    """A strict 2-day alternation (1, 9, 1, 9, ...) has r_1 ~ -1 and
    r_2 ~ +1: Q grows fast and lag-ordering of the cumulative holds."""
    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for i in range(40):
        for j in range(1 if i % 2 == 0 else 9):
            rows.append((eid, t0 + timedelta(days=i), 1, "view", 1.0))
            eid += 1
    d = _events_dir(spark, tmp_path, rows)
    out = sorted(REGISTRY["q_ljung_box"].spark_fn(spark, d).collect(),
                 key=lambda r: r["lag"])
    # per-lag ACF signs via the exact integers: reconstruct r_k = num/den
    # indirectly through cq (= floor(1e12 * r_k^2 / n_pairs)): every lag
    # of a +-1-alternating series has |r_k| near 1, so cq ~ 1e12/n_pairs
    assert all(r["cq"] > 0 for r in out)
    # cumulative is non-decreasing and Q is large (white noise would put
    # Q_7 near 7; the alternation is maximally non-white)
    cums = [r["cum_q"] for r in out]
    assert cums == sorted(cums)
    assert out[-1]["q_stat"] > 100


def _docs_dir(spark, tmp_path, texts):
    d = str(tmp_path)
    spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")
    return d


def test_mood_median_identical_groups_is_zero(spark, tmp_path):
    """Even and odd docs with the SAME length multiset -> the 2x2 table
    is perfectly balanced and chi2 = 0 exactly."""
    texts = []
    for _ in range(10):          # doc_ids alternate even/odd as appended
        texts.append("a b c")    # even: 3 tokens
        texts.append("a b c")    # odd: 3 tokens
        texts.append("a b c d e f")
        texts.append("a b c d e f")
    d = _docs_dir(spark, tmp_path, texts)
    row = REGISTRY["q_mood_median"].spark_fn(spark, d).collect()[0]
    assert row["a"] == row["c"] and row["b"] == row["d"]
    assert row["chi2"] == 0.0


def test_mood_median_disjoint_groups_hits_max(spark, tmp_path):
    """Even docs all shorter than the median, odd docs all longer:
    a = 0 and d = 0, so chi2 = N (the 2x2 maximum N(ad-bc)^2/(n0 n1 c1 c2)
    with |ad-bc| = bc = n0*n1)."""
    texts = []
    for _ in range(12):
        texts.append("a b")                    # even: 2 tokens
        texts.append("a b c d e f g h i j")    # odd: 10 tokens
    d = _docs_dir(spark, tmp_path, texts)
    row = REGISTRY["q_mood_median"].spark_fn(spark, d).collect()[0]
    assert row["med"] == 2          # lower median of {2 x12, 10 x12}
    assert row["a"] == 0 and row["b"] == 12   # evens at/below median
    assert row["c"] == 12 and row["d"] == 0   # odds above
    assert row["chi2"] == 24.0      # == N


def test_cochran_q_degenerate_design_is_null(spark, tmp_path):
    """Every type fires every day -> kN = sum R_i^2 -> denominator 0 ->
    mirrored NULL."""
    t0 = datetime(2024, 1, 1)
    rows = [(i * 10 + j, t0 + timedelta(days=i), 1, t, 1.0)
            for i in range(5) for j, t in enumerate(["a", "b", "c"])]
    d = _events_dir(spark, tmp_path, rows)
    row = REGISTRY["q_cochran_q"].spark_fn(spark, d).collect()[0]
    assert row["k"] == 3 and row["n_days"] == 5
    assert row["q"] is None


def test_cochran_q_matches_hand_computation(spark, tmp_path):
    """4 days x 3 types with presence matrix
        day1: a b    day2: a      day3: a b c     day4: a
    C = (4, 2, 1), R = (2, 1, 3, 1), N = 7, k = 3:
    Q = (k-1)(k*sumC2 - N^2)/(kN - sumR2)
      = 2*(3*21 - 49)/(21 - 15) = 2*14/6 = 4.6667."""
    t0 = datetime(2024, 1, 1)
    design = [("a", 0), ("b", 0), ("a", 1), ("a", 2), ("b", 2), ("c", 2),
              ("a", 3)]
    rows = [(i, t0 + timedelta(days=day), 1, t, 1.0)
            for i, (t, day) in enumerate(design)]
    d = _events_dir(spark, tmp_path, rows)
    row = REGISTRY["q_cochran_q"].spark_fn(spark, d).collect()[0]
    assert (row["k"], row["n_days"], row["n_present"]) == (3, 4, 7)
    assert (row["sum_r2"], row["sum_c2"]) == (15, 21)
    assert row["q"] == 4.6667


def test_bucketed_join_equals_flat_join(spark):
    """The bucketed layout changes the plan, never the result."""
    from pyspark.sql import functions as F

    got = {tuple(r) for r in
           REGISTRY["q_bucketed_join_revenue"].spark_fn(spark, SF).collect()}
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet")
    flat = (li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(F.count("*").alias("n_items"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue")))
    assert got == {tuple(r) for r in flat.collect()} and len(got) == 5
