"""Bucketed tables co-locate joins: writing both sides bucketed by the
join key must eliminate the shuffle (no Exchange in the join plan) —
the at-scale answer for repeated fact-to-fact joins where neither side
broadcasts (SURVEY §4 / PLANS.md scale notes)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

N_BUCKETS = 8


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    # warehouse dir is a static conf — tables land in ./spark-warehouse
    # (gitignored) and are dropped (managed => files removed) on teardown.
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    (li.write.mode("overwrite").bucketBy(N_BUCKETS, "l_orderkey")
       .sortBy("l_orderkey").format("parquet").saveAsTable("li_bucketed"))
    (orders.withColumnRenamed("o_orderkey", "l_orderkey")
       .write.mode("overwrite").bucketBy(N_BUCKETS, "l_orderkey")
       .sortBy("l_orderkey").format("parquet").saveAsTable("ord_bucketed"))
    yield "li_bucketed", "ord_bucketed"
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    li_t, ord_t = bucketed_tables
    joined = spark.table(li_t).join(spark.table(ord_t), "l_orderkey").select(
        "l_orderkey", "l_quantity", "o_totalprice"
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    # and the join result is still correct
    n = joined.count()
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    expect = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    assert n == expect > 0


def test_unbucketed_join_does_shuffle(spark):
    # control: the same join over raw parquet shuffles (unless broadcast —
    # disable it for the check)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").withColumnRenamed(
            "o_orderkey", "l_orderkey"
        )
        plan = (
            li.join(orders, "l_orderkey")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange hashpartitioning" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_bucketed_fact_tables_join_eliminates_shuffle_and_sort(spark):
    """The content-addressed warehouse helper (sources/bucketing.py)
    behind the staged q_bucketed_join_revenue: same bucket count on both
    sides + one file per bucket => SortMergeJoin with NO Exchange and NO
    per-query Sort on the bucketed sides; and the helper is idempotent
    (second call returns the same catalog tables without rewriting)."""
    from nonconsumptive_spark.sources.bucketing import bucketed_fact_tables

    o_name, l_name = bucketed_fact_tables(spark, SF_SMALL)
    assert bucketed_fact_tables(spark, SF_SMALL) == (o_name, l_name)

    o, li = spark.table(o_name), spark.table(l_name)
    joined = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_quantity", "o_totalprice")
    # at test SF the orders side broadcasts (Catalyst picks the cheaper
    # plan and marks the scan "Bucketed: false (disabled by query
    # planner)"); disable broadcast to exercise the at-scale path, where
    # neither fact side fits a broadcast and bucketing is what saves the
    # shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        # the sortBy order is only USED when one file per bucket (the
        # repartition-before-write contract holds that) AND the legacy
        # sorted-scan conf is on (off by default since SPARK-28632: the
        # inferred ordering pins one task per bucket, which is the right
        # trade only when the per-query Sort is the bottleneck)
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        # rebuild: scan ordering is captured at plan creation
        joined2 = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_totalprice")
        plan2 = joined2._jdf.queryExecution().executedPlan().toString()
        assert "Sort " not in plan2, plan2
        assert "Exchange hashpartitioning" not in plan2, plan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "false")

    li_raw = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    o_raw = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    assert joined.count() == li_raw.join(
        o_raw, li_raw.l_orderkey == o_raw.o_orderkey).count() > 0


@pytest.mark.parametrize("sf_dir", ["s3a://bucket/sf0.001", "/nonexistent/sf"])
def test_bucketed_fact_tables_rejects_unstatable_input(spark, monkeypatch,
                                                       sf_dir):
    """A table that cannot be stat-ed has no content address: the helper
    raises, naming the input, before reading anything — it must not key
    on the bare path and reuse a stale layout registered under it."""
    import nonconsumptive_spark.queries as queries
    from nonconsumptive_spark.sources.bucketing import bucketed_fact_tables

    def no_read(*a, **kw):
        raise AssertionError("read before the stat check")

    monkeypatch.setattr(queries, "load", no_read)
    with pytest.raises(ValueError, match="orders.parquet"):
        bucketed_fact_tables(spark, sf_dir)


def test_corpus_tag_keeps_stat_string_format():
    """Existing layouts stay addressable: the tag is still the md5 of
    ``realpath:mtime_ns:size`` per table plus the bucket count."""
    import hashlib
    import os

    from nonconsumptive_spark.sources.bucketing import _corpus_tag

    parts = []
    for t in ("orders", "lineitem"):
        p = os.path.realpath(os.path.join(SF_SMALL, f"{t}.parquet"))
        st = os.stat(p)
        parts.append(f"{p}:{st.st_mtime_ns}:{st.st_size}")
    want = hashlib.md5("|".join(parts + ["8"]).encode()).hexdigest()[:12]
    assert _corpus_tag(SF_SMALL, 8) == want


def test_staged_bucketed_join_revenue_plan(spark):
    from nonconsumptive_spark.queries.promoted_r8 import STAGED

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = STAGED["q_bucketed_join_revenue"][0](spark, SF_SMALL)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the ONLY exchange is the final 5-row priority agg, never the join
        assert plan.count("Exchange hashpartitioning") <= 1, plan
        assert "SortMergeJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_bucketed_star_join_leg_ab(spark):
    """A/B of q_star_join_revenue's fact-to-fact leg on the bucketed
    layout: same star (dims broadcast), but lineitem joins orders via
    the content-addressed bucketed tables.  The flat plan shuffles both
    fact sides for the l_orderkey SortMergeJoin; the bucketed plan's
    ONLY hash exchange is the final (region, nation) aggregation — and
    the two variants return identical rows.  This is the pay-the-
    shuffle-once economics of sources/bucketing.py applied to the
    headline star join (verdict r7 item 8)."""
    from nonconsumptive_spark.queries import load
    from nonconsumptive_spark.sources.bucketing import bucketed_fact_tables

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        def star(li, o):
            c = F.broadcast(load(spark, SF_SMALL, "customer"))
            n = F.broadcast(load(spark, SF_SMALL, "nation"))
            r = F.broadcast(load(spark, SF_SMALL, "region"))
            return (
                li.join(o, li["l_orderkey"] == o["o_orderkey"])
                .join(c, o["o_custkey"] == c["c_custkey"])
                .join(n, c["c_nationkey"] == n["n_nationkey"])
                .join(r, n["n_regionkey"] == r["r_regionkey"])
                .groupBy(F.col("r_name").alias("region"),
                         F.col("n_name").alias("nation"))
                .agg(F.round(F.sum(F.col("l_extendedprice")
                                   * (1 - F.col("l_discount"))), 2)
                     .alias("revenue"),
                     F.count("*").alias("n_items"))
            )

        flat = star(load(spark, SF_SMALL, "lineitem"),
                    load(spark, SF_SMALL, "orders"))
        o_name, l_name = bucketed_fact_tables(spark, SF_SMALL)
        bucketed = star(spark.table(l_name), spark.table(o_name))

        flat_plan = flat._jdf.queryExecution().executedPlan().toString()
        b_plan = bucketed._jdf.queryExecution().executedPlan().toString()
        assert flat_plan.count("Exchange hashpartitioning") == 3, flat_plan
        assert b_plan.count("Exchange hashpartitioning") == 1, b_plan
        rows_flat = {tuple(r) for r in flat.collect()}
        rows_b = {tuple(r) for r in bucketed.collect()}
        assert rows_flat == rows_b and len(rows_flat) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
