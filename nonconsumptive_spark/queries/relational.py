"""Relational operator queries (SURVEY.md §2.2-§2.7 [Q] rows) over the
TPC-H-ish test tables, plus the warehouse audits (bucketed joins,
key skew, referential integrity) and retail analytics on the star.

Every query is a declarative DataFrame plan — Catalyst handles predicate
pushdown, column pruning, join strategy selection; the explicit
``F.broadcast`` hints mark dimension joins that must never shuffle the fact
side at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nonconsumptive_spark.queries import load, register


# --------------------------------------------------------------------------
# A9 / A1-analog: TPC-H Q1 pricing summary (grouped aggregation).
@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                       AS sum_qty,
           round(sum(l_extendedprice), 2)                                  AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)               AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4)                                       AS avg_qty,
           round(avg(l_extendedprice), 4)                                  AS avg_price,
           round(avg(l_discount), 4)                                       AS avg_disc,
           CAST(count(*) AS BIGINT)                                        AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Grouped agg with partial/final hash aggregation (SURVEY A9).",
)
def q1_pricing_summary(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# J5: star join lineitem⋈orders⋈customer⋈nation⋈region.
@register(
    "q_star_join_revenue",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN nation n    ON c.c_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    doc="Star join; dims broadcast so the fact table never shuffles for the "
        "joins (SURVEY J5).",
)
def q_star_join_revenue(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# P2: point filter by id.
@register(
    "q_point_lookup",
    oracle="SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id = 42",
    doc="Point predicate pushed to parquet row-group stats (SURVEY P2).",
)
def q_point_lookup(spark, sf_dir):
    return (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") == 42)
        .select("doc_id", "lang", "source", "n_chars")
    )


# --------------------------------------------------------------------------
# P1: projection + filter pushdown.
@register(
    "q_filter_projection",
    oracle="""
    SELECT l_orderkey, round(l_extendedprice, 2) AS price
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1997-01-01 00:00:00' AND l_quantity < 5
    """,
    doc="2-column projection + conjunctive predicate; scan must prune columns "
        "and push both filters (SURVEY P1).",
)
def q_filter_projection(spark, sf_dir):
    return (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_quantity") < 5)
        )
        .select("l_orderkey", F.round("l_extendedprice", 2).alias("price"))
    )


# --------------------------------------------------------------------------
# O1/O2: top-k by aggregate (TakeOrderedAndProject).
@register(
    "q_topk_customers",
    oracle="""
    SELECT c_custkey, round(sum(o_totalprice), 2) AS total_spend,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey
    ORDER BY total_spend DESC, c_custkey ASC
    LIMIT 10
    """,
    doc="Sort+limit compiles to top-k, no global sort (SURVEY O1/O2).",
)
def q_topk_customers(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
            F.count("*").alias("n_orders"),
        )
        .orderBy(F.desc("total_spend"), F.asc("c_custkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# W2/W3: ranking window.
@register(
    "q_window_rank",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey,
             CAST(row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate DESC, o_orderkey ASC) AS BIGINT) AS rn
      FROM orders)
    WHERE rn <= 3
    """,
    doc="row_number over (customer, recency); deterministic tie-break on key "
        "(SURVEY W2/W3).",
)
def q_window_rank(spark, sf_dir):
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.asc("o_orderkey"))
    return (
        load(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


# --------------------------------------------------------------------------
# A5/U2: distinct cardinalities (exact).
@register(
    "q_distinct_cardinality",
    oracle="""
    SELECT CAST(count(DISTINCT l_partkey) AS BIGINT)  AS n_parts,
           CAST(count(DISTINCT l_suppkey) AS BIGINT)  AS n_supps,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
    FROM lineitem
    """,
    doc="Exact distinct counts (SURVEY A5/U2); approx_count_distinct is the "
        "opt-in scale variant (not oracle-comparable).",
)
def q_distinct_cardinality(spark, sf_dir):
    return load(spark, sf_dir, "lineitem").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


# --------------------------------------------------------------------------
# A6: quantiles (exact percentile with linear interpolation — both engines).
@register(
    "q_quantiles",
    oracle="""
    SELECT round(CAST(quantile_cont(o_totalprice, 0.25) AS DOUBLE), 3) AS p25,
           round(CAST(quantile_cont(o_totalprice, 0.50) AS DOUBLE), 3) AS p50,
           round(CAST(quantile_cont(o_totalprice, 0.75) AS DOUBLE), 3) AS p75,
           round(CAST(quantile_cont(o_totalprice, 0.95) AS DOUBLE), 3) AS p95,
           round(CAST(min(o_totalprice) AS DOUBLE), 3) AS lo,
           round(CAST(max(o_totalprice) AS DOUBLE), 3) AS hi
    FROM orders
    """,
    doc="Exact interpolated percentiles (SURVEY A6); percentile_approx is the "
        "scale path.",
)
def q_quantiles(spark, sf_dir):
    df = load(spark, sf_dir, "orders")
    return df.agg(
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 3).alias("p25"),
        F.round(F.expr("percentile(o_totalprice, 0.50)"), 3).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.75)"), 3).alias("p75"),
        F.round(F.expr("percentile(o_totalprice, 0.95)"), 3).alias("p95"),
        F.round(F.min("o_totalprice"), 3).alias("lo"),
        F.round(F.max("o_totalprice"), 3).alias("hi"),
    )


# --------------------------------------------------------------------------
# A7: top-K categories with deterministic tie-break.
@register(
    "q_topk_categories",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    ORDER BY n DESC, event_type ASC
    LIMIT 10
    """,
    doc="Top-10 category values (SURVEY A7), the reference's field-metadata "
        "top_values (catalog.py:426-427).",
)
def q_topk_categories(spark, sf_dir):
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("event_type"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# P6/F5: regex-share vote (the reference's date-likeness ballot).
@register(
    "q_regex_vote",
    oracle="""
    SELECT round(avg(CASE WHEN regexp_matches(p_type, '^(small|large)') THEN 1 ELSE 0 END), 4) AS share_sized,
           round(avg(CASE WHEN regexp_matches(p_name, 'steel') THEN 1 ELSE 0 END), 4)         AS share_steel
    FROM part
    """,
    doc="avg(rlike) voting, the schema-inference date ballot generalized "
        "(SURVEY P6, reference catalog.py:363-364).",
)
def q_regex_vote(spark, sf_dir):
    p = load(spark, sf_dir, "part")
    return p.agg(
        F.round(F.avg(F.col("p_type").rlike("^(small|large)").cast("int")), 4).alias("share_sized"),
        F.round(F.avg(F.col("p_name").rlike("steel").cast("int")), 4).alias("share_steel"),
    )


# --------------------------------------------------------------------------
# J7: anti join (duplicate/orphan suppression semantics).
@register(
    "q_anti_join",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_customers_without_orders
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="left_anti join (SURVEY J7).",
)
def q_anti_join(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .agg(F.count("*").alias("n_customers_without_orders"))
    )


# --------------------------------------------------------------------------
# Semi join (EXISTS).
@register(
    "q_semi_join",
    oracle="""
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_active
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
    doc="left_semi join then agg.",
)
def q_semi_join(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_active"))
    )


# --------------------------------------------------------------------------
# U1: union-all of shards then re-aggregate.
@register(
    "q_union_shards",
    oracle="""
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n
    FROM (
      SELECT l_returnflag FROM lineitem WHERE l_linenumber % 2 = 0
      UNION ALL
      SELECT l_returnflag FROM lineitem WHERE l_linenumber % 2 = 1
    )
    GROUP BY l_returnflag
    """,
    doc="unionByName over shard reads (SURVEY U1); total must equal the "
        "unsharded count.",
)
def q_union_shards(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    even = li.filter(F.col("l_linenumber") % 2 == 0).select("l_returnflag")
    odd = li.filter(F.col("l_linenumber") % 2 == 1).select("l_returnflag")
    return even.unionByName(odd).groupBy("l_returnflag").agg(F.count("*").alias("n"))


# --------------------------------------------------------------------------
# Set ops beyond the reference (extension surface, SURVEY §2.7).
@register(
    "q_except_intersect",
    oracle="""
    SELECT 'only_small' AS side, CAST(count(*) AS BIGINT) AS n FROM (
       SELECT DISTINCT p_brand FROM part WHERE p_size < 10
       EXCEPT
       SELECT DISTINCT p_brand FROM part WHERE p_size >= 40)
    UNION ALL
    SELECT 'both' AS side, CAST(count(*) AS BIGINT) AS n FROM (
       SELECT DISTINCT p_brand FROM part WHERE p_size < 10
       INTERSECT
       SELECT DISTINCT p_brand FROM part WHERE p_size >= 40)
    """,
    doc="intersect/except distinct-set semantics (Spark extension over the "
        "reference).",
)
def q_except_intersect(spark, sf_dir):
    p = load(spark, sf_dir, "part")
    small = p.filter(F.col("p_size") < 10).select("p_brand").distinct()
    large = p.filter(F.col("p_size") >= 40).select("p_brand").distinct()
    only_small = small.subtract(large)  # EXCEPT (distinct set semantics)
    both = small.intersect(large)
    a = only_small.agg(F.count("*").alias("n")).select(F.lit("only_small").alias("side"), "n")
    b = both.agg(F.count("*").alias("n")).select(F.lit("both").alias("side"), "n")
    return a.unionByName(b)


# --------------------------------------------------------------------------
# Rollup (extension; DuckDB supports ROLLUP too).
@register(
    "q_rollup_revenue",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="Hierarchical rollup aggregation (Spark extension; SURVEY §2.4 note).",
)
def q_rollup_revenue(spark, sf_dir):
    return (
        load(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("revenue"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
        )
    )


# --------------------------------------------------------------------------
# F7/F8: date extraction / grouping by date parts.
@register(
    "q_orders_by_month",
    oracle="""
    SELECT CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS ym,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY 1
    """,
    doc="Timestamp → calendar bucketing (SURVEY F7/F8).",
)
def q_orders_by_month(spark, sf_dir):
    return (
        load(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("ym"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# J3/W3: frequency-ordered dictionary encoding (build + probe).
@register(
    "q_dict_encode",
    oracle="""
    WITH dim AS (
      SELECT o_orderpriority AS value,
             CAST(row_number() OVER (ORDER BY count(*) DESC, o_orderpriority ASC) - 1 AS BIGINT) AS code
      FROM orders GROUP BY o_orderpriority)
    SELECT o.o_orderpriority AS value, d.code,
           CAST(count(*) AS BIGINT) AS n
    FROM orders o JOIN dim d ON o.o_orderpriority = d.value
    GROUP BY o.o_orderpriority, d.code
    """,
    doc="The reference's frequency-ordered dictionary encode (SURVEY J3/W3, "
        "catalog.py:375-402): build dim by count desc with value tie-break, "
        "probe via broadcast join.",
)
def q_dict_encode(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    w = Window.orderBy(F.desc("n"), F.asc("value"))
    dim = (
        o.groupBy(F.col("o_orderpriority").alias("value"))
        .agg(F.count("*").alias("n"))
        .select("value", (F.row_number().over(w) - 1).cast("long").alias("code"))
    )
    return (
        o.join(F.broadcast(dim), o.o_orderpriority == dim.value)
        .groupBy("value", "code")
        .agg(F.count("*").alias("n"))
    )


# --------------------------------------------------------------------------
# A11: duplicate-id guard (reference hard-errors on duplicate catalog ids,
# catalog.py:248-250 — here as the count == countDistinct assertion query).
@register(
    "q_dup_id_guard",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_ids,
           count(*) = count(DISTINCT o_orderkey) AS ids_unique
    FROM orders
    """,
    doc="A11: duplicate-primary-key audit — row count vs distinct-id count "
        "plus the uniqueness verdict, one aggregation pass.",
)
def q_dup_id_guard(spark, sf_dir):
    return load(spark, sf_dir, "orders").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("o_orderkey").alias("n_ids"),
        (F.count("*") == F.countDistinct("o_orderkey")).alias("ids_unique"),
    )


# --------------------------------------------------------------------------
# O4/W2: multi-key total order made observable as a dense row number (the
# reference sorts ngram output by (row_nr, word cols), transformations.py:238).
@register(
    "q_multikey_sort",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS BIGINT) AS rn
    FROM lineitem
    WHERE l_orderkey < 1000
    """,
    doc="O4: multi-key sort (orderkey, linenumber) verified by materializing "
        "the rank — the hash compare then proves the total order, not just "
        "the row set.",
)
def q_multikey_sort(spark, sf_dir):
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    w = Window.orderBy("l_orderkey", "l_linenumber")
    return li.select(
        "l_orderkey", "l_linenumber",
        F.row_number().over(w).cast("long").alias("rn"),
    )


# --------------------------------------------------------------------------
# Skew-robust join (extension): salted equi-join must be result-identical
# to the plain join — the oracle IS the plain join.
@register(
    "q_salted_join_revenue",
    oracle="""
    SELECT o.o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
    doc="Skew-robust salted join (operators/skew.py): lineitem salted on "
        "deterministic row hash, orders replicated per salt; joined on "
        "(orderkey, salt) so a hot orderkey spreads over n_salt partitions. "
        "Result-identical to the plain join, which is the oracle.",
)
def q_salted_join_revenue(spark, sf_dir):
    from nonconsumptive_spark.operators.skew import salted_join

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), orders,
        key="o_orderkey", n_salt=8, salt_cols=["l_linenumber"],
    )
    return joined.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").alias("n_items"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
    )


# --------------------------------------------------------------------------
# TPC-H Q3 shape: selective multi-join + agg + top-k by computed measure.
@register(
    "q_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(strftime(o.o_orderdate, '%Y-%m-%d') AS VARCHAR) AS orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND l.l_shipdate > TIMESTAMP '1997-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
    doc="TPC-H Q3 shape (J5/O1/O2/A9): segment-filtered customer broadcast "
        "into orders, orders broadcast into lineitem, group by order, "
        "top-10 by revenue with deterministic tie-break — both filters "
        "pushed to the parquet scans.",
)
def q_shipping_priority(spark, sf_dir):
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < "1997-01-01")
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > "1997-01-01")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return (
        li.join(F.broadcast(orders.join(F.broadcast(cust),
                                        orders.o_custkey == cust.c_custkey)),
                li.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(
            "l_orderkey", "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# Grouping sets (extension: absent in the reference, free in Spark —
# SURVEY §2.4 note).
@register(
    "q_grouping_sets",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l_quantity), 2) AS qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    """,
    doc="GROUPING SETS extension (SURVEY §2.4: absent in reference, free in "
        "Spark): per-flag, per-status, and per-pair aggregates in one pass.",
)
def q_grouping_sets(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__li")
    return spark.sql("""
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               count(*) AS n,
               round(sum(l_quantity), 2) AS qty
        FROM __li
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    """)


# --------------------------------------------------------------------------
# W-extension: analytic frames beyond the reference (lag, running frame,
# dense_rank in one window pass).
@register(
    "q_window_frames",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(o_totalprice, 2) AS price,
           round(coalesce(lag(o_totalprice) OVER w, 0), 2) AS prev_price,
           round(sum(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW), 2) AS running_total,
           CAST(dense_rank() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderpriority) AS BIGINT) AS prio_rank
    FROM orders
    WHERE o_custkey < 100
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="Window-frame extension surface (SURVEY §2.5 note): lag, running "
        "rowsBetween sum, and dense_rank over per-customer order sequences "
        "— deterministic (orderdate, orderkey) sort key.",
)
def q_window_frames(spark, sf_dir):
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wp = Window.partitionBy("o_custkey").orderBy("o_orderpriority")
    return o.select(
        "o_custkey", "o_orderkey",
        F.round("o_totalprice", 2).alias("price"),
        F.round(F.coalesce(F.lag("o_totalprice").over(w), F.lit(0.0)), 2).alias("prev_price"),
        F.round(F.sum("o_totalprice").over(wr), 2).alias("running_total"),
        F.dense_rank().over(wp).cast("long").alias("prio_rank"),
    )


# --------------------------------------------------------------------------
# Correlated subquery (Catalyst decorrelation): orders above their
# customer's average order value.
@register(
    "q_correlated_subquery",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
    FROM orders o
    WHERE o_totalprice > 1.5 * (
      SELECT avg(o_totalprice) FROM orders i WHERE i.o_custkey = o.o_custkey)
    """,
    doc="Correlated scalar subquery — Catalyst decorrelates it into an "
        "aggregate + join (no per-row re-execution); parity with engines "
        "that interpret the subquery naively.",
)
def q_correlated_subquery(spark, sf_dir):
    load(spark, sf_dir, "orders").createOrReplaceTempView("__orders_corr")
    return spark.sql("""
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
        FROM __orders_corr o
        WHERE o_totalprice > 1.5 * (
          SELECT avg(o_totalprice) FROM __orders_corr i
          WHERE i.o_custkey = o.o_custkey)
    """)


# --------------------------------------------------------------------------
# Unpivot (wide -> long) via stack().
@register(
    "q_unpivot_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, round(value, 4) AS value
    FROM (
      SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS value FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'price', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem)
    WHERE l_orderkey < 200
    """,
    doc="Unpivot (wide→long) via stack() — one scan emits all three "
        "measure rows (the UNION ALL oracle scans three times; Spark's "
        "generator form scans once).",
)
def q_unpivot_measures(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    return li.select(
        "l_orderkey", "l_linenumber",
        F.expr("stack(3, 'quantity', l_quantity, 'price', l_extendedprice, "
               "'discount', l_discount) AS (measure, value)"),
    ).select("l_orderkey", "l_linenumber", "measure", F.round("value", 4).alias("value"))


# --------------------------------------------------------------------------
@register(
    "q_cube_revenue",
    oracle="""
    SELECT coalesce(l_returnflag, '_all') AS returnflag,
           coalesce(l_linestatus, '_all') AS linestatus,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE aggregation (completes the grouping-analytics row alongside "
        "ROLLUP and GROUPING SETS): all four grouping combinations in one "
        "pass — Spark expands the cube map-side, so the shuffle carries "
        "one partial row per (grouping-id, keys), not four scans.",
)
def q_cube_revenue(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").cast("long").alias("sum_qty"),
             F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("_all")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("_all")).alias("linestatus"),
            "sum_qty", "n",
        )
    )


# -- join-key skew report ------------------------------------------------------
@register(
    "q_skew_report",
    """
    WITH kc AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY user_id),
    tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_keys
      FROM kc),
    hot AS (
      SELECT user_id AS hot_key, cnt AS max_rows
      FROM kc ORDER BY cnt DESC, user_id ASC LIMIT 1),
    hist AS (
      SELECT cnt, CAST(count(*) AS BIGINT) AS n_at,
             CAST(sum(count(*)) OVER (ORDER BY cnt ASC) AS BIGINT) AS cum
      FROM kc GROUP BY cnt),
    p99 AS (
      SELECT min(cnt) AS p99_rows
      FROM hist CROSS JOIN tot
      WHERE cum >= (99 * n_keys + 99) // 100)
    SELECT t.n_rows, t.n_keys, h.hot_key, h.max_rows, p.p99_rows,
           round(CAST(h.max_rows * t.n_keys AS DOUBLE) / t.n_rows, 4) + 0.0
             AS skew_factor
    FROM tot t CROSS JOIN hot h CROSS JOIN p99 p
    """,
)
def q_skew_report(spark, sf_dir):
    """Join-key skew diagnosis for events.user_id — the measurement step
    BEFORE reaching for salting (operators/skew.py) or AQE skew joins:
    one row with the key count, the hottest key (exact top-1, id
    tiebreak), the exact p99 per-key row count (order statistic off the
    count histogram), and skew_factor = max/avg rows per key.  Plan: one
    key agg, then everything runs on the per-key count frame — a
    count-valued histogram, a top-1 cut, and 1-row attaches; nothing
    after the first agg scales with rows."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    kc = ev.groupBy("user_id").agg(F.count("*").cast("long").alias("cnt"))
    from nonconsumptive_spark.plans.checkpoint import materialize_once
    kc = materialize_once(kc, "skew_kc")
    tot = kc.agg(F.sum("cnt").cast("long").alias("n_rows"),
                 F.count("*").cast("long").alias("n_keys"))
    hot = (kc.orderBy(F.desc("cnt"), F.asc("user_id")).limit(1)
           .select(F.col("user_id").alias("hot_key"),
                   F.col("cnt").alias("max_rows")))
    w = Window.orderBy(F.asc("cnt")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    hist = (kc.groupBy("cnt").agg(F.count("*").cast("long").alias("n_at"))
            .withColumn("cum", F.sum("n_at").over(w).cast("long")))
    p99 = (
        hist.crossJoin(F.broadcast(tot))
        .filter(F.col("cum")
                >= F.expr("(99 * n_keys + 99) div 100"))  # ceil(.99*nk)
        .agg(F.min("cnt").alias("p99_rows"))
    )
    return (
        tot.crossJoin(F.broadcast(hot))
        .crossJoin(F.broadcast(p99))
        .select(
            "n_rows", "n_keys", "hot_key", "max_rows", "p99_rows",
            (F.round((F.col("max_rows") * F.col("n_keys")).cast("double")
                     / F.col("n_rows"), 4) + F.lit(0.0))
            .alias("skew_factor"),
        )
    )


# -- referential-integrity audit ----------------------------------------------
@register(
    "q_fk_integrity",
    """
    SELECT 'orders.o_custkey->customer' AS fk_edge,
           CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_child,
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT) AS n_orphans
    UNION ALL
    SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
           CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_child,
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS n_orphans
    """,
)
def q_fk_integrity(spark, sf_dir):
    """Referential-integrity audit over the warehouse FK edges
    (orders->customer, lineitem->orders): child row count + orphan count
    per edge — the classic load-validation check.  Each orphan count is
    one LEFT ANTI join on the key (shuffle-keyed, no row ever widens);
    the output is two 1-row frames unioned."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")

    def edge(name, child, key_c, parent, key_p):
        orphans = child.join(
            parent.select(F.col(key_p).alias(key_c)), key_c, "left_anti")
        return (
            child.agg(F.count("*").cast("long").alias("n_child"))
            .crossJoin(F.broadcast(
                orphans.agg(F.count("*").cast("long").alias("n_orphans"))))
            .select(F.lit(name).alias("fk_edge"), "n_child", "n_orphans")
        )
    return edge("orders.o_custkey->customer", orders, "o_custkey",
                cust, "c_custkey").unionByName(
        edge("lineitem.l_orderkey->orders", li, "l_orderkey",
             orders, "o_orderkey"))


# -- ABC (Pareto) inventory classification -----------------------------------
@register(
    "q_abc_parts",
    """
    WITH rev AS (
      SELECT l_partkey,
             CAST(sum(CAST(floor(100 * l_extendedprice
                                 * (1 - l_discount) + 0.5) AS BIGINT))
                  AS BIGINT) AS rev_c
      FROM lineitem GROUP BY l_partkey),
    tot AS (SELECT CAST(sum(rev_c) AS BIGINT) AS t FROM rev),
    ranked AS (
      SELECT l_partkey, rev_c,
             CAST(sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_c
      FROM rev),
    classed AS (
      SELECT l_partkey, rev_c,
             CASE WHEN cum_c * 100 <= t * 80 THEN 'A'
                  WHEN cum_c * 100 <= t * 95 THEN 'B'
                  ELSE 'C' END AS abc
      FROM ranked CROSS JOIN tot)
    SELECT abc, CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(rev_c) AS BIGINT) AS revenue_c,
           round(CAST(sum(rev_c) AS BIGINT)
                 / CAST((SELECT t FROM tot) AS DOUBLE), 6) + 0.0
             AS revenue_share
    FROM classed GROUP BY abc
    """,
)
def q_abc_parts(spark, sf_dir):
    """ABC (Pareto) classification of parts by discounted revenue:
    A = parts inside the first 80% of cumulative revenue, B to 95%,
    C the tail — the inventory-analytics read of 'which 20% of SKUs
    carry the business', here over the TPC-H star.  Revenue quantizes
    to exact cents per row BEFORE any sum, the cumulative class test is
    an integer cross-multiplication (cum*100 <= tot*80), and the only
    float is the final share division.  Plan: one part-keyed agg, one
    window over the #parts spine, a 1-row total attach."""
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.floor(100 * F.col("l_extendedprice")
                      * (1 - F.col("l_discount")) + F.lit(0.5))
              .cast("long")).cast("long").alias("rev_c"))
    tot = rev.agg(F.sum("rev_c").cast("long").alias("t"))
    w = (Window.orderBy(F.desc("rev_c"), F.asc("l_partkey"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ranked = rev.select(
        "l_partkey", "rev_c",
        F.sum("rev_c").over(w).cast("long").alias("cum_c"))
    classed = ranked.crossJoin(F.broadcast(tot)).select(
        "rev_c", "t",
        F.when(F.col("cum_c") * 100 <= F.col("t") * 80, F.lit("A"))
        .when(F.col("cum_c") * 100 <= F.col("t") * 95, F.lit("B"))
        .otherwise(F.lit("C")).alias("abc"),
    )
    return (
        classed.groupBy("abc")
        .agg(F.count("*").cast("long").alias("n_parts"),
             F.sum("rev_c").cast("long").alias("revenue_c"),
             F.max("t").alias("t"))
        .select("abc", "n_parts", "revenue_c",
                (F.round(F.col("revenue_c") / F.col("t").cast("double"), 6)
                 + F.lit(0.0)).alias("revenue_share"))
    )


# -- market-basket association rules over brand baskets ----------------------
_MB_MIN_SUPP = 10
_MB_TOP = 20


@register(
    "q_basket_rules",
    f"""
    WITH baskets AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
    nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
           FROM baskets),
    supp1 AS (
      SELECT p_brand, CAST(count(*) AS BIGINT) AS s
      FROM baskets GROUP BY p_brand),
    pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
             CAST(count(*) AS BIGINT) AS supp_ab
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2
      HAVING count(*) >= {_MB_MIN_SUPP}),
    scored AS (
      SELECT p.brand_a, p.brand_b, p.supp_ab,
             sa.s AS supp_a, sb.s AS supp_b,
             CAST(floor(1000000.0 * ((CAST(p.supp_ab AS DOUBLE) * n.n_orders)
                  / (CAST(sa.s AS DOUBLE) * sb.s))) AS BIGINT) AS lift_q
      FROM pairs p
      JOIN supp1 sa ON sa.p_brand = p.brand_a
      JOIN supp1 sb ON sb.p_brand = p.brand_b
      CROSS JOIN nb n),
    ranked AS (
      SELECT *, row_number() OVER (
               ORDER BY lift_q DESC, brand_a ASC, brand_b ASC) AS rn
      FROM scored)
    SELECT brand_a, brand_b, supp_ab, supp_a, supp_b,
           round(CAST(supp_ab AS DOUBLE) / supp_a, 6) + 0.0 AS confidence,
           round(lift_q / 1000000.0, 6) + 0.0 AS lift
    FROM ranked WHERE rn <= {_MB_TOP}
    """,
)
def q_basket_rules(spark, sf_dir):
    """Market-basket association rules over order->brand baskets:
    support / confidence / lift for the top-{top} brand pairs by lift —
    the q_event_type_lift pattern applied to the TPC-H star (a brand
    dimension join builds the baskets).  Lift floor-quantizes to 1e6
    before the rank so the cut is deterministic; supports are exact
    order counts.  Scale shape: baskets are one distinct projection;
    the pair join keys on l_orderkey with fan-out bounded by basket
    width (<= distinct brands per order); supports broadcast."""
    from pyspark.sql import Window

    from nonconsumptive_spark.plans.checkpoint import materialize_once

    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    baskets = (li.join(part, li["l_partkey"] == part["p_partkey"])
               .select("l_orderkey", "p_brand").distinct())
    baskets = materialize_once(baskets, "mb_baskets")  # pairs + supports
    nb = baskets.agg(F.countDistinct("l_orderkey").cast("long")
                     .alias("n_orders"))
    supp1 = baskets.groupBy("p_brand").agg(
        F.count("*").cast("long").alias("s"))
    a = baskets.select("l_orderkey", F.col("p_brand").alias("brand_a"))
    b = baskets.select("l_orderkey", F.col("p_brand").alias("brand_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").cast("long").alias("supp_ab"))
        .filter(F.col("supp_ab") >= _MB_MIN_SUPP)
    )
    sa = supp1.select(F.col("p_brand").alias("brand_a"),
                      F.col("s").alias("supp_a"))
    sb = supp1.select(F.col("p_brand").alias("brand_b"),
                      F.col("s").alias("supp_b"))
    scored = (
        pairs.join(F.broadcast(sa), "brand_a")
        .join(F.broadcast(sb), "brand_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "brand_a", "brand_b", "supp_ab", "supp_a", "supp_b",
            F.floor(F.lit(1e6) * ((F.col("supp_ab").cast("double")
                                   * F.col("n_orders"))
                                  / (F.col("supp_a").cast("double")
                                     * F.col("supp_b"))))
            .cast("long").alias("lift_q"),
        )
    )
    w = Window.orderBy(F.desc("lift_q"), F.asc("brand_a"), F.asc("brand_b"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _MB_TOP)
        .select("brand_a", "brand_b", "supp_ab", "supp_a", "supp_b",
                (F.round(F.col("supp_ab").cast("double")
                         / F.col("supp_a"), 6) + F.lit(0.0))
                .alias("confidence"),
                (F.round(F.col("lift_q") / F.lit(1e6), 6) + F.lit(0.0))
                .alias("lift"))
    )


# -- log-log price elasticity per return flag --------------------------------
@register(
    "q_price_elasticity",
    """
    WITH base AS (
      SELECT l_returnflag,
             CAST(floor(100 * l_extendedprice + 0.5) AS BIGINT) AS pc,
             CAST(floor(l_quantity + 0.5) AS BIGINT) AS qq
      FROM lineitem
      WHERE l_quantity > 0 AND l_extendedprice > 0),
    pts AS (
      SELECT l_returnflag,
             CAST(floor(10000.0 * ln(CAST(pc AS DOUBLE) / qq)) AS BIGINT)
               AS xq,
             CAST(floor(10000.0 * ln(CAST(qq AS DOUBLE))) AS BIGINT)
               AS yq
      FROM base),
    ols AS (
      SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(xq) AS BIGINT) AS sx, CAST(sum(yq) AS BIGINT) AS sy,
             CAST(sum(xq * yq) AS BIGINT) AS sxy,
             CAST(sum(xq * xq) AS BIGINT) AS sxx
      FROM pts GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx),
                 6) + 0.0 AS elasticity
    FROM ols
    """,
)
def q_price_elasticity(spark, sf_dir):
    """Log-log OLS price elasticity of demand per return flag:
    d ln(qty) / d ln(unit price) — the demand-curve slope read straight
    off the lineitem fact table (elasticity ~ -1 means revenue-neutral
    pricing).  ln-points floor-quantize to 1e4 BIGINTs — not the weibull
    OLS's 1e6, so the xq^2 sums stay below 2^63 at 100x sf0.1 rows (see
    the inline comment) — same discipline otherwise: integer
    cross-products, ONE float division; rows with
    zero quantity or price are excluded identically on both engines.
    Plan: one zero-shuffle scan into a flag-keyed 1-agg."""
    li = load(spark, sf_dir, "lineitem")
    base = li.filter((F.col("l_quantity") > 0)
                     & (F.col("l_extendedprice") > 0)).select(
        "l_returnflag",
        F.floor(100 * F.col("l_extendedprice") + F.lit(0.5)).cast("long")
        .alias("pc"),
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("qq"),
    )
    # 1e4 ln-quantization: xq^2 sums stay below 2^63 even at 100x the
    # sf0.1 row count; the Cramer products then run in mirrored doubles
    pts = base.select(
        "l_returnflag",
        F.floor(F.lit(1e4) * F.log(F.col("pc").cast("double")
                                   / F.col("qq"))).cast("long").alias("xq"),
        F.floor(F.lit(1e4) * F.log(F.col("qq").cast("double")))
        .cast("long").alias("yq"),
    )
    ols = pts.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("xq").cast("long").alias("sx"),
        F.sum("yq").cast("long").alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).cast("long").alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).cast("long").alias("sxx"),
    )
    return ols.select(
        "l_returnflag", "n",
        (F.round((F.col("n").cast("double") * F.col("sxy")
                  - F.col("sx").cast("double") * F.col("sy"))
                 / (F.col("n").cast("double") * F.col("sxx")
                    - F.col("sx").cast("double") * F.col("sx")), 6)
         + F.lit(0.0)).alias("elasticity"),
    )


# -- bucketed-layout join elimination ----------------------------------------
@register(
    "q_bucketed_join_revenue",
    """
    SELECT o.o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q_bucketed_join_revenue(spark, sf_dir):
    """Fact-to-fact orders⋈lineitem revenue over the BUCKETED warehouse
    layout (sources/bucketing.py): both tables are written once,
    bucketed AND sorted by orderkey with the same bucket count, so the
    join is a SortMergeJoin with ZERO shuffle exchange and zero
    per-query sort on the bucketed sides — the layout pays the shuffle
    once, every subsequent join on the key reads co-located buckets
    (plan asserted by tests/test_bucketed_join.py).  At 100 TB this is
    the difference between re-shuffling two fact tables per query and
    never shuffling them at all; the dims-broadcast star join
    (q_star_join_revenue) covers the small-side case, this covers the
    big⋈big case.  Results are layout-independent (the oracle runs on
    the flat parquet); only the final priority agg exchanges."""
    from nonconsumptive_spark.sources.bucketing import bucketed_fact_tables

    o_name, l_name = bucketed_fact_tables(spark, sf_dir)
    o = spark.table(o_name)
    li = spark.table(l_name)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice")
                          * (1 - F.col("l_discount"))), 2).alias("revenue"),
        )
    )
