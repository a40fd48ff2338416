"""Bucketed warehouse layout: co-locate the big fact tables on their
join key so fact-to-fact joins run WITHOUT a shuffle exchange.

The headline star join broadcasts its dims, but the orders⋈lineitem leg
is fact-to-fact: at 100 TB both sides are too big to broadcast and a
plain join shuffles BOTH tables on every query.  Bucketing pays that
shuffle ONCE at layout time — ``bucketBy(n, key).sortBy(key)`` writes
each table as n hash-bucket files — and every subsequent equi-join on
the bucket key reads co-located buckets: the physical plan is a
SortMergeJoin with ZERO Exchange on the bucketed sides (asserted by
tests/test_bucketed_join.py on the actual plan string).

This is the layout story the reference cannot express at all (its
bookstacks are single-process arrow files); in Spark it is the standard
"pay the shuffle once" answer for repeated fact-to-fact joins, the same
economy the IVF index gives ANN probes (operators/similarity.py).

Tables are registered per (corpus path, mtime, size, bucket count) —
the session cache's file stamp (plans/ranker_cache.py) —
written once under ``root`` and reused by every later query in the
session (or any session sharing the warehouse dir and catalog).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import SparkSession

from nonconsumptive_spark.plans.ranker_cache import file_stamp

DEFAULT_BUCKETS = 8
# Resolved per-session under spark.sql.warehouse.dir (see _default_root):
# a fixed world-writable /tmp path would let another local user pre-create
# or tamper with the layout, and two unrelated deployments would race on
# one directory.  The warehouse dir is already the session's durable,
# per-deployment storage root — exactly the sharing scope the
# content-addressed reuse wants.
DEFAULT_ROOT = None


def _default_root(spark: SparkSession) -> str:
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    if wh.startswith("file:"):
        wh = wh[len("file:"):]
    return os.path.join(wh, "nc_bucketed")


def _corpus_tag(sf_dir: str, buckets: int) -> str:
    """Content address of the layout; a table that cannot be stat-ed
    (remote, missing) has no address, so it raises rather than reusing
    whatever layout was registered under its bare path."""
    parts = []
    for t in ("orders", "lineitem"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        stamp = file_stamp(p)
        if stamp is None:
            raise ValueError(
                f"bucketed layout needs a local, stat-able {t} table: {p}")
        parts.append("%s:%d:%d" % stamp)
    parts.append(str(buckets))
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:12]


def bucketed_fact_tables(spark: SparkSession, sf_dir: str,
                         buckets: int = DEFAULT_BUCKETS,
                         root: str | None = DEFAULT_ROOT) -> tuple[str, str]:
    """Ensure bucketed copies of (orders, lineitem) exist, bucketed and
    sorted by the join key (orderkey); returns their catalog table names.

    Idempotent and content-addressed: the write happens once per corpus
    state; later calls (and later sessions over the same catalog) reuse
    the layout.  Both tables use the SAME bucket count — a mismatch
    forces one side to re-shuffle, which defeats the point."""
    from nonconsumptive_spark.queries import load

    if root is None:
        root = _default_root(spark)
    tag = _corpus_tag(sf_dir, buckets)
    o_name, l_name = f"nc_orders_b{tag}", f"nc_lineitem_b{tag}"
    for name, table, key in ((o_name, "orders", "o_orderkey"),
                             (l_name, "lineitem", "l_orderkey")):
        if spark.catalog.tableExists(name):
            continue
        path = os.path.join(root, tag, table)
        # repartition on the SAME hash the bucketing uses (Murmur3 pmod n)
        # so each task holds exactly one bucket and writes ONE file per
        # bucket — with multiple files per bucket Spark must re-sort at
        # read and only the exchange elimination survives.
        df = load(spark, sf_dir, table)
        (df.repartition(buckets, df[key])
         .write.mode("overwrite")
         .bucketBy(buckets, key).sortBy(key)
         .option("path", path)
         .saveAsTable(name))
    return o_name, l_name
