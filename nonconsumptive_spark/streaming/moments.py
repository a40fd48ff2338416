"""Streaming per-group moment accumulation: fold each micro-batch's
(group, n, s, ss) into a committed running table — the state every
two-sample statistic over a live stream needs (Welch t, z-scores, PSI
edges), at #groups-sized memory forever.

Moments are ADDITIVE (like the wordcount fold, unlike HLL's max), so the
epoch guard is load-bearing here: a replayed epoch must be skipped or it
double-counts.  ``streaming/corpus.fold_epoch`` supplies that (same
contract and tests as merge_wordcounts).

The read side (`welch_from_moments`) reuses the SAME mirrored Welch
expressions the batch query interpolates (`queries/textstats.py`), so a
live between-source t-statistic agrees bit-for-bit with the batch one
over the same rows — stream==batch is test-asserted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nonconsumptive_spark.streaming.corpus import committed_table, fold_epoch


def batch_moments(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """(group, n, s, ss) exact BIGINT moments for one batch."""
    v = F.col(value_col).cast("long")
    return df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(v).cast("long").alias("s"),
        F.sum(v * v).cast("long").alias("ss"),
    )


def merge_moments(batch: DataFrame, table_dir: str, epoch_id: int = 0) -> bool:
    """Fold one micro-batch's moment rows into the running table:
    componentwise sum on group collision.  Returns False (no-op) when
    ``epoch_id`` was already applied — the additive-merge guard."""
    def merge(current):
        if current is None:
            return batch
        return current.unionByName(batch).groupBy("grp").agg(
            *[F.sum(c).cast("long").alias(c) for c in ("n", "s", "ss")])

    return fold_epoch(batch.sparkSession, table_dir, epoch_id, merge)


def welch_from_moments(spark: SparkSession,
                       table_dir: str) -> DataFrame | None:
    """Pairwise Welch t over the committed running moments — the live
    form of ``q_welch_ttest_sources``, built from the same mirrored
    expression strings (None before the first commit)."""
    from nonconsumptive_spark.queries.textstats import (
        _WELCH_DF,
        _WELCH_M,
        _WELCH_T,
        _WELCH_VN,
    )

    mom = committed_table(spark, table_dir)
    if mom is None:
        return None
    sided = mom.selectExpr(
        "grp", "n", f"{_WELCH_M} AS m", f"{_WELCH_VN} AS vn")
    a = sided.select(
        F.col("grp").alias("source_a"), F.col("n").alias("n1"),
        F.col("m").alias("m1"), F.col("vn").alias("vn1"))
    b = sided.select(
        F.col("grp").alias("source_b"), F.col("n").alias("n2"),
        F.col("m").alias("m2"), F.col("vn").alias("vn2"))
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("source_a") < F.col("source_b"))
        .selectExpr(
            "source_a", "source_b",
            "CAST(n1 AS BIGINT) AS n_a", "CAST(n2 AS BIGINT) AS n_b",
            f"{_WELCH_T} AS t_stat", f"{_WELCH_DF} AS welch_df",
        )
    )
