"""Streaming quantiles from a mergeable fixed-bin histogram — the
stream-lifetime answer to "what is the p50/p95/p99 of this value" at
fixed memory (``q_value_histogram`` is the batch form; the moments
stream covers mean/variance but says nothing about tails).

Design: values bucket into fixed integer-edge bins (edges are plan-time
constants, the classic production choice for latency/size metrics whose
dynamic range is known); per-epoch bin counts merge ADDITIVELY into the
committed histogram through ``streaming/corpus.fold_epoch`` — the same
at-least-once discipline as the wordcount fold, epoch guard required.
A quantile read is then exact-within-bin-resolution: find the first bin
whose cumulative count crosses ceil(q·N) (integer arithmetic — the
p·n + q − 1 // q ceiling idiom) and report its edges.  Stream == batch
holds EXACTLY for the histogram (bin counts are additive integers) and
therefore for every quantile read.

Scale shape: state is #bins rows forever; the per-epoch fold is one
bucket groupBy over the batch.  The quantile read's cumulative window
runs over the #bins frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nonconsumptive_spark.streaming.corpus import committed_table, fold_epoch


def bin_counts(batch: DataFrame, edges: list[float],
               value_col: str = "value") -> DataFrame:
    """(bin, n): histogram of ``value_col`` over plan-time constant
    ``edges`` — bin i covers [edges[i], edges[i+1]); values below the
    first edge land in bin -1, values at/above the last edge in
    bin len(edges)-1.  One narrow map + one short-key agg."""
    v = F.col(value_col).cast("double")
    bin_expr = F.lit(-1)
    for i, e in enumerate(edges):
        bin_expr = F.when(v >= F.lit(float(e)), F.lit(i)).otherwise(bin_expr)
    return (
        batch.select(bin_expr.cast("int").alias("bin"))
        .groupBy("bin").agg(F.count("*").cast("long").alias("n"))
    )


def merge_histogram(batch_bins: DataFrame, table_dir: str,
                    epoch_id: int = 0) -> bool:
    """Fold one micro-batch's (bin, n) counts into the running
    histogram: additive on collision — MUST be epoch-guarded (a replayed
    epoch would double-count, the wordcount-fold rule)."""
    def merge(current):
        if current is None:
            return batch_bins
        return (current.unionByName(batch_bins)
                .groupBy("bin").agg(F.sum("n").cast("long").alias("n")))

    return fold_epoch(batch_bins.sparkSession, table_dir, epoch_id, merge)


def quantiles(spark: SparkSession, table_dir: str, edges: list[float],
              qs: list[tuple[int, int]]) -> DataFrame | None:
    """(q_num, q_den, bin, lo, hi, cum, total): for each quantile given
    as the exact rational q_num/q_den, the first bin whose cumulative
    count reaches ceil(q·N) — integer arithmetic end to end, so the
    answer is engine- and chunking-independent."""
    t = committed_table(spark, table_dir)
    if t is None:
        return None
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)
    cum = t.select("bin", "n", F.sum("n").over(w).cast("long").alias("cum"))
    tot = cum.agg(F.max("cum").cast("long").alias("total"))
    lo = F.array(*[F.lit(float(e)) for e in edges])
    out = None
    for qn, qd in qs:
        # first bin with cum >= ceil(qn*total/qd) == (qn*total + qd-1) div qd
        hit = (
            cum.crossJoin(F.broadcast(tot))
            .filter(F.col("cum") * qd >= F.col("total") * qn)
            .orderBy("bin").limit(1)
            .select(
                F.lit(qn).cast("long").alias("q_num"),
                F.lit(qd).cast("long").alias("q_den"),
                F.col("bin").cast("long").alias("bin"),
                F.when(F.col("bin") >= 0,
                       F.element_at(lo, F.col("bin") + 1)).alias("lo"),
                F.when(F.col("bin") + 2 <= len(edges),
                       F.element_at(lo, F.col("bin") + 2)).alias("hi"),
                "cum", "total",
            )
        )
        out = hit if out is None else out.unionByName(hit)
    return out
