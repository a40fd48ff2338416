"""Streaming heavy hitters: a SpaceSaving summary (Metwally et al. 2005)
of token frequencies folded across micro-batches — the fixed-memory
answer to "what are the top tokens over the whole stream so far" when
the true vocabulary is unbounded (``streaming/corpus.merge_wordcounts``
keeps EVERY token; this keeps ``cap`` rows forever and still guarantees
the heavy tail).

Epoch-granular SpaceSaving: each micro-batch contributes its EXACT
(token, count) aggregate (the narrow fused kernel upstream), and the
fold is

  * token already tracked      -> est += batch count            (exact add)
  * token newly seen           -> est  = batch count + floor,
                                  err  = floor
  * summary over ``cap``       -> evict the smallest-est rows;
                                  floor = max(floor, largest evicted est)

where ``floor`` is the classic SpaceSaving minimum-count bound,
denormalized onto every row so the scalar commits ATOMICALLY with the
summary under the shared versioned commit
(``streaming/corpus.fold_epoch``; a sidecar would race the marker).  A
committed summary with no rows has floor 0, like no summary at all.
Guarantees carried by construction (asserted in tests):

  * true_count <= est <= true_count + err,  err <= floor
  * any token with true count > floor is IN the summary — so with
    ``cap`` rows, everything above N_evictable/cap survives (the
    SpaceSaving frequent-items guarantee at epoch granularity; single-
    epoch streams degenerate to exact top-cap).

Determinism: eviction order is (est ASC, token DESC) — fully keyed, no
arbitrary ties — so replayed runs commit identical summaries.

Scale shape: state is ≤ cap rows forever; the per-epoch merge is one
full-outer join of (batch vocabulary) against (cap) rows plus one
TakeOrdered cut.  The ordering window runs over that bounded summary
frame — the documented ≤cap window shape, never corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nonconsumptive_spark.streaming.corpus import (
    committed_table, fold_epoch, start_fold)


def merge_heavy_hitters(batch_counts: DataFrame, table_dir: str,
                        cap: int = 1024, epoch_id: int = 0) -> bool:
    """Fold one micro-batch's exact (token, count) aggregate into the
    committed SpaceSaving summary.  Returns False (no-op) when
    ``epoch_id`` was already applied."""
    batch = batch_counts.select(
        "token", F.col("count").cast("long").alias("cnt"))

    def merge(current):
        if current is None:
            merged = batch.select(
                "token", F.col("cnt").alias("est"),
                F.lit(0).cast("long").alias("err"),
                F.lit(0).cast("long").alias("floor"),
            )
        else:
            floor_col = F.coalesce(
                F.max("floor").over(Window.partitionBy()), F.lit(0))
            merged = (
                current.select("token", "est", "err", "floor")
                .join(batch, "token", "full_outer")
                .withColumn("floor", floor_col)
                .select(
                    "token",
                    F.when(
                        F.col("est").isNotNull(),
                        F.col("est") + F.coalesce("cnt", F.lit(0)),
                    ).otherwise(F.col("cnt") + F.col("floor"))
                    .cast("long").alias("est"),
                    F.coalesce("err", F.col("floor")).cast("long").alias("err"),
                    F.col("floor"),
                )
            )
        # the cut + new floor: both over the bounded summary-sized frame
        w = Window.orderBy(F.desc("est"), F.asc("token"))
        ranked = merged.withColumn("rn", F.row_number().over(w))
        new_floor = F.max(
            F.when(F.col("rn") > cap, F.col("est")).otherwise(F.col("floor"))
        ).over(Window.partitionBy())
        return (
            ranked.withColumn("floor", new_floor)
            .filter(F.col("rn") <= cap)
            .select("token", "est", "err", "floor")
        )

    return fold_epoch(batch_counts.sparkSession, table_dir, epoch_id, merge)


def heavy_hitters(spark: SparkSession, table_dir: str,
                  min_est: int = 0) -> DataFrame | None:
    """The committed summary (None before the first commit), optionally
    cut to ``est >= min_est``."""
    t = committed_table(spark, table_dir)
    if t is None:
        return None
    return t.filter(F.col("est") >= min_est)


def start_incremental_heavy_hitters(counts_stream: DataFrame,
                                    table_dir: str, checkpoint_dir: str,
                                    cap: int = 1024):
    """foreachBatch wiring: aggregate each micro-batch to exact
    (token, count) and fold it into the summary, AvailableNow trigger."""
    def fold(batch, epoch_id):
        agg = batch.groupBy("token").agg(F.count("*").alias("count"))
        merge_heavy_hitters(agg, table_dir, cap=cap, epoch_id=epoch_id)

    return start_fold(counts_stream, fold, checkpoint_dir)
