"""Streaming CUSUM monitor: maintain the control-chart state of a daily
count series across micro-batches — the live form of the batch
changepoint detector (``queries/events.q_cusum_daily``), with the
FIXED reference target classical SPC assumes (in streaming the global
mean is unknowable, so the target is a parameter, expressed as the exact
rational ``target_num / target_den``).

The recurrence s_i = max(0, s_{i-1} + y_i) folds associatively through
its closed form s_i = cum_i - min(0, min_{j<=i} cum_j): a chunk of new
days only needs the previous (cum, running-min, running-max) scalars to
extend the series exactly — so the committed table doubles as the state
(its last row carries cum/rmin/rmax) and stream-of-chunks == one-shot
batch, bit for bit, in pure BIGINT arithmetic (deviations scaled by
``target_den`` so the target never becomes a float).

Event-time discipline: the monitor is APPEND-ONLY in event time — a
batch row with d <= the last committed day is a replayed or late
observation and is dropped (CUSUM is order-defined; re-folding an old
day would corrupt every subsequent s_i).  Exactly-once across
foreachBatch's at-least-once replays comes from the shared versioned
commit (``streaming/corpus.fold_epoch``).  A committed series that is
still empty (the upstream window count emits empty batches before its
first window closes) is zero state, like no series at all.

Scale notes: per-epoch work is O(committed series + batch) rows — the
DAILY spine, not the event stream; the raw events aggregate to (d, c)
upstream with an ordinary watermarked window count.  The in-batch window
is a bounded single-partition pass over that spine (the documented
daily-series shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nonconsumptive_spark.streaming.corpus import (
    committed_table, fold_epoch, start_fold)

OUT_COLS = ("d", "c", "cum", "rmin", "rmax",
            "cusum_pos", "cusum_neg", "flagged")


def _extend(daily: DataFrame, target_num: int, target_den: int,
            h_scaled: int, cum0: int, rmin0: int, rmax0: int) -> DataFrame:
    """Fold a (d, c) chunk onto prior state scalars.  Exact BIGINT: the
    day's deviation is ``target_den * c - target_num`` (the target mean
    scaled away), prefix sums/extrema extend the prior scalars, and the
    closed form yields both one-sided statistics."""
    w = (Window.orderBy("d")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    y = F.lit(target_den) * F.col("c") - F.lit(target_num)
    c1 = daily.select(
        "d", "c",
        (F.lit(cum0) + F.sum(y).over(w)).cast("long").alias("cum"),
    )
    c2 = c1.select(
        "d", "c", "cum",
        F.least(F.lit(rmin0), F.min("cum").over(w)).cast("long").alias("rmin"),
        F.greatest(F.lit(rmax0), F.max("cum").over(w)).cast("long").alias("rmax"),
    )
    return c2.select(
        "d", "c", "cum", "rmin", "rmax",
        (F.col("cum") - F.col("rmin")).alias("cusum_pos"),
        (F.col("rmax") - F.col("cum")).alias("cusum_neg"),
        ((F.col("cum") - F.col("rmin") > h_scaled)
         | (F.col("rmax") - F.col("cum") > h_scaled)).alias("flagged"),
    )


def cusum_series(daily: DataFrame, target_num: int, target_den: int,
                 h_scaled: int) -> DataFrame:
    """One-shot batch reference over the full (d, c) series — the frame
    stream-of-chunks folding must reproduce exactly (asserted in
    tests/test_cusum_stream.py)."""
    return _extend(daily, target_num, target_den, h_scaled,
                   cum0=0, rmin0=0, rmax0=0)


def merge_cusum(batch_daily: DataFrame, table_dir: str, target_num: int,
                target_den: int, h_scaled: int, epoch_id: int = 0) -> bool:
    """Fold one micro-batch of NEW days into the committed series.
    Returns False (no-op) when ``epoch_id`` was already applied."""
    def merge(current):
        # state = the last committed row; the series table is day-spine
        # sized, so the 1-row collect is bounded by definition
        rows = (current.orderBy(F.desc("d")).limit(1).collect()
                if current is not None else [])
        if rows:
            last = rows[0]
            cum0, rmin0, rmax0 = last["cum"], last["rmin"], last["rmax"]
            fresh = batch_daily.filter(F.col("d") > F.lit(last["d"]))
        else:
            cum0 = rmin0 = rmax0 = 0
            fresh = batch_daily
        extended = _extend(fresh.select("d", "c"), target_num, target_den,
                           h_scaled, cum0, rmin0, rmax0)
        return (current.select(*OUT_COLS).unionByName(extended)
                if current is not None else extended)

    return fold_epoch(batch_daily.sparkSession, table_dir, epoch_id, merge)


def series(spark: SparkSession, table_dir: str) -> DataFrame | None:
    """The committed CUSUM series (None before the first commit)."""
    return committed_table(spark, table_dir)


def start_incremental_cusum(daily_stream: DataFrame, table_dir: str,
                            checkpoint_dir: str, target_num: int,
                            target_den: int, h_scaled: int):
    """foreachBatch wiring: fold each micro-batch of (d, c) rows into the
    committed series, AvailableNow trigger (``start_fold``)."""
    def fold(batch, epoch_id):
        merge_cusum(batch, table_dir, target_num, target_den, h_scaled,
                    epoch_id=epoch_id)

    return start_fold(daily_stream, fold, checkpoint_dir)
