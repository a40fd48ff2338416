"""Streaming conformal-coverage monitor: given a FROZEN split-conformal
calibration (per-type mean predictor + residual quantile q_hat, both
exact integers — the q_conformal_interval batch kernel), fold incoming
events into per-type (n_test, n_covered) counters and serve the live
coverage table.  Coverage drifting below 1 - alpha is the
distribution-shift alarm conformal prediction exists to give.

State discipline: counters merge ADDITIVELY per epoch (a batch only
increments the types it carries), so chunked == batch equality is exact
integer arithmetic; the committed table stores the per-type counters
plus an append-only (ts, event_id) watermark.  Event-time discipline and
exactly-once are streaming/holt.py's: the shared ``_fresh_events`` /
``_add_counters`` pair and ``fold_epoch`` (streaming/corpus.py).

Scale notes: per-epoch work is one broadcast join (the #types-row
calibration) + one type-keyed agg over the batch; state is one row per
event type plus two watermark scalars.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nonconsumptive_spark.streaming.corpus import (
    _add_counters,
    _fresh_events,
    committed_table,
    fold_epoch,
    start_fold,
)

CONF_ALPHA_NUM, CONF_ALPHA_DEN = 9, 10  # 1 - alpha = 0.9
STATE_COLS = ("event_type", "n_test", "n_covered", "wm_ts", "wm_eid")


def _xq(col="value"):
    return F.floor(F.coalesce(F.col(col), F.lit(0)) * 100
                   + F.lit(0.5)).cast("long")


def calibrate(events: DataFrame,
              alpha_num: int = CONF_ALPHA_NUM,
              alpha_den: int = CONF_ALPHA_DEN):
    """(calib_rows, q_hat_q) from a calibration frame: per-type exact
    cent sums (the mean predictor) and the ceil((n+1)(1-alpha)) residual
    order statistic in millicents.  The collect is #types rows + one
    scalar — the bounded-collect convention."""
    base = events.select("event_id", "event_type", _xq().alias("xq"))
    mt = (base.groupBy("event_type")
          .agg(F.sum("xq").cast("long").alias("s"),
               F.count("*").cast("long").alias("n")))
    calib_rows = [(r["event_type"], r["s"], r["n"]) for r in mt.collect()]
    resid = F.floor(F.abs(F.col("xq")
                          - F.col("s").cast("double") / F.col("n"))
                    * 1000).cast("long")
    rq = (base.join(F.broadcast(mt), "event_type")
          .select("event_id", resid.alias("rq")))
    n_cal = rq.count()
    k = min(((n_cal + 1) * alpha_num + alpha_den - 1) // alpha_den, n_cal)
    from pyspark.sql import Window

    q_hat_q = (rq.withColumn(
        "rn", F.row_number().over(Window.orderBy("rq", "event_id")))
        .filter(F.col("rn") == k).collect()[0]["rq"])
    return calib_rows, int(q_hat_q)


def coverage_counts(df: DataFrame, calib_rows, q_hat_q: int) -> DataFrame:
    """(event_type, n_test, n_covered) for one frame under the frozen
    calibration — the batch kernel both paths share.

    LEFT join on the calibration table: an event type absent from the
    frozen calibration (a distribution shift introducing a new type — a
    key alarm scenario) still gets a counter row, with n_covered = 0
    (null residual falls to the otherwise-branch), so ``monitor`` flags
    it as breached instead of it silently vanishing from the counts."""
    spark = df.sparkSession
    mt = F.broadcast(spark.createDataFrame(
        calib_rows, "event_type string, s long, n long"))
    resid = F.floor(F.abs(_xq() - F.col("s").cast("double") / F.col("n"))
                    * 1000).cast("long")
    return (
        df.join(mt, "event_type", "left")
        .select("event_type", resid.alias("rq"))
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("n_test"),
             F.sum(F.when(F.col("rq") <= q_hat_q, 1).otherwise(0))
             .cast("long").alias("n_covered"))
    )


def merge_coverage(batch: DataFrame, table_dir: str, calib_rows,
                   q_hat_q: int, epoch_id: int = 0) -> bool:
    """Fold one micro-batch of (event_id, ts, event_type, value) rows
    into the committed coverage counters.  Returns False (no-op) when
    ``epoch_id`` was already applied."""
    def merge(current):
        fresh = _fresh_events(batch, current)
        counts = coverage_counts(fresh, calib_rows, q_hat_q)
        return _add_counters(current, counts, fresh, "event_type")

    return fold_epoch(batch.sparkSession, table_dir, epoch_id, merge)


def monitor(spark: SparkSession, table_dir: str,
            alpha_num: int = CONF_ALPHA_NUM,
            alpha_den: int = CONF_ALPHA_DEN) -> DataFrame | None:
    """(event_type, n_test, n_covered, coverage, breached) over the
    committed counters (None before the first commit).  ``breached``
    flags types whose empirical coverage fell below 1 - alpha — the
    integer cross-multiplication n_covered * den < n_test * num, no
    float in the alarm path."""
    cur = committed_table(spark, table_dir)
    if cur is None:
        return None
    return cur.select(
        "event_type", "n_test", "n_covered",
        (F.round(F.col("n_covered").cast("double") / F.col("n_test"), 6)
         + F.lit(0.0)).alias("coverage"),
        (F.col("n_covered") * alpha_den
         < F.col("n_test") * alpha_num).alias("breached"),
    )


def start_incremental_coverage(event_stream: DataFrame, table_dir: str,
                               checkpoint_dir: str, calib_rows,
                               q_hat_q: int):
    """foreachBatch wiring, AvailableNow trigger (``start_fold``)."""
    def fold(batch, epoch_id):
        merge_coverage(batch, table_dir, calib_rows, q_hat_q,
                       epoch_id=epoch_id)

    return start_fold(event_stream, fold, checkpoint_dir)
