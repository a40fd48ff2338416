"""Streaming quantile-drift (pinball-loss) monitor: freeze a per-type
tau-quantile q_hat on a calibration window (the q_pinball_quantile batch
kernel), then fold incoming events into per-type (n_test, loss4)
counters — loss4 is the 4x-scaled tau = 0.75 pinball loss, an exact
BIGINT — and serve a live drift table.  Mean test pinball rising above
``factor`` times the calibration mean is the quantile-drift alarm: the
frozen quantile no longer describes the live distribution.

State discipline: counters merge ADDITIVELY per epoch, so chunked ==
batch equality is exact integer arithmetic; the committed table stores
the per-type counters plus an append-only (ts, event_id) watermark.
Event-time discipline, exactly-once (``fold_epoch``) and the cent
quantizer ``_xq`` are streaming/conformal.py's.

Scale notes: per-epoch work is one broadcast join (the #types-row frozen
calibration) + one type-keyed agg over the batch; state is one row per
event type plus two watermark scalars.  A type absent from the
calibration still gets a counter row (LEFT join, the conformal lesson)
and is flagged breached by ``monitor`` — a new event type is a drift
alarm, not a silent drop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nonconsumptive_spark.streaming.conformal import _xq
from nonconsumptive_spark.streaming.corpus import (
    _add_counters,
    _fresh_events,
    committed_table,
    fold_epoch,
    start_fold,
)

PB_TAU_NUM, PB_TAU_DEN = 3, 4  # tau = 0.75; loss4 = 4x pinball
STATE_COLS = ("event_type", "n_test", "loss4", "wm_ts", "wm_eid")


def _loss4(q_col="q"):
    """4x-scaled tau=0.75 pinball loss of xq against the frozen quantile
    column — exact integers; NULL q (uncalibrated type) folds to 0 and
    is surfaced by the monitor's breach rule instead."""
    gap_hi = F.lit(PB_TAU_NUM) * (F.col("xq") - F.col(q_col))
    gap_lo = F.lit(PB_TAU_DEN - PB_TAU_NUM) * (F.col(q_col) - F.col("xq"))
    return F.coalesce(
        F.when(F.col("xq") >= F.col(q_col), gap_hi).otherwise(gap_lo),
        F.lit(0)).cast("long")


def calibrate(events: DataFrame):
    """[(event_type, q_hat_q, base_loss4, base_n)] from a calibration
    frame: per-type ceil(tau*n) order statistic in exact cents plus the
    calibration-window pinball loss at that quantile.  The collect is
    #types rows — the bounded-collect convention."""
    base = events.select("event_type", _xq().alias("xq"))
    # order statistic off the per-type VALUE HISTOGRAM (q = min value
    # with cumulative count >= ceil(tau*n)): the window runs over
    # (type, distinct cent value) rows, never calibration rows — the
    # same bounded-window form as the promoted q_pinball_quantile.
    hist = base.groupBy("event_type", "xq").agg(F.count("*").alias("c"))
    wv = (Window.partitionBy("event_type").orderBy("xq")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wn = Window.partitionBy("event_type")
    spine = hist.select(
        "event_type", "xq",
        F.sum("c").over(wv).alias("cum"),
        F.sum("c").over(wn).alias("n"))
    # integer `div`, not double-/-then-cast: exact at any n (double
    # division silently mis-ranks once the numerator exceeds 2^53).
    k = F.expr(f"({PB_TAU_NUM} * n + {PB_TAU_DEN - 1}) div {PB_TAU_DEN}")
    qh = (spine.filter(F.col("cum") >= k)
          .groupBy("event_type")
          .agg(F.min("xq").cast("long").alias("q")))
    loss = (base.join(F.broadcast(qh), "event_type")
            .groupBy("event_type")
            .agg(F.sum(_loss4()).cast("long").alias("base_loss4"),
                 F.count("*").cast("long").alias("base_n")))
    return [(r["event_type"], r["q"], r["base_loss4"], r["base_n"])
            for r in qh.join(loss, "event_type").collect()]


def loss_counts(df: DataFrame, calib_rows) -> DataFrame:
    """(event_type, n_test, loss4) for one frame under the frozen
    quantiles — the batch kernel both paths share.  LEFT join: an event
    type absent from the calibration still gets a counter row (loss4
    accumulates 0 there; ``monitor`` flags base_n = 0 as breached)."""
    spark = df.sparkSession
    mt = F.broadcast(spark.createDataFrame(
        [(t, q) for t, q, _l, _n in calib_rows], "event_type string, q long"))
    return (
        df.select("event_type", _xq().alias("xq"))
        .join(mt, "event_type", "left")
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("n_test"),
             F.sum(_loss4()).cast("long").alias("loss4"))
    )


def merge_loss(batch: DataFrame, table_dir: str, calib_rows,
               epoch_id: int = 0) -> bool:
    """Fold one micro-batch of (event_id, ts, event_type, value) rows
    into the committed drift counters.  Returns False (no-op) when
    ``epoch_id`` was already applied.  Mirrors conformal.merge_coverage:
    event-id dedup, (ts, event_id) watermark, versioned commit."""
    def merge(current):
        fresh = _fresh_events(batch, current)
        counts = loss_counts(fresh, calib_rows)
        return _add_counters(current, counts, fresh, "event_type")

    return fold_epoch(batch.sparkSession, table_dir, epoch_id, merge)


def monitor(spark: SparkSession, table_dir: str, calib_rows,
            factor_num: int = 3, factor_den: int = 2) -> DataFrame | None:
    """(event_type, n_test, loss4, mean_pinball, breached) over the
    committed counters (None before the first commit).  ``breached``
    flags types whose mean test pinball exceeds factor_num/factor_den
    times the calibration mean — pure integer cross-multiplication
    loss4*base_n*den > base_loss4*n_test*num, no float in the alarm
    path — and types with NO calibration row (base_n = 0, the
    new-type drift alarm)."""
    cur = committed_table(spark, table_dir)
    if cur is None:
        return None
    cal = F.broadcast(spark.createDataFrame(
        [(t, lo, n) for t, _q, lo, n in calib_rows],
        "event_type string, base_loss4 long, base_n long"))
    return (
        cur.select("event_type", "n_test", "loss4")
        .join(cal, "event_type", "left")
        .select(
            "event_type", "n_test", "loss4",
            (F.round(F.col("loss4").cast("double")
                     / (F.lit(float(PB_TAU_DEN)) * F.col("n_test")), 6)
             + F.lit(0.0)).alias("mean_pinball"),
            (F.col("base_n").isNull()
             | (F.col("base_n") == 0)
             | (F.col("loss4") * F.col("base_n") * F.lit(factor_den)
                > F.col("base_loss4") * F.col("n_test")
                * F.lit(factor_num))).alias("breached"),
        )
    )


def start_incremental_pinball(event_stream: DataFrame, table_dir: str,
                              checkpoint_dir: str, calib_rows):
    """foreachBatch wiring, AvailableNow trigger (``start_fold``)."""
    def fold(batch, epoch_id):
        merge_loss(batch, table_dir, calib_rows, epoch_id=epoch_id)

    return start_fold(event_stream, fold, checkpoint_dir)
