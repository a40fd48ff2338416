"""Streaming Holt linear-trend monitor: maintain the daily event-count
series across micro-batches and serve the Holt (level, trend, forecast
error) table — the live form of the batch fold
(``operators/grouped.holt_linear_daily``).

State discipline: the committed table stores the DAY-COUNT spine plus an
append-only (ts, event_id) watermark.  Day counts merge ADDITIVELY per
epoch (a batch only touches the days it carries), and the Holt fold is
re-run over the whole committed spine on read — the spine is
corpus-age-bounded (one row per day), so the refold is O(days) and
chunked == batch equality is trivially bit-exact: both paths fold the
SAME (day, n_events) frame through the SAME kernel.

Event-time discipline: append-only — a batch row at or before the
committed (ts, event_id) watermark is a replayed or late observation and
is dropped (an already-merged day must never double-count).  Duplicate
event_ids within one micro-batch are dropped before counting.  The
watermark filter and the counter merge are the shared
``streaming/corpus._fresh_events`` / ``_add_counters`` pair, and
exactly-once across foreachBatch's at-least-once replays comes from the
shared versioned commit (``streaming/corpus.fold_epoch``).

Scale notes: per-epoch work is one day agg over the batch, one union
with the committed spine, one day agg over the (tiny) union; state is
one row per day plus two watermark scalars.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nonconsumptive_spark.operators.grouped import (
    HOLT_ALPHA,
    HOLT_BETA,
    holt_from_day_counts,
)
from nonconsumptive_spark.streaming.corpus import (
    _add_counters,
    _fresh_events,
    committed_table,
    fold_epoch,
    start_fold,
)

STATE_COLS = ("day", "n_events", "wm_ts", "wm_eid")


def merge_holt_days(batch: DataFrame, table_dir: str,
                    epoch_id: int = 0) -> bool:
    """Fold one micro-batch of (event_id, ts) rows into the committed
    day-count spine.  Returns False (no-op) when ``epoch_id`` was
    already applied."""
    def merge(current):
        fresh = _fresh_events(batch, current)
        days = (
            fresh.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
            .agg(F.count("*").cast("long").alias("n_events"))
        )
        return _add_counters(current, days, fresh, "day")

    return fold_epoch(batch.sparkSession, table_dir, epoch_id, merge)


def monitor(spark: SparkSession, table_dir: str,
            alpha: float = HOLT_ALPHA,
            beta: float = HOLT_BETA) -> DataFrame | None:
    """The Holt (day, n_events, level, trend, forecast_err) table over
    the committed day spine (None before the first commit) — the same
    kernel the batch operator runs, so stream-of-chunks == batch
    bit-for-bit."""
    cur = committed_table(spark, table_dir)
    if cur is None:
        return None
    return holt_from_day_counts(cur.select("day", "n_events"),
                                alpha=alpha, beta=beta)


def start_incremental_holt(event_stream: DataFrame, table_dir: str,
                           checkpoint_dir: str):
    """foreachBatch wiring: fold each micro-batch into the committed day
    spine, AvailableNow trigger (``start_fold``)."""
    def fold(batch, epoch_id):
        merge_holt_days(batch, table_dir, epoch_id=epoch_id)

    return start_fold(event_stream, fold, checkpoint_dir)
