"""Streaming EWMA anomaly monitor: maintain each user's exponentially
weighted moving average across micro-batches — the live form of the
batch backfill (``operators/grouped.ewma_anomalies``), continuing every
user's recurrence exactly where the committed table left it.

State discipline: the committed table stores the UNQUANTIZED
``raw_ewma`` beside the quantized output column, because the recurrence
must continue from the raw double — resuming from the rounded value
would drift the chunked fold away from the one-shot batch at the 1e-6
level.  Per-user state is the last committed row, extracted with ONE
``max(struct(ts, event_id, raw_ewma))`` agg (the (ts, event_id) pair is
the series' total order, so the struct max IS the latest row — no
window, no collect).

Event-time discipline: append-only per user — a batch row at or before
the user's last committed (ts, event_id) is a replayed or late
observation and is dropped (EWMA is order-defined; re-folding an old
event would corrupt every subsequent value).  Exactly-once across
foreachBatch's at-least-once replays comes from the shared versioned
commit (``streaming/corpus.fold_epoch``).

Scale notes: per-epoch work is one state agg over the committed table,
one broadcast-able state join onto the batch, and the same user-keyed
grouped-map pass as the batch operator; state is one double per user.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nonconsumptive_spark.operators.grouped import EWMA_ALPHA, EWMA_SPIKE
from nonconsumptive_spark.streaming.corpus import (
    committed_table, fold_epoch, start_fold)

OUT_COLS = ("event_id", "user_id", "ts", "value",
            "raw_ewma", "ewma", "is_spike")


def _fold_chunk(fresh: DataFrame, alpha: float, spike: float) -> DataFrame:
    """Run the per-user recurrence over new rows, seeded by the joined
    ``raw0`` state column (NaN/absent for first-seen users).  Arithmetic
    is the exact op sequence of the batch operator: the recurrence
    restarts ONLY at the first row of an unseeded (first-seen) user —
    the chunk-level mirror of the batch kernel's ``i == 0`` restart.  A
    NaN *value* therefore poisons every subsequent ewma for that user,
    exactly as the batch backfill propagates it (restarting on
    ``isnan(acc)`` would silently re-seed mid-stream and break the
    documented chunked==batch bit-exact equivalence)."""
    one_minus = 1.0 - alpha
    schema = ("event_id long, user_id long, ts timestamp, value double, "
              "raw_ewma double, prev double")

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        v = pdf["value"].astype("float64").to_numpy()
        e = np.empty_like(v)
        prev = np.empty_like(v)
        r0 = pdf["raw0"].iloc[0]
        seeded = bool(pd.notna(r0))
        acc = float(r0) if seeded else float("nan")
        for i, x in enumerate(v):
            prev[i] = acc
            acc = x if (i == 0 and not seeded) \
                else alpha * x + one_minus * acc
            e[i] = acc
        return pd.DataFrame({
            "event_id": pdf["event_id"].to_numpy(),
            "user_id": pdf["user_id"].to_numpy(),
            "ts": pdf["ts"].to_numpy(),
            "value": v,
            "raw_ewma": e,
            "prev": prev,
        })

    out = (
        fresh.select("user_id", "event_id", "ts", "value", "raw0")
        .groupBy("user_id")
        .applyInPandas(run, schema=schema)
    )
    return out.select(
        "event_id", "user_id", "ts", "value", "raw_ewma",
        (F.floor(F.col("raw_ewma") * 1_000_000 + F.lit(0.5))
         / F.lit(1_000_000.0)).alias("ewma"),
        F.when(F.col("prev").isNull() | F.isnan("prev"), F.lit(False))
        .otherwise(F.abs(F.col("value") - F.col("prev")) > spike)
        .alias("is_spike"),
    )


def merge_ewma(batch: DataFrame, table_dir: str,
               alpha: float = EWMA_ALPHA, spike: float = EWMA_SPIKE,
               epoch_id: int = 0) -> bool:
    """Fold one micro-batch of (event_id, user_id, ts, value) rows into
    the committed per-event monitor table.  Returns False (no-op) when
    ``epoch_id`` was already applied."""
    # The epoch guard only drops CROSS-epoch replays; an at-least-once
    # source can also duplicate a row WITHIN one micro-batch, and the
    # fold would count it twice — event_id is the series key, so one
    # row per id.
    batch = batch.dropDuplicates(["event_id"])

    def merge(current):
        if current is None:
            return _fold_chunk(
                batch.withColumn("raw0", F.lit(None).cast("double")),
                alpha, spike)
        state = (
            current.groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "raw_ewma")).alias("s"))
            .select(
                "user_id",
                F.col("s.ts").alias("last_ts"),
                F.col("s.event_id").alias("last_eid"),
                F.col("s.raw_ewma").alias("raw0"),
            )
        )
        joined = batch.join(F.broadcast(state), "user_id", "left")
        fresh = joined.filter(
            F.col("last_ts").isNull()
            | (F.col("ts") > F.col("last_ts"))
            | ((F.col("ts") == F.col("last_ts"))
               & (F.col("event_id") > F.col("last_eid")))
        )
        return current.select(*OUT_COLS).unionByName(
            _fold_chunk(fresh, alpha, spike))

    return fold_epoch(batch.sparkSession, table_dir, epoch_id, merge)


def monitor(spark: SparkSession, table_dir: str) -> DataFrame | None:
    """The committed monitor table (None before the first commit)."""
    return committed_table(spark, table_dir)


def start_incremental_ewma(event_stream: DataFrame, table_dir: str,
                           checkpoint_dir: str,
                           alpha: float = EWMA_ALPHA,
                           spike: float = EWMA_SPIKE):
    """foreachBatch wiring: fold each micro-batch of events into the
    committed monitor, AvailableNow trigger (``start_fold``)."""
    def fold(batch, epoch_id):
        merge_ewma(batch, table_dir, alpha, spike, epoch_id=epoch_id)

    return start_fold(event_stream, fold, checkpoint_dir)
