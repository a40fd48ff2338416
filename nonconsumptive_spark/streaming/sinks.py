"""foreachBatch sinks: the bridge from a streaming query's micro-batch to
arbitrary batch code with an epoch id.  The upsert sink maintains a
keyed running table (last-write-wins per key) under foreachBatch's
at-least-once contract.

Durability: every apply commits through ``streaming/corpus.fold_epoch``
(versioned commit).  Upsert is idempotent per key, so even a replay
applied twice converges — the versioning additionally guarantees readers
never observe a half-written table, which a delete-then-overwrite of one
directory cannot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from nonconsumptive_spark.streaming.corpus import (
    applied_epoch, fold_epoch, start_fold)


def upsert_parquet(batch_df: DataFrame, table_dir: str, keys: list[str],
                   epoch_id: int | None = None) -> None:
    """Batch-side upsert body (usable directly or from foreachBatch).
    Without an ``epoch_id`` the version counter simply advances by one
    per call (direct batch use); with one, replayed epochs are skipped."""
    if epoch_id is None:
        epoch_id = applied_epoch(table_dir) + 1
    dedup = batch_df.dropDuplicates(keys)  # last-write-wins inside a batch

    def merge(current):
        if current is None:
            return dedup
        kept = current.join(dedup.select(*keys), keys, "left_anti")
        return kept.unionByName(dedup)

    fold_epoch(batch_df.sparkSession, table_dir, epoch_id, merge)


def start_upsert_sink(stream: DataFrame, table_dir: str, keys: list[str],
                      checkpoint_dir: str, query_name: str = "upsert"):
    """Wire a streaming DataFrame into the upsert sink via foreachBatch
    with AvailableNow (drain backlog then stop)."""
    def body(batch_df: DataFrame, epoch_id: int) -> None:
        upsert_parquet(batch_df, table_dir, keys, epoch_id=epoch_id)

    return start_fold(stream, body, checkpoint_dir, query_name)
