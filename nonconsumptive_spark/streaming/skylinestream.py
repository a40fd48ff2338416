"""Streaming skyline: maintain the Pareto frontier of everything seen so
far across micro-batches — the live form of ``operators/skyline.skyline``
(curation keeps only currently-undominated candidates as data arrives).

State is the committed frontier itself, which only ever SHRINKS relative
to the data it summarizes (frontier size, not corpus size, forever).  The
merge is ``skyline(distinct(state ∪ skyline(batch)))``:

  * dominance pruning is a lattice-style reduction — merging the same
    rows again cannot change the frontier — and the row-level
    ``distinct`` makes replayed epochs exact no-ops even WITHOUT the
    epoch guard (the HLL max-merge property, not the wordcount additive
    one).  Consequence: row multiplicity of bit-identical duplicate rows
    is NOT preserved (distinct ids with equal (x, y) both survive —
    only exact duplicate rows collapse).
  * a point evicted by an earlier epoch can never re-enter: dominance
    over a superset implies dominance over the union — so pruning state
    eagerly is safe, no tombstones needed.

Commits go through ``streaming/corpus.fold_epoch``, so readers only ever
observe a fully-written frontier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from nonconsumptive_spark.operators.skyline import skyline
from nonconsumptive_spark.streaming.corpus import (
    committed_table, fold_epoch, start_fold)


def merge_skyline(batch: DataFrame, table_dir: str, xcol: str, ycol: str,
                  epoch_id: int = 0) -> bool:
    """Fold one micro-batch into the committed frontier.  Returns False
    (no-op) when ``epoch_id`` was already applied."""
    # batch-local skyline first: the state join sees frontier-sized
    # frames on both sides, never the raw batch
    incoming = skyline(batch, xcol, ycol)

    def merge(current):
        if current is None:
            return incoming.distinct()
        return skyline(current.unionByName(incoming).distinct(), xcol, ycol)

    return fold_epoch(batch.sparkSession, table_dir, epoch_id, merge)


def start_incremental_skyline(stream: DataFrame, table_dir: str,
                              checkpoint_dir: str, xcol: str, ycol: str):
    """Wire a stream into a running frontier table."""
    def body(batch_df: DataFrame, epoch_id: int) -> None:
        merge_skyline(batch_df, table_dir, xcol, ycol, epoch_id=epoch_id)

    return start_fold(stream, body, checkpoint_dir, "incremental_skyline")


def frontier(spark: SparkSession, table_dir: str) -> DataFrame | None:
    """The committed frontier (None before the first commit)."""
    return committed_table(spark, table_dir)
