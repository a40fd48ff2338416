"""Streaming uniform sample: the md5-bottom-k sketch folded across
micro-batches — the live form of ``operators/textstats.uniform_sample_k``
(the eval-subset selector), at fixed ``k``-row memory however much data
streams through.

Why this is the RIGHT streaming sample: membership is a pure function of
the key (rank by md5(key), keep the k smallest), so the bottom-k set is
a SEMILATTICE — merge = bottom-k of the union — which makes the fold

  * order-insensitive: any chunking of the stream commits the same set
    the batch operator selects over all data seen (stream == batch,
    asserted exactly);
  * replay-idempotent: re-folding an epoch's rows cannot change the
    set (min-union absorbs duplicates), the HLL max-merge property —
    the epoch guard is kept for uniform sink behavior, but correctness
    does not depend on it.

A reservoir sampler by contrast is order- and randomness-dependent and
cannot be made exactly-once under at-least-once replays without exactly
this kind of determinization.

Scale shape: state is k rows forever; the per-epoch merge unions the
batch's OWN bottom-k (a TakeOrdered over the batch, never a full sort)
with the committed k rows and cuts again — cost O(batch + k).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nonconsumptive_spark.streaming.corpus import (
    committed_table, fold_epoch, start_fold)


def _bottom_k(df: DataFrame, k: int, key_col: str) -> DataFrame:
    return (
        df.withColumn("__rk", F.md5(F.col(key_col).cast("string")))
        .orderBy("__rk", key_col)
        .limit(k)
        .drop("__rk")
    )


def merge_bottom_k(batch: DataFrame, table_dir: str, k: int,
                   key_col: str = "doc_id", epoch_id: int = 0) -> bool:
    """Fold one micro-batch into the committed k-row sample.  Returns
    False (no-op) when ``epoch_id`` was already applied."""
    incoming = _bottom_k(batch, k, key_col)

    def merge(current):
        if current is None:
            return incoming.distinct()
        # distinct: a key replayed across epochs (at-least-once file
        # source) must not occupy two sample slots
        return _bottom_k(current.unionByName(incoming).distinct(), k, key_col)

    return fold_epoch(batch.sparkSession, table_dir, epoch_id, merge)


def sample(spark: SparkSession, table_dir: str) -> DataFrame | None:
    """The committed sample (None before the first commit)."""
    return committed_table(spark, table_dir)


def start_incremental_sample(stream: DataFrame, table_dir: str,
                             checkpoint_dir: str, k: int,
                             key_col: str = "doc_id"):
    """foreachBatch wiring, AvailableNow trigger."""
    def fold(batch, epoch_id):
        merge_bottom_k(batch, table_dir, k, key_col, epoch_id=epoch_id)

    return start_fold(stream, fold, checkpoint_dir)


# ---------------------------------------------------------------------------
# Weighted companion: a live Duffield-Lund-Thorup priority sample.  The
# priority w / u (u = the key's md5 uniform) is a pure function of the
# row, so the top-(k+1) priority set is ALSO a semilattice — same
# order-insensitivity and replay-idempotence as the uniform bottom-k.
# State keeps k+1 rows so the estimation threshold tau (the (k+1)-th
# priority over EVERYTHING seen) is always derivable from the committed
# table alone.
# ---------------------------------------------------------------------------

_PRI_POW2 = float(1 << 60)


def _priority(key_col: str, weight_col: str):
    from nonconsumptive_spark.operators.dedup import _md5_long

    return (F.col(weight_col).cast("double")
            / ((_md5_long(F.col(key_col).cast("string")) + 1)
               / F.lit(_PRI_POW2)))


def _top_priority(df: DataFrame, n: int, key_col: str,
                  weight_col: str) -> DataFrame:
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__p", _priority(key_col, weight_col))
        .orderBy(F.desc("__p"), F.asc(key_col))
        .limit(n)
        .drop("__p")
    )


def merge_top_priority(batch: DataFrame, table_dir: str, k: int,
                       key_col: str = "doc_id",
                       weight_col: str = "n_chars",
                       epoch_id: int = 0) -> bool:
    """Fold one micro-batch into the committed (k+1)-row priority state.
    Returns False (no-op) when ``epoch_id`` was already applied."""
    incoming = _top_priority(batch, k + 1, key_col, weight_col)

    def merge(current):
        if current is None:
            return incoming.distinct()
        return _top_priority(current.unionByName(incoming).distinct(),
                             k + 1, key_col, weight_col)

    return fold_epoch(batch.sparkSession, table_dir, epoch_id, merge)


def priority_sample(spark: SparkSession, table_dir: str, k: int,
                    key_col: str = "doc_id",
                    weight_col: str = "n_chars") -> DataFrame | None:
    """(sample rows, tau): the k-row weighted sample plus the DLT
    estimation threshold — tau is the (k+1)-th priority over everything
    streamed so far (0.0 while the population is still <= k, i.e. the
    sample IS the population and weights need no correction)."""
    t = committed_table(spark, table_dir)
    if t is None:
        return None
    ranked = (
        t.withColumn("__p", _priority(key_col, weight_col))
        .withColumn("__rk", F.row_number().over(
            Window.orderBy(F.desc("__p"), F.asc(key_col))))
    )
    tau = ranked.filter(F.col("__rk") == k + 1).select(
        F.coalesce(F.max("__p"), F.lit(0.0)).alias("tau"))
    return (
        ranked.filter(F.col("__rk") <= k)
        .drop("__p", "__rk")
        .crossJoin(F.broadcast(tau))
    )
