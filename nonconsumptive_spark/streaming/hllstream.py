"""Streaming HyperLogLog: fold each arriving micro-batch's token-hash
registers into a committed running sketch — corpus-lifetime distinct-token
cardinality at fixed 2^p memory, updated per epoch.

Why this composes so cleanly with the versioned commit
(``streaming/corpus.fold_epoch``): register merge is MAX, which is
monotone and idempotent — unlike the additive wordcount fold, replaying
an epoch's registers into a state that already absorbed them cannot
change anything.
The epoch guard is still kept (skipping a replayed epoch skips its
recompute, and uniform behavior across sinks keeps the at-least-once
reasoning local), but correctness does not depend on it: the merge
function is a semilattice join, the textbook reason HLL sketches are the
distributed-systems workhorse for cardinality.

The running table is the SPARSE (j, mr) register form —
≤ ``HLL_M`` rows forever, however much data streams through.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nonconsumptive_spark.operators.wordcount import (
    HLL_EST_SQL,
    HLL_M,
    hll_register_sums,
)
from nonconsumptive_spark.streaming.corpus import committed_table, fold_epoch


def merge_hll_registers(batch_regs: DataFrame, table_dir: str,
                        epoch_id: int = 0) -> bool:
    """Fold one micro-batch's sparse (j, mr) registers into the running
    sketch through ``fold_epoch``: max on collision; returns False when
    ``epoch_id`` was already applied."""
    def merge(current):
        if current is None:
            return batch_regs
        return (current.unionByName(batch_regs)
                .groupBy("j").agg(F.max("mr").alias("mr")))

    return fold_epoch(batch_regs.sparkSession, table_dir, epoch_id, merge)


def hll_estimate(spark: SparkSession, table_dir: str) -> DataFrame | None:
    """1-row (m, estimate) from the committed running registers (None
    before the first commit) — the read side of the streaming sketch.
    Shares the mirrored estimate expression with the batch operator, so
    stream == batch equality is an exact frame comparison."""
    regs = committed_table(spark, table_dir)
    if regs is None:
        return None
    return hll_register_sums(spark, regs).select(
        F.lit(HLL_M).cast("long").alias("m"),
        F.expr(HLL_EST_SQL).alias("estimate"),
    )


def merge_hll_registers_grouped(batch_regs: DataFrame, table_dir: str,
                                epoch_id: int = 0) -> bool:
    """Grouped form: fold (grp, j, mr) register rows — "distinct users
    per event type, live".  Still a semilattice join (max per (grp, j)),
    so replay-idempotent; state is ≤ groups x HLL_M rows forever."""
    def merge(current):
        if current is None:
            return batch_regs
        return (current.unionByName(batch_regs)
                .groupBy("grp", "j").agg(F.max("mr").alias("mr")))

    return fold_epoch(batch_regs.sparkSession, table_dir, epoch_id, merge)


def hll_estimate_grouped(spark: SparkSession,
                         table_dir: str) -> DataFrame | None:
    """(grp, estimate) from the committed grouped registers (None before
    the first commit) — the same mirrored expression per group."""
    regs = committed_table(spark, table_dir)
    if regs is None:
        return None
    groups = regs.select("grp").distinct()
    spine = groups.crossJoin(
        F.broadcast(spark.range(HLL_M).select(F.col("id").cast("long").alias("j"))))
    full = (
        spine.join(regs, ["grp", "j"], "left")
        .select("grp", F.coalesce("mr", F.lit(0)).alias("m_j"))
    )
    from nonconsumptive_spark.operators.wordcount import HLL_SHIFT

    sums = full.groupBy("grp").agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_SHIFT} - m_j)"))
        .cast("long").alias("s"),
        F.sum((F.col("m_j") == 0).cast("long")).cast("long").alias("v"),
    )
    return sums.selectExpr("grp", f"{HLL_EST_SQL} AS estimate")
