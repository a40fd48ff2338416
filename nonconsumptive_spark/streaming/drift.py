"""Streaming distribution-drift monitor: as document micro-batches arrive,
compare each batch's unigram distribution against the COMMITTED corpus
distribution (JSD) before folding the batch in — the ingest-time analog
of q_js_divergence, catching a crawl snapshot or source whose language
suddenly shifts.

Per-epoch log entries are written as one overwrite-mode partition
directory per epoch (``log_dir/epoch=N``).  Replay safety has two layers:
an epoch whose merge already COMMITTED is skipped entirely (the corpus
would otherwise contain the batch being compared, deflating the JSD and
clobbering the real pre-crash entry), and an epoch that crashed BEFORE
its merge commit recomputes against the identical committed corpus, so
the overwrite of ``log_dir/epoch=N`` rewrites the same value — between
the two, every crash window lands on either skip-identical or
recompute-identical, never a contaminated entry.

Scale: the batch side is batch-sized, the corpus side is vocabulary-sized
(the running table merge_wordcounts maintains), and the JSD kernel's only
frames are union-vocabulary-sized — per-epoch cost is independent of
corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nonconsumptive_spark.operators import wordcount as wc
from nonconsumptive_spark.operators.textstats import counts_jsd
from nonconsumptive_spark.streaming.corpus import (
    applied_epoch, committed_table, merge_wordcounts, start_fold)


def _log_epoch(spark, log_dir: str, epoch_id: int, row: dict) -> None:
    (
        spark.createDataFrame(
            [(epoch_id, row["v"], row["n_a"], row["n_b"], row["jsd"])],
            "epoch bigint, v bigint, n_corpus bigint, n_batch bigint, jsd double",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{log_dir}/epoch={epoch_id}")
    )


def drift_log(spark, log_dir: str) -> DataFrame:
    return spark.read.option("recursiveFileLookup", "true").parquet(log_dir)


def start_drift_monitor(stream: DataFrame, table_dir: str, log_dir: str,
                        checkpoint_dir: str, id_col: str = "doc_id",
                        text_col: str = "text"):
    """Wire a document stream into (1) a per-epoch drift log vs the
    committed corpus and (2) the running wordcount table itself."""

    def body(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # replay guard (same contract as merge_wordcounts): if this epoch
        # already committed, the corpus table ALREADY CONTAINS this batch —
        # recomputing the JSD now would compare the batch against itself
        # and overwrite the logged entry with a deflated value.  Skip both
        # the log and the merge; the pre-crash entry stands.
        if epoch_id <= applied_epoch(table_dir):
            return
        counts = (
            wc.doc_token_counts(batch_df, id_col=id_col, text_col=text_col)
            .groupBy("token")
            .agg(F.sum("count").alias("count"))
        )
        current = committed_table(spark, table_dir)
        if current is not None:
            rows = counts_jsd(current, counts).collect()
            if rows:
                _log_epoch(spark, log_dir, epoch_id, rows[0].asDict())
        merge_wordcounts(counts, table_dir, epoch_id=epoch_id)

    return start_fold(stream, body, checkpoint_dir, "drift_monitor")
