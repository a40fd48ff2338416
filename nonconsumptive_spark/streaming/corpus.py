"""Incremental corpus ingestion: stream bookstacks in, maintain running
derived tables (SURVEY §7 Phase 4 "streaming variants of ingestion").

The reference rebuilds derived features per-bookstack on demand; here new
bookstack parquet files arriving in a directory flow through the SAME
fused counting kernel (operators/wordcount.py) incrementally, and a
foreachBatch sink folds each micro-batch's counts into a running global
wordcount table.  The merge is ADDITIVE, and foreachBatch is
at-least-once — a merge that commits just before a failed streaming
checkpoint commit gets re-applied on restart — so the sink records the
last-applied epoch in a sidecar marker and skips any batch with
``epoch_id <= applied``; that makes re-application a no-op and the final
table equal to the batch computation over all files (asserted in tests).

Scale notes: per-batch counting is the narrow fused kernel (no shuffle);
the merge aggregates (token, count) — the running table is vocabulary-
sized, not corpus-sized, so the rewrite cost is bounded by distinct
tokens (cap it with the vocabulary top-K if needed).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nonconsumptive_spark.operators import wordcount as wc


def stream_documents(spark: SparkSession, path: str,
                     max_files_per_trigger: int = 4, schema=None) -> DataFrame:
    """File-source stream over a documents/bookstack parquet directory.
    Streaming reads need a schema: ``schema`` when given, else one frozen
    from a batch peek (a schema-inference job)."""
    if schema is None:
        schema = spark.read.parquet(path).schema
    return (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )


def _epoch_marker(table_dir: str) -> Path:
    return Path(str(table_dir).rstrip("/") + "__epoch")


def applied_epoch(table_dir: str) -> int:
    """Last epoch folded into the table; -1 if none recorded."""
    marker = _epoch_marker(table_dir)
    try:
        return int(marker.read_text().strip())
    except (FileNotFoundError, ValueError):
        return -1


def _commit_epoch(table_dir: str, epoch_id: int) -> None:
    """Atomic commit point: write-then-rename, so the marker is never
    observed half-written and the commit is all-or-nothing."""
    import os

    marker = _epoch_marker(table_dir)
    # NOT with_suffix: a table dir containing a dot ('wc.parquet' ->
    # marker 'wc.parquet__epoch') would have its whole suffix replaced,
    # so two tables like 'a.parquet' / 'a.json' would race one shared
    # 'a.tmp' (r3 ADVICE finding).  Append instead.
    tmp = marker.parent / (marker.name + ".tmp")
    tmp.write_text(str(epoch_id))
    os.replace(tmp, marker)


def _version_dir(table_dir: str, epoch_id: int) -> Path:
    return Path(table_dir) / f"v{epoch_id}"


def _prune_versions(table_dir: str, keep_from: int) -> None:
    """Best-effort removal of version dirs strictly older than
    ``keep_from``.  The LAST superseded version is retained on purpose:
    ``committed_table`` hands out a LAZY DataFrame over ``v{applied}``,
    and a reader holding that frame while the next epoch commits must
    still find its files.  Deleting only versions two-or-more commits old
    gives the documented guarantee: a committed reader survives one
    subsequent commit (single writer assumed; a reader that lags two
    commits can still hit FileNotFoundException mid-scan)."""
    import shutil

    root = Path(table_dir)
    if not root.exists():
        return
    for d in root.glob("v*"):
        try:
            epoch = int(d.name[1:])
        except ValueError:
            continue
        if epoch < keep_from:
            shutil.rmtree(d, ignore_errors=True)


def committed_table(spark: SparkSession, table_dir: str) -> DataFrame | None:
    """The last COMMITTED version of the running table (None before the
    first commit).  Readers must come through here: uncommitted version
    dirs (a crash mid-write) are invisible because the marker still names
    the previous version.  The returned DataFrame is lazy and remains
    readable across exactly ONE subsequent commit (see _prune_versions);
    long-lived readers should materialize promptly."""
    applied = applied_epoch(table_dir)
    if applied < 0:
        return None
    return spark.read.parquet(str(_version_dir(table_dir, applied)))


def merge_wordcounts(batch_counts: DataFrame, table_dir: str,
                     epoch_id: int = 0) -> bool:
    """Fold one micro-batch's (token, count) into the running table:
    additive on collision.  Returns False (and does nothing) when
    ``epoch_id`` was already applied — additive merges MUST be guarded
    this way under foreachBatch's at-least-once contract, or a replayed
    epoch double-counts every token.

    Crash-safe by versioned commit: epoch e's merge reads the last
    COMMITTED version (the marker), writes ``table_dir/v{e}``, then
    atomically renames the marker.  A crash anywhere before the rename
    leaves the marker on the previous version, so the replay rebuilds
    v{e} from the same committed input — idempotent, no double count, and
    a partial v{e} is never read (the marker still points at v{e-1})."""
    if epoch_id <= applied_epoch(table_dir):
        return False
    spark = batch_counts.sparkSession
    current = committed_table(spark, table_dir)
    if current is not None:
        merged = (
            current.unionByName(batch_counts)
            .groupBy("token")
            .agg(F.sum("count").alias("count"))
        )
    else:
        merged = batch_counts
    prev = applied_epoch(table_dir)
    merged.write.mode("overwrite").parquet(str(_version_dir(table_dir, epoch_id)))
    _commit_epoch(table_dir, epoch_id)
    # post-commit prune: keep the newly superseded version (live lazy
    # readers), drop anything older
    if prev >= 0:
        _prune_versions(table_dir, prev)
    return True


def start_incremental_wordcounts(stream: DataFrame, table_dir: str,
                                 checkpoint_dir: str,
                                 id_col: str = "doc_id",
                                 text_col: str = "text"):
    """Wire a document stream into a running global wordcount table."""
    def body(batch_df: DataFrame, epoch_id: int) -> None:
        counts = (
            wc.doc_token_counts(batch_df, id_col=id_col, text_col=text_col)
            .groupBy("token")
            .agg(F.sum("count").alias("count"))
        )
        merge_wordcounts(counts, table_dir, epoch_id=epoch_id)

    return (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("incremental_wordcounts")
        .trigger(availableNow=True)
        .start()
    )
