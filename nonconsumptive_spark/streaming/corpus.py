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

Every running-table sink in this package commits through ``fold_epoch``
(the one statement of the versioned-commit protocol), and every
incremental sink is wired by ``start_fold`` (foreachBatch + AvailableNow).
The delta-shaped sinks (streaming/neardup.py, streaming/indexstream.py)
append per-epoch directories and share only the marker.

Scale notes: per-batch counting is the narrow fused kernel (no shuffle);
the merge aggregates (token, count) — the running table is vocabulary-
sized, not corpus-sized, so the rewrite cost is bounded by distinct
tokens (cap it with the vocabulary top-K if needed).
"""

from __future__ import annotations

from pathlib import Path
from typing import Callable

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
    return _read_version(spark, table_dir, applied_epoch(table_dir))


def _read_version(spark: SparkSession, table_dir: str,
                  epoch: int) -> DataFrame | None:
    return (spark.read.parquet(str(_version_dir(table_dir, epoch)))
            if epoch >= 0 else None)


def fold_epoch(spark: SparkSession, table_dir: str, epoch_id: int,
               merge: Callable[[DataFrame | None], DataFrame]) -> bool:
    """Fold one epoch into the running table at ``table_dir`` exactly
    once — the versioned-commit protocol every running-table sink shares.

      1. guard: an ``epoch_id`` at or below the marker was already
         applied (foreachBatch is at-least-once and replays an epoch
         whose streaming checkpoint did not commit) — return False and
         touch nothing;
      2. write ``merge(current)`` to ``table_dir/v{epoch_id}``, where
         ``current`` is the last COMMITTED version (None before the
         first commit);
      3. commit: atomically rename the marker to ``epoch_id``;
      4. prune versions older than the one just superseded, which is
         kept so a lazy reader of it survives this commit.

    A crash anywhere before step 3 leaves the marker, and every reader,
    on the previous version, so the replay rebuilds ``v{epoch_id}`` from
    the same committed input: idempotent, no double count, and a partial
    version is never read.  A crash in step 4 comes after the commit, so
    the epoch counts as applied and the replay is refused; the next
    commit prunes what was left.  Additive merges (counts, moments,
    bins) need the guard for exactly-once; semilattice merges (max,
    bottom-k, skyline) would converge without it."""
    prev = applied_epoch(table_dir)
    if epoch_id <= prev:
        return False
    merged = merge(_read_version(spark, table_dir, prev))
    merged.write.mode("overwrite").parquet(str(_version_dir(table_dir, epoch_id)))
    _commit_epoch(table_dir, epoch_id)
    if prev >= 0:
        _prune_versions(table_dir, prev)
    return True


def start_fold(stream: DataFrame, fold: Callable[[DataFrame, int], None],
               checkpoint_dir: str, query_name: str | None = None):
    """Run ``fold(batch_df, epoch_id)`` on every micro-batch of ``stream``
    through foreachBatch with the AvailableNow trigger (drain the backlog,
    then stop) — the wiring every incremental sink uses."""
    writer = (stream.writeStream.foreachBatch(fold)
              .option("checkpointLocation", checkpoint_dir))
    if query_name is not None:
        writer = writer.queryName(query_name)
    return writer.trigger(availableNow=True).start()


def _fresh_events(batch: DataFrame, current: DataFrame | None) -> DataFrame:
    """The rows of an (event_id, ts, ...) batch that an append-only
    event-time table has not counted: one row per event_id, strictly after
    the committed (wm_ts, wm_eid) watermark.  A replayed or late row is
    dropped, so an already-merged event never counts twice."""
    batch = batch.dropDuplicates(["event_id"])
    if current is None:
        return batch
    wm = current.agg(F.max("wm_ts").alias("wm_ts"),
                     F.max("wm_eid").alias("wm_eid")).collect()[0]
    if wm["wm_ts"] is None:  # committed table exists but is empty
        return batch
    return batch.filter(
        (F.col("ts") > F.lit(wm["wm_ts"]))
        | ((F.col("ts") == F.lit(wm["wm_ts"]))
           & (F.col("event_id") > F.lit(wm["wm_eid"])))
    )


def _add_counters(current: DataFrame | None, counts: DataFrame,
                  fresh: DataFrame, key: str) -> DataFrame:
    """The next version of a watermarked counter table: ``counts`` (one
    row per ``key``, BIGINT counters) added to the committed counters,
    every row stamped with the max of the committed watermark and the
    newest fresh (ts, event_id)."""
    wm = fresh.agg(F.max(F.struct("ts", "event_id")).alias("m")).select(
        F.col("m.ts").alias("wm_ts"), F.col("m.event_id").alias("wm_eid"))
    if current is not None:
        cols = [c for c in counts.columns if c != key]
        counts = (
            current.select(key, *cols).unionByName(counts)
            .groupBy(key)
            .agg(*[F.sum(c).cast("long").alias(c) for c in cols])
        )
        wm = (
            wm.unionByName(current.select("wm_ts", "wm_eid").limit(1))
            .agg(F.max(F.struct("wm_ts", "wm_eid")).alias("m"))
            .select("m.wm_ts", "m.wm_eid")
        )
    return counts.crossJoin(F.broadcast(wm))


def merge_wordcounts(batch_counts: DataFrame, table_dir: str,
                     epoch_id: int = 0) -> bool:
    """Fold one micro-batch's (token, count) into the running table:
    additive on collision, through ``fold_epoch`` (False when
    ``epoch_id`` was already applied — without that guard a replayed
    epoch would double-count every token)."""
    def merge(current):
        if current is None:
            return batch_counts
        return (current.unionByName(batch_counts)
                .groupBy("token").agg(F.sum("count").alias("count")))

    return fold_epoch(batch_counts.sparkSession, table_dir, epoch_id, merge)


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

    return start_fold(stream, body, checkpoint_dir, "incremental_wordcounts")
