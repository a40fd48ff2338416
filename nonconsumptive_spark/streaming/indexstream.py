"""Streaming positional-index maintenance: append each micro-batch's
posting triples (term, doc, pos) as an epoch DELTA, so exact phrase
retrieval (operators/retrieval.phrase_search_indexed) stays answerable
while the corpus streams in.

Unlike the running wordcount/moment/HLL tables (bounded state, rewritten
per epoch), the index grows with the corpus — rewriting it per epoch
would cost O(index) per batch.  This module therefore uses the
append-only half of the commit scheme: each epoch writes its postings to
``{table_dir}/epoch={e}`` and only then advances the shared epoch
marker (streaming/corpus.py), the transaction-log pattern:

  * a crash between delta write and marker leaves a half-written
    directory that readers never see (they union only deltas <= the
    applied epoch); the replay overwrites it and then commits;
  * a replayed epoch is refused by the guard — postings are additive,
    so the guard is load-bearing against hit-count duplication (same
    contract as merge_wordcounts);
  * per-epoch cost is O(batch); deltas are only ever rewritten by the
    explicit ``optimize_index`` maintenance pass, which compacts them
    into a single crash-safe base (tmp-write -> atomic rename -> prune).

With ``partition_by_term`` each delta is hive-partitioned on the term so
phrase queries prune to their own terms' postings.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from nonconsumptive_spark.streaming.corpus import (
    _commit_epoch, applied_epoch, start_fold)


def _delta_dir(table_dir: str, epoch_id: int) -> Path:
    return Path(table_dir) / f"epoch={epoch_id}"


def merge_postings(batch_docs: DataFrame, table_dir: str,
                   id_col: str = "doc_id", text_col: str = "text",
                   epoch_id: int = 0, partition_by_term: bool = False) -> bool:
    """Tokenize one micro-batch of documents and append its postings as
    this epoch's delta.  Returns False (no-op) when ``epoch_id`` was
    already applied.  ``partition_by_term=True`` writes each delta
    hive-partitioned on the term, so a phrase query's scan partition-
    prunes to its own terms' postings — the right layout once postings
    outgrow a single scan."""
    if epoch_id <= applied_epoch(table_dir):
        return False
    from nonconsumptive_spark.operators.retrieval import build_positional_index

    postings = build_positional_index(batch_docs, id_col, text_col)
    writer = postings.write.mode("overwrite")
    if partition_by_term:
        writer = writer.partitionBy("term")
    writer.parquet(str(_delta_dir(table_dir, epoch_id)))
    _commit_epoch(table_dir, epoch_id)
    return True


def committed_index(spark: SparkSession, table_dir: str) -> DataFrame | None:
    """Union of all committed epoch deltas (None before the first
    commit).  Half-written deltas past the marker are invisible."""
    applied = applied_epoch(table_dir)
    if applied < 0:
        return None
    base = _base_epoch(table_dir)
    roots = [
        p for p in Path(table_dir).glob("epoch=*")
        if p.is_dir() and base < int(p.name.split("=", 1)[1]) <= applied
    ]
    if base >= 0:
        roots.append(Path(table_dir) / f"base={base}")
    # each root is read ALONE so partition discovery stays inside it
    # (term=... subdirs resolve to the term column; mixing base=/epoch=
    # roots in one read would conflict) and unioned BY NAME (partition
    # columns come back last).  Compaction (optimize_index) bounds the
    # number of roots, so the union stays plan-sized.
    frames = [spark.read.parquet(str(r)) for r in sorted(roots)]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def start_incremental_index(stream: DataFrame, table_dir: str,
                            checkpoint_dir: str, id_col: str = "doc_id",
                            text_col: str = "text"):
    """Wire a document stream into a running positional index."""
    def body(batch_df: DataFrame, epoch_id: int) -> None:
        merge_postings(batch_df, table_dir, id_col, text_col,
                       epoch_id=epoch_id)

    return start_fold(stream, body, checkpoint_dir, "incremental_index")


def live_phrase_search(spark: SparkSession, table_dir: str,
                       phrase: list[str],
                       id_col: str = "doc_id") -> DataFrame | None:
    """Phrase query against the committed index (None before the first
    commit) — identical results to the batch forms over the same docs."""
    from nonconsumptive_spark.operators.retrieval import phrase_search_indexed

    idx = committed_index(spark, table_dir)
    if idx is None:
        return None
    return phrase_search_indexed(idx, phrase, id_col=id_col)


def _bases(table_dir: str) -> dict[Path, str]:
    """Every ``base=*`` directory and the text after its ``=``."""
    return {p: p.name.split("=", 1)[1] for p in Path(table_dir).glob("base=*")
            if p.is_dir()}


def _base_epoch(table_dir: str) -> int:
    """Highest committed base compaction (-1 if none); an uncommitted
    ``base=N.tmp`` is not one."""
    return max((int(e) for e in _bases(table_dir).values() if e.isdigit()),
               default=-1)


def optimize_index(spark: SparkSession, table_dir: str,
                   n_files: int = 8, partition_by_term: bool = False) -> bool:
    """Compact every committed delta into one base — the maintenance half
    of the delta layout (each epoch adds a directory; after thousands of
    epochs the union scan pays per-delta open cost).  Crash-safe:

      1. write the union to ``base={applied}.tmp`` (invisible);
      2. atomic rename to ``base={applied}`` — the commit point;
      3. delete superseded deltas, older bases and any ``base=N.tmp``
         left at or below ``applied`` by a crash before an earlier
         rename — a crash mid-delete leaves garbage that readers already
         ignore (``committed_index`` reads only epochs ABOVE the newest
         base).

    Returns False when there is nothing to compact."""
    import shutil

    applied = applied_epoch(table_dir)
    base = _base_epoch(table_dir)
    if applied < 0 or applied <= base:
        return False
    idx = committed_index(spark, table_dir)
    tmp = Path(table_dir) / f"base={applied}.tmp"
    final = Path(table_dir) / f"base={applied}"
    writer = idx.repartition(n_files).write.mode("overwrite")
    if partition_by_term:  # keep the delta layout's pruning in the base
        writer = writer.partitionBy("term")
    writer.parquet(str(tmp))
    tmp.rename(final)                      # commit point (atomic)
    for p in Path(table_dir).glob("epoch=*"):
        if p.is_dir() and int(p.name.split("=", 1)[1]) <= applied:
            shutil.rmtree(p, ignore_errors=True)
    for p, e in _bases(table_dir).items():
        stale = (int(e) < applied if e.isdigit() else
                 e.endswith(".tmp") and e[:-4].isdigit() and int(e[:-4]) <= applied)
        if stale:
            shutil.rmtree(p, ignore_errors=True)
    return True
