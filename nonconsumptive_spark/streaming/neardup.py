"""Streaming near-dup ingest: every arriving micro-batch is LSH-checked
against the signature index of EVERYTHING seen so far, then folded into
that index — the crawl-ingest dedup pattern ("is this new page a near-dup
of anything we already have?") that batch pair-mining can't express.

Per batch (foreachBatch, AvailableNow or continuous):

  1. one narrow pass builds the batch's minhash signatures + shingle sets
     (the same ``_sig_base`` kernel as batch dedup — no new math);
  2. band keys of the BATCH join band keys of the INDEX (equi-join on
     short strings; the index side at scale is bucketed/partitioned by
     band so only matching buckets are read) → cross-batch candidates;
  3. an intra-batch band self-join catches dups arriving together;
  4. candidates verify with exact Jaccard over the carried shingle sets
     through the batch operators' kernel (``operators.dedup.verify_pairs``,
     same threshold contract and checkpoint barrier); each flagged doc
     records its ``best_match`` (highest jaccard, then lowest id);
  5. the batch's signatures append to the index; flags append to the
     flag table.  An epoch marker (same guard as the wordcount merge)
     makes replays no-ops, since both writes are appends.

State is the on-disk signature index, not executor memory — a restart
resumes from parquet.  The per-batch cost is |batch| signature work plus
one join against the index's matching band buckets; nothing rescans raw
history text.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nonconsumptive_spark.operators.dedup import (
    _band_rows,
    _sig_base,
    best_match,
    verify_pairs,
)
from nonconsumptive_spark.streaming.corpus import _commit_epoch, applied_epoch


def neardup_flag_batch(batch_base: DataFrame, index: DataFrame | None,
                       threshold: float, id_col: str) -> DataFrame:
    """(doc_id, dup_of, jaccard): best near-dup match per flagged batch doc
    — against the index (cross-batch) and within the batch (intra)."""
    new_bands = _band_rows(batch_base, id_col)
    left_sh = batch_base.select(
        F.col(id_col).alias("doc_id"), F.col("shingles").alias("sh_a")
    )

    intra_a = new_bands.select(F.col(id_col).alias("dup_of"), "band", "band_key")
    intra_b = new_bands.select(F.col(id_col).alias("doc_id"), "band", "band_key")
    intra = (
        intra_a.join(intra_b, ["band", "band_key"])
        .filter(F.col("dup_of") < F.col("doc_id"))  # later id is the dup
        .select("doc_id", "dup_of")
        .distinct()
    )
    right_sh_batch = batch_base.select(
        F.col(id_col).alias("dup_of"), F.col("shingles").alias("sh_b")
    )
    cands = intra.join(right_sh_batch, "dup_of")

    if index is not None:
        idx_bands = _band_rows(index, id_col).select(
            F.col(id_col).alias("dup_of"), "band", "band_key"
        )
        cross = (
            new_bands.select(F.col(id_col).alias("doc_id"), "band", "band_key")
            .join(idx_bands, ["band", "band_key"])
            .select("doc_id", "dup_of")
            .distinct()
        )
        right_sh_idx = index.select(
            F.col(id_col).alias("dup_of"), F.col("shingles").alias("sh_b")
        )
        cands = cands.unionByName(cross.join(right_sh_idx, "dup_of"))

    verified = verify_pairs(cands.join(left_sh, "doc_id"), threshold,
                            "nd_verify", "doc_id", "dup_of")
    return best_match(verified, "doc_id", "dup_of")


def _committed_epoch_dirs(root: Path, marker_dir: str) -> list[str]:
    applied = applied_epoch(marker_dir)
    if not root.exists():
        return []
    return [str(p) for p in sorted(root.glob("e*")) if int(p.name[1:]) <= applied]


def read_flags(spark, flags_dir: str) -> DataFrame | None:
    """Committed flag rows (crashed, uncommitted epochs invisible)."""
    dirs = _committed_epoch_dirs(Path(flags_dir), flags_dir)
    return spark.read.parquet(*dirs) if dirs else None


def read_index(spark, index_dir: str, flags_dir: str) -> DataFrame | None:
    """Committed signature-index rows (commit marker lives with flags)."""
    dirs = _committed_epoch_dirs(Path(index_dir), flags_dir)
    return spark.read.parquet(*dirs) if dirs else None


def start_neardup_ingest(stream: DataFrame, index_dir: str, flags_dir: str,
                         checkpoint_dir: str, threshold: float = 0.5,
                         id_col: str = "doc_id", text_col: str = "text"):
    """Wire a document stream into the incremental near-dup flagger."""
    index_path = Path(index_dir)

    def body(batch_df: DataFrame, epoch_id: int) -> None:
        if epoch_id <= applied_epoch(flags_dir):
            return  # replayed epoch: already committed, skip entirely
        spark = batch_df.sparkSession
        base = _sig_base(batch_df, id_col, text_col, keep_shingles=True,
                         materialize=True)
        # read only COMMITTED epoch partitions of the index: a crashed
        # attempt's partial e{epoch} dir must not feed candidate lookup
        # (it would contain this very batch's own docs)
        applied = applied_epoch(flags_dir)
        committed = [
            str(p) for p in sorted(index_path.glob("e*"))
            if int(p.name[1:]) <= applied
        ] if index_path.exists() else []
        index = spark.read.parquet(*committed) if committed else None
        flags = neardup_flag_batch(base, index, threshold, id_col)
        # per-epoch OVERWRITE, not a bare append: a crash between these
        # writes and the marker replays the epoch, and overwrite makes
        # the replay rewrite the same epoch partition instead of
        # appending duplicate flag/index rows
        flags.write.mode("overwrite").parquet(f"{flags_dir}/e{epoch_id}")
        base.select(id_col, "shingles", "sig").write.mode("overwrite").parquet(
            str(index_path / f"e{epoch_id}")
        )
        _commit_epoch(flags_dir, epoch_id)

    return (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("neardup_ingest")
        .trigger(availableNow=True)
        .start()
    )
