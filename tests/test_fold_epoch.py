"""The versioned-commit protocol every running-table streaming sink shares
(``streaming/corpus.fold_epoch``), driven directly on frames of a few
rows: a replayed epoch is refused, a crash at the marker rename leaves the
previous version committed and the replay converges, a crash at the prune
still counts as committed, and a lazy committed reader survives exactly
one later commit."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nonconsumptive_spark.streaming import corpus as cp


def _add(spark, e):
    """An additive merge of epoch e's batch: ('a', 1) and ('t{e}', 1)."""
    batch = spark.createDataFrame([("a", 1), (f"t{e}", 1)],
                                  "token string, count long")

    def merge(current):
        if current is None:
            return batch
        return (current.unionByName(batch)
                .groupBy("token").agg(F.sum("count").alias("count")))

    return merge


def _expected(n_epochs):
    return sorted([("a", n_epochs)] + [(f"t{e}", 1) for e in range(n_epochs)])


def _rows(spark, table):
    return sorted(tuple(r) for r in cp.committed_table(spark, table).collect())


def _boom(*args, **kwargs):
    raise RuntimeError("injected crash")


def test_replayed_epoch_is_refused(spark, tmp_path):
    table = str(tmp_path / "t")
    assert cp.committed_table(spark, table) is None
    assert cp.fold_epoch(spark, table, 0, _add(spark, 0)) is True
    assert cp.fold_epoch(spark, table, 0, pytest.fail) is False
    assert cp.applied_epoch(table) == 0
    assert _rows(spark, table) == _expected(1)
    # epochs need not be dense: the guard compares, it does not count
    assert cp.fold_epoch(spark, table, 5, _add(spark, 1)) is True
    assert cp.fold_epoch(spark, table, 3, pytest.fail) is False
    assert _rows(spark, table) == _expected(2)


def test_crash_at_commit_keeps_previous_version(spark, tmp_path, monkeypatch):
    table = str(tmp_path / "t")
    assert cp.fold_epoch(spark, table, 0, _add(spark, 0)) is True
    monkeypatch.setattr(cp, "_commit_epoch", _boom)
    with pytest.raises(RuntimeError):
        cp.fold_epoch(spark, table, 1, _add(spark, 1))
    monkeypatch.undo()
    # v1 was written but the marker never moved: readers still see v0
    assert os.path.exists(cp._version_dir(table, 1))
    assert cp.applied_epoch(table) == 0
    assert _rows(spark, table) == _expected(1)
    # the replay rebuilds v1 from committed v0: 'a' counted once
    assert cp.fold_epoch(spark, table, 1, _add(spark, 1)) is True
    assert _rows(spark, table) == _expected(2)


def test_crash_at_prune_counts_as_committed(spark, tmp_path, monkeypatch):
    table = str(tmp_path / "t")
    for e in range(2):
        assert cp.fold_epoch(spark, table, e, _add(spark, e)) is True
    monkeypatch.setattr(cp, "_prune_versions", _boom)
    with pytest.raises(RuntimeError):
        cp.fold_epoch(spark, table, 2, _add(spark, 2))
    monkeypatch.undo()
    assert cp.applied_epoch(table) == 2
    assert os.path.exists(cp._version_dir(table, 0))  # prune never ran
    # the replay is refused: the epoch was committed before the crash
    assert cp.fold_epoch(spark, table, 2, pytest.fail) is False
    assert _rows(spark, table) == _expected(3)
    # the next commit prunes what the crash left behind
    assert cp.fold_epoch(spark, table, 3, _add(spark, 3)) is True
    assert sorted(p.name for p in (tmp_path / "t").iterdir()) == ["v2", "v3"]
    assert _rows(spark, table) == _expected(4)


def test_lazy_reader_survives_exactly_one_commit(spark, tmp_path):
    table = str(tmp_path / "t")
    assert cp.fold_epoch(spark, table, 0, _add(spark, 0)) is True
    reader = cp.committed_table(spark, table)  # lazy over v0
    assert cp.fold_epoch(spark, table, 1, _add(spark, 1)) is True
    assert sorted(tuple(r) for r in reader.collect()) == _expected(1)
    assert cp.fold_epoch(spark, table, 2, _add(spark, 2)) is True
    assert not os.path.exists(cp._version_dir(table, 0))
    with pytest.raises(Exception, match="FILE_NOT_EXIST"):
        reader.collect()  # two commits later its files are gone
    assert _rows(spark, table) == _expected(3)


def test_optimize_index_recovers_from_crash_before_rename(spark, tmp_path, monkeypatch):
    """The append-only half of the commit scheme (streaming/indexstream):
    a compaction that crashes between its base write and the rename
    leaves ``base=0.tmp``; after one more committed epoch the next
    compaction commits a new base and removes the stale tmp dir."""
    from pathlib import Path

    from nonconsumptive_spark.streaming import indexstream as ix

    table = str(tmp_path / "idx")

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def postings():
        return sorted(tuple(r) for r in ix.committed_index(spark, table).collect())

    assert ix.merge_postings(docs([(0, "a b a")]), table, epoch_id=0) is True
    monkeypatch.setattr(Path, "rename", _boom)
    with pytest.raises(RuntimeError):
        ix.optimize_index(spark, table)
    monkeypatch.undo()
    assert (tmp_path / "idx" / "base=0.tmp").is_dir()
    assert ix._base_epoch(table) == -1  # the tmp dir is not a base
    assert ix.merge_postings(docs([(1, "b c")]), table, epoch_id=1) is True
    before = postings()
    assert ix.optimize_index(spark, table) is True
    assert sorted(p.name for p in (tmp_path / "idx").iterdir()
                  if p.name.startswith(("base=", "epoch="))) == ["base=1"]
    assert postings() == before
    assert ix.optimize_index(spark, table) is False
