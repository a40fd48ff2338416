"""Streaming skyline: stream==batch frontier equality, replay idempotence,
eviction monotonicity, and the foreachBatch wiring end-to-end."""

from __future__ import annotations

from pyspark.sql import functions as F

from nonconsumptive_spark.operators.skyline import skyline
from nonconsumptive_spark.streaming.skylinestream import (
    frontier,
    merge_skyline,
    start_incremental_skyline,
)


def _pts(spark, rows):
    return spark.createDataFrame(rows, "id long, x long, y long")


def _set(df):
    return {(r["id"], r["x"], r["y"]) for r in df.collect()}


EPOCHS = [
    [(0, 1, 9), (1, 5, 5), (2, 2, 2)],
    [(3, 9, 1), (4, 6, 6)],          # (4) evicts (1)
    [(5, 0, 0), (6, 6, 6)],          # (6) duplicates (4)'s coords, new id
    [(7, 10, 10)],                   # dominates everything
]


def test_stream_equals_batch_frontier(spark, tmp_path):
    table = str(tmp_path / "sky")
    for e, rows in enumerate(EPOCHS[:3]):
        assert merge_skyline(_pts(spark, rows), table, "x", "y",
                             epoch_id=e) is True
    union = _pts(spark, [r for rows in EPOCHS[:3] for r in rows])
    assert _set(frontier(spark, table)) == _set(skyline(union, "x", "y"))
    # distinct ids at equal coords both survive
    assert {4, 6} <= {r[0] for r in _set(frontier(spark, table))}


def test_replay_is_noop_even_without_guard(spark, tmp_path):
    table = str(tmp_path / "sky")
    assert merge_skyline(_pts(spark, EPOCHS[0]), table, "x", "y",
                         epoch_id=0) is True
    before = _set(frontier(spark, table))
    # guard refuses the replay outright
    assert merge_skyline(_pts(spark, EPOCHS[0]), table, "x", "y",
                         epoch_id=0) is False
    # and even a forced re-merge of the same rows is a frontier no-op
    assert merge_skyline(_pts(spark, EPOCHS[0]), table, "x", "y",
                         epoch_id=1) is True
    assert _set(frontier(spark, table)) == before


def test_evicted_points_never_return(spark, tmp_path):
    table = str(tmp_path / "sky")
    for e, rows in enumerate(EPOCHS):
        merge_skyline(_pts(spark, rows), table, "x", "y", epoch_id=e)
    assert _set(frontier(spark, table)) == {(7, 10, 10)}


def test_foreachbatch_wiring(spark, tmp_path):
    src = str(tmp_path / "src")
    table = str(tmp_path / "sky")
    ckpt = str(tmp_path / "ckpt")
    union = _pts(spark, [r for rows in EPOCHS for r in rows])
    union.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("id long, x long, y long").parquet(src)
    q = start_incremental_skyline(stream, table, ckpt, "x", "y")
    q.awaitTermination(120)
    assert _set(frontier(spark, table)) == _set(skyline(union, "x", "y"))


import contextlib

import pytest

pytestmark = pytest.mark.sweep  # streaming pipeline + crash sweep: minutes per file


class _Boom(RuntimeError):
    pass


@pytest.mark.parametrize("kill_point", ["marker", "prune"])
@pytest.mark.parametrize("kill_epoch", [0, 1, 2])
def test_skyline_kill_points_converge(spark, tmp_path, monkeypatch,
                                      kill_epoch, kill_point):
    """Crash on both sides of the write/rename commit pair at every epoch;
    an at-least-once replay must converge to the exact batch frontier.
    (Unlike the additive wordcount fold, the skyline merge is a lattice
    reduction, so even a DOUBLE-applied epoch could not corrupt state —
    this test pins the stronger end-state equality anyway.)"""
    from nonconsumptive_spark.streaming import corpus as cp

    table = str(tmp_path / "sky")
    target = "_commit_epoch" if kill_point == "marker" else "_prune_versions"
    real = getattr(cp, target)

    for e, rows in enumerate(EPOCHS):
        if e == kill_epoch:
            def dying(*a, **k):
                raise _Boom()
            monkeypatch.setattr(cp, target, dying)
            with contextlib.suppress(_Boom):
                merge_skyline(_pts(spark, rows), table, "x", "y", epoch_id=e)
            monkeypatch.setattr(cp, target, real)
            merge_skyline(_pts(spark, rows), table, "x", "y", epoch_id=e)
        else:
            assert merge_skyline(_pts(spark, rows), table, "x", "y",
                                 epoch_id=e) is True

    union = _pts(spark, [r for rows in EPOCHS for r in rows])
    assert _set(frontier(spark, table)) == _set(skyline(union, "x", "y"))
