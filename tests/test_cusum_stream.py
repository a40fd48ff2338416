"""Streaming CUSUM: chunked folding == one-shot batch (bit-exact BIGINT),
replay idempotence, late-day rejection, crash-point sweep, and the
foreachBatch wiring end-to-end."""

from __future__ import annotations

import datetime as dt

import pytest

pytestmark = pytest.mark.sweep  # streaming pipeline + crash sweep: minutes per file
from pyspark.sql import functions as F

from nonconsumptive_spark.streaming import corpus as cp
from nonconsumptive_spark.streaming.cusum import (
    cusum_series,
    merge_cusum,
    series,
    start_incremental_cusum,
)

TARGET = (7, 2)   # target mean 3.5 events/day as the exact rational
H = 2 * 10        # flag when scaled |cusum| exceeds 10 deviations-of-1

COUNTS = [3, 4, 5, 9, 9, 2, 1, 1, 4, 3, 3, 8, 9, 9, 9]
DAYS = [dt.date(2024, 1, 1) + dt.timedelta(days=i)
        for i in range(len(COUNTS))]


def _daily(spark, lo, hi):
    return spark.createDataFrame(
        list(zip(DAYS[lo:hi], COUNTS[lo:hi])), "d date, c long")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("chunks", [
    [(0, 4), (4, 5), (5, 11), (11, 15)],
    # a windowed upstream emits an empty batch before its first window
    # closes: epoch 0 commits an empty series, which is zero state
    [(0, 0), (0, 4), (4, 5), (5, 11), (11, 15)],
], ids=["plain", "empty_first_epoch"])
def test_chunked_fold_equals_batch(spark, tmp_path, chunks):
    table = str(tmp_path / "cusum")
    for e, (lo, hi) in enumerate(chunks):
        assert merge_cusum(_daily(spark, lo, hi), table, *TARGET, H,
                           epoch_id=e) is True
    batch = cusum_series(_daily(spark, 0, len(COUNTS)), *TARGET, H)
    assert _rows(series(spark, table)) == _rows(batch)
    # the fixture is built to trip the alarm at least once
    assert any(r["flagged"] for r in batch.collect())


def test_replay_and_late_days_are_noops(spark, tmp_path):
    table = str(tmp_path / "cusum")
    assert merge_cusum(_daily(spark, 0, 6), table, *TARGET, H, 0) is True
    before = _rows(series(spark, table))
    # epoch guard refuses the replay outright
    assert merge_cusum(_daily(spark, 0, 6), table, *TARGET, H, 0) is False
    # a fresh epoch carrying ONLY already-applied days changes nothing
    assert merge_cusum(_daily(spark, 2, 6), table, *TARGET, H, 1) is True
    assert _rows(series(spark, table)) == before
    # a mixed batch applies only the genuinely new tail
    assert merge_cusum(_daily(spark, 3, 9), table, *TARGET, H, 2) is True
    assert _rows(series(spark, table)) == _rows(
        cusum_series(_daily(spark, 0, 9), *TARGET, H))


@pytest.mark.parametrize("crash_epoch", [0, 1, 2])
def test_crash_before_commit_replays_exactly(spark, tmp_path, crash_epoch,
                                             monkeypatch):
    table = str(tmp_path / "cusum")
    chunks = [(0, 5), (5, 10), (10, 15)]

    real_commit = cp._commit_epoch
    for e, (lo, hi) in enumerate(chunks):
        if e == crash_epoch:
            # crash AFTER the version write, BEFORE the marker rename —
            # the at-least-once worst case foreachBatch can replay into
            def boom(table_dir, epoch_id):
                raise RuntimeError("injected crash")

            monkeypatch.setattr(cp, "_commit_epoch", boom)
            with pytest.raises(RuntimeError):
                merge_cusum(_daily(spark, lo, hi), table, *TARGET, H, e)
            monkeypatch.setattr(cp, "_commit_epoch", real_commit)
        # the replay (and every later epoch) folds normally
        assert merge_cusum(_daily(spark, lo, hi), table, *TARGET, H,
                           epoch_id=e) is True
    assert _rows(series(spark, table)) == _rows(
        cusum_series(_daily(spark, 0, 15), *TARGET, H))


def test_foreachbatch_wiring(spark, tmp_path):
    src = str(tmp_path / "src")
    table = str(tmp_path / "cusum")
    ckpt = str(tmp_path / "ckpt")
    # one file per chunk, written oldest-first so the file source's
    # mtime order delivers days in event-time order (the daily-append
    # production layout)
    import time

    for lo, hi in [(0, 6), (6, 12), (12, 15)]:
        _daily(spark, lo, hi).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)
    stream = (
        spark.readStream.schema("d date, c long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_incremental_cusum(stream, table, ckpt, *TARGET, H)
    q.awaitTermination(120)
    got = series(spark, table)
    assert got is not None
    assert _rows(got) == _rows(
        cusum_series(spark.read.parquet(src), *TARGET, H))
