"""Streaming EWMA monitor: chunked folding == batch backfill bit-exact,
replay idempotence, late-event rejection, crash-point sweep, and the
foreachBatch wiring end-to-end."""

from __future__ import annotations

import datetime as dt
import random

import pytest

pytestmark = pytest.mark.sweep  # streaming pipeline + crash sweep: minutes per file

from nonconsumptive_spark.operators.grouped import ewma_anomalies
from nonconsumptive_spark.streaming import corpus as cp
from nonconsumptive_spark.streaming.ewma import (
    merge_ewma,
    monitor,
    start_incremental_ewma,
)

SCHEMA = "event_id long, user_id long, ts timestamp, value double"
_rng = random.Random(41)
ROWS = sorted(
    ((uid * 100 + i, uid,
      dt.datetime(2024, 3, 1) + dt.timedelta(minutes=3 * i + uid),
      round(_rng.uniform(0, 200), 2))
     for uid in (1, 2, 3) for i in range(20)),
    key=lambda r: r[2],
)


def _events(spark, lo, hi):
    return spark.createDataFrame(ROWS[lo:hi], SCHEMA)


def _out_rows(df):
    cols = ["event_id", "user_id", "value", "ewma", "is_spike"]
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_chunked_fold_equals_batch(spark, tmp_path):
    table = str(tmp_path / "ewma")
    for e, (lo, hi) in enumerate([(0, 17), (17, 23), (23, 48), (48, 60)]):
        assert merge_ewma(_events(spark, lo, hi), table, epoch_id=e) is True
    batch = ewma_anomalies(_events(spark, 0, len(ROWS)))
    assert _out_rows(monitor(spark, table)) == _out_rows(batch)
    assert any(r["is_spike"] for r in batch.collect())


def test_replay_and_late_events_are_noops(spark, tmp_path):
    table = str(tmp_path / "ewma")
    assert merge_ewma(_events(spark, 0, 30), table, epoch_id=0) is True
    before = _out_rows(monitor(spark, table))
    # epoch guard refuses the replay outright
    assert merge_ewma(_events(spark, 0, 30), table, epoch_id=0) is False
    # a fresh epoch carrying ONLY already-applied events changes nothing
    assert merge_ewma(_events(spark, 5, 30), table, epoch_id=1) is True
    assert _out_rows(monitor(spark, table)) == before
    # a mixed batch applies only the genuinely new tail, per user
    assert merge_ewma(_events(spark, 10, 45), table, epoch_id=2) is True
    assert _out_rows(monitor(spark, table)) == _out_rows(
        ewma_anomalies(_events(spark, 0, 45)))


@pytest.mark.parametrize("crash_epoch", [0, 1, 2])
def test_crash_before_commit_replays_exactly(spark, tmp_path, crash_epoch,
                                             monkeypatch):
    table = str(tmp_path / "ewma")
    chunks = [(0, 20), (20, 40), (40, 60)]
    real_commit = cp._commit_epoch
    for e, (lo, hi) in enumerate(chunks):
        if e == crash_epoch:
            # crash AFTER the version write, BEFORE the marker rename —
            # the at-least-once worst case foreachBatch can replay into
            def boom(table_dir, epoch_id):
                raise RuntimeError("injected crash")

            monkeypatch.setattr(cp, "_commit_epoch", boom)
            with pytest.raises(RuntimeError):
                merge_ewma(_events(spark, lo, hi), table, epoch_id=e)
            monkeypatch.setattr(cp, "_commit_epoch", real_commit)
        assert merge_ewma(_events(spark, lo, hi), table, epoch_id=e) is True
    assert _out_rows(monitor(spark, table)) == _out_rows(
        ewma_anomalies(_events(spark, 0, 60)))


def test_foreachbatch_wiring(spark, tmp_path):
    import time

    src = str(tmp_path / "src")
    table = str(tmp_path / "ewma")
    ckpt = str(tmp_path / "ckpt")
    for lo, hi in [(0, 25), (25, 50), (50, 60)]:
        _events(spark, lo, hi).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_incremental_ewma(stream, table, ckpt)
    q.awaitTermination(120)
    got = monitor(spark, table)
    assert got is not None
    assert _out_rows(got) == _out_rows(
        ewma_anomalies(spark.read.parquet(src)))
