"""Streaming Holt monitor: chunked day-count merging == batch fold
bit-exact, replay idempotence, late-event rejection, crash-point sweep,
and the foreachBatch wiring end-to-end."""

from __future__ import annotations

import datetime as dt
import random

import pytest

pytestmark = pytest.mark.sweep  # streaming pipeline + crash sweep: minutes per file

from nonconsumptive_spark.operators.grouped import holt_linear_daily
from nonconsumptive_spark.streaming import corpus as cp
from nonconsumptive_spark.streaming.holt import (
    merge_holt_days,
    monitor,
    start_incremental_holt,
)

SCHEMA = "event_id long, ts timestamp"
_rng = random.Random(43)
ROWS = sorted(
    ((d * 1000 + i,
      dt.datetime(2024, 3, 1) + dt.timedelta(days=d, minutes=7 * i))
     for d in range(18) for i in range(_rng.randint(1, 9))),
    key=lambda r: r[1],
)


def _events(spark, lo, hi):
    return spark.createDataFrame(ROWS[lo:hi], SCHEMA)


def _out_rows(df):
    cols = ["day", "n_events", "level", "trend", "forecast_err"]
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_chunked_merge_equals_batch(spark, tmp_path):
    table = str(tmp_path / "holt")
    n = len(ROWS)
    cuts = [0, 13, 29, n - 5, n]
    for e, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
        assert merge_holt_days(_events(spark, lo, hi), table,
                               epoch_id=e) is True
    batch = holt_linear_daily(_events(spark, 0, n))
    assert _out_rows(monitor(spark, table)) == _out_rows(batch)


def test_replay_and_late_events_are_noops(spark, tmp_path):
    table = str(tmp_path / "holt")
    assert merge_holt_days(_events(spark, 0, 30), table, epoch_id=0) is True
    before = _out_rows(monitor(spark, table))
    # epoch guard refuses the replay outright
    assert merge_holt_days(_events(spark, 0, 30), table, epoch_id=0) is False
    # a fresh epoch carrying ONLY already-applied events changes nothing
    assert merge_holt_days(_events(spark, 5, 30), table, epoch_id=1) is True
    assert _out_rows(monitor(spark, table)) == before
    # intra-batch duplicate event_ids fold once
    dup = _events(spark, 30, 40).unionAll(_events(spark, 30, 40))
    assert merge_holt_days(dup, table, epoch_id=2) is True
    assert _out_rows(monitor(spark, table)) == _out_rows(
        holt_linear_daily(_events(spark, 0, 40)))


@pytest.mark.parametrize("crash_epoch", [0, 1, 2])
def test_crash_before_commit_replays_exactly(spark, tmp_path, crash_epoch,
                                             monkeypatch):
    table = str(tmp_path / "holt")
    n = len(ROWS)
    chunks = [(0, 20), (20, 40), (40, n)]
    real_commit = cp._commit_epoch
    for e, (lo, hi) in enumerate(chunks):
        if e == crash_epoch:
            def boom(table_dir, epoch_id):
                raise RuntimeError("injected crash")

            monkeypatch.setattr(cp, "_commit_epoch", boom)
            with pytest.raises(RuntimeError):
                merge_holt_days(_events(spark, lo, hi), table, epoch_id=e)
            monkeypatch.setattr(cp, "_commit_epoch", real_commit)
        assert merge_holt_days(_events(spark, lo, hi), table,
                               epoch_id=e) is True
    assert _out_rows(monitor(spark, table)) == _out_rows(
        holt_linear_daily(_events(spark, 0, n)))


def test_foreachbatch_wiring(spark, tmp_path):
    import time

    src = str(tmp_path / "src")
    table = str(tmp_path / "holt")
    ckpt = str(tmp_path / "ckpt")
    n = len(ROWS)
    for lo, hi in [(0, 25), (25, 50), (50, n)]:
        _events(spark, lo, hi).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_incremental_holt(stream, table, ckpt)
    q.awaitTermination(120)
    got = monitor(spark, table)
    assert got is not None
    assert _out_rows(got) == _out_rows(
        holt_linear_daily(spark.read.parquet(src)))
