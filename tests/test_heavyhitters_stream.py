"""Streaming SpaceSaving heavy hitters: error bounds, the frequent-items
guarantee, exactness below cap, replay/crash idempotence, and the
foreachBatch wiring."""

from __future__ import annotations

from collections import Counter

import pytest

pytestmark = pytest.mark.sweep  # streaming pipeline + crash sweep: minutes per file
from pyspark.sql import functions as F

from nonconsumptive_spark.streaming import corpus as cp
from nonconsumptive_spark.streaming.heavyhitters import (
    heavy_hitters,
    merge_heavy_hitters,
    start_incremental_heavy_hitters,
)

# Three epochs with overlapping vocabularies: heavy tokens recur, the
# long tail churns, and several tokens vanish then return (the
# evict-then-reinsert path that exercises the floor bound).
EPOCHS = [
    {"the": 30, "of": 20, "cat": 3, "dog": 2, "ant": 1, "bee": 1},
    {"the": 25, "of": 15, "cat": 4, "eel": 2, "fox": 1, "gnu": 1},
    {"the": 20, "dog": 5, "ant": 4, "hen": 2, "ibis": 1},
]
CAP = 4


def _counts(spark, epoch):
    return spark.createDataFrame(
        [(t, c) for t, c in sorted(epoch.items())], "token string, count long")


def _truth(upto):
    true = Counter()
    for e in EPOCHS[:upto]:
        true.update(e)
    return true


def _fold_all(spark, table, cap=CAP, epochs=EPOCHS):
    for e, epoch in enumerate(epochs):
        assert merge_heavy_hitters(_counts(spark, epoch), table,
                                   cap=cap, epoch_id=e) is True


def test_bounds_and_frequent_items_guarantee(spark, tmp_path):
    table = str(tmp_path / "hh")
    _fold_all(spark, table)
    rows = {r["token"]: r for r in heavy_hitters(spark, table).collect()}
    true = _truth(3)
    assert len(rows) <= CAP
    floor = next(iter(rows.values()))["floor"]
    for t, r in rows.items():
        # true <= est <= true + err, err <= floor
        assert true[t] <= r["est"] <= true[t] + r["err"], (t, dict(r.asDict()))
        assert r["err"] <= floor
    # every token whose TRUE count exceeds the floor must be present
    for t, c in true.items():
        if c > floor:
            assert t in rows, (t, c, floor)
    # and the genuinely heavy ones are
    assert {"the", "of"} <= set(rows)


# an empty first epoch commits a summary with no rows, whose floor is 0
@pytest.mark.parametrize("epochs", [EPOCHS, [{}] + EPOCHS],
                         ids=["plain", "empty_first_epoch"])
def test_exact_when_cap_exceeds_vocabulary(spark, tmp_path, epochs):
    table = str(tmp_path / "hh")
    _fold_all(spark, table, cap=100, epochs=epochs)
    rows = {r["token"]: r for r in heavy_hitters(spark, table).collect()}
    true = _truth(3)
    assert set(rows) == set(true)
    for t, r in rows.items():
        assert (r["est"], r["err"], r["floor"]) == (true[t], 0, 0)


def test_replay_is_refused(spark, tmp_path):
    table = str(tmp_path / "hh")
    assert merge_heavy_hitters(_counts(spark, EPOCHS[0]), table,
                               cap=CAP, epoch_id=0) is True
    before = sorted(map(tuple, heavy_hitters(spark, table).collect()))
    assert merge_heavy_hitters(_counts(spark, EPOCHS[0]), table,
                               cap=CAP, epoch_id=0) is False
    assert sorted(map(tuple, heavy_hitters(spark, table).collect())) == before


@pytest.mark.parametrize("crash_epoch", [0, 1, 2])
def test_crash_before_commit_replays_exactly(spark, tmp_path, monkeypatch,
                                             crash_epoch):
    clean = str(tmp_path / "clean")
    crashed = str(tmp_path / "crashed")
    _fold_all(spark, clean)

    real = cp._commit_epoch
    for e, epoch in enumerate(EPOCHS):
        if e == crash_epoch:
            monkeypatch.setattr(
                cp, "_commit_epoch",
                lambda *a: (_ for _ in ()).throw(RuntimeError("crash")))
            with pytest.raises(RuntimeError):
                merge_heavy_hitters(_counts(spark, epoch), crashed,
                                    cap=CAP, epoch_id=e)
            monkeypatch.setattr(cp, "_commit_epoch", real)
        assert merge_heavy_hitters(_counts(spark, epoch), crashed,
                                   cap=CAP, epoch_id=e) is True
    a = sorted(map(tuple, heavy_hitters(spark, clean).collect()))
    b = sorted(map(tuple, heavy_hitters(spark, crashed).collect()))
    assert a == b


def test_foreachbatch_wiring(spark, tmp_path):
    import time

    src = str(tmp_path / "src")
    table = str(tmp_path / "hh")
    ckpt = str(tmp_path / "ckpt")
    for epoch in EPOCHS:
        rows = [(t,) for t, c in sorted(epoch.items()) for _ in range(c)]
        spark.createDataFrame(rows, "token string").coalesce(1) \
            .write.mode("append").parquet(src)
        time.sleep(1.1)
    stream = (
        spark.readStream.schema("token string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_incremental_heavy_hitters(stream, table, ckpt, cap=CAP)
    q.awaitTermination(120)
    rows = {r["token"]: r for r in heavy_hitters(spark, table).collect()}
    true = _truth(3)
    floor = next(iter(rows.values()))["floor"]
    for t, r in rows.items():
        assert true[t] <= r["est"] <= true[t] + r["err"]
    for t, c in true.items():
        if c > floor:
            assert t in rows
