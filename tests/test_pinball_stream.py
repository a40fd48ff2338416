"""Streaming pinball (quantile-drift) monitor: chunked counter merges ==
the batch kernel bit-exact, replay idempotence, late-event rejection,
crash sweep, the drift alarm's integer semantics (including the
uncalibrated-type breach), and the foreachBatch wiring end-to-end."""

from __future__ import annotations

import datetime as dt
import random

import pytest

pytestmark = pytest.mark.sweep  # streaming pipeline + crash sweep: minutes per file

from nonconsumptive_spark.streaming import pinball as pb

SCHEMA = "event_id long, ts timestamp, event_type string, value double"
_rng = random.Random(53)
TYPES = ["click", "view", "error"]
ROWS = sorted(
    ((i, dt.datetime(2024, 6, 1) + dt.timedelta(minutes=13 * i),
      TYPES[i % 3], round(_rng.uniform(0.5, 40.0), 2))
     for i in range(120)),
    key=lambda r: r[1],
)
CAL_ROWS = [(2000 + i, dt.datetime(2024, 5, 1) + dt.timedelta(minutes=i),
             TYPES[i % 3], round(_rng.uniform(0.5, 40.0), 2))
            for i in range(90)]


def _frame(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _events(spark, lo, hi):
    return _frame(spark, ROWS[lo:hi])


def _out_rows(df):
    cols = ["event_type", "n_test", "loss4"]
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def calib(spark):
    return pb.calibrate(_frame(spark, CAL_ROWS))


def test_calibration_quantile_and_loss_are_exact(spark, calib):
    """Brute-force the per-type ceil(0.75 n) order statistic and the
    4x pinball loss in Python."""
    by_type: dict[str, list[int]] = {}
    for _eid, _ts, t, v in CAL_ROWS:
        by_type.setdefault(t, []).append(int((v * 100 + 0.5) // 1))
    expect = {}
    for t, xs in by_type.items():
        xs.sort()
        n = len(xs)
        q = xs[(3 * n + 3) // 4 - 1]
        loss4 = sum(3 * (x - q) if x >= q else (q - x) for x in xs)
        expect[t] = (q, loss4, n)
    assert {t: (q, lo, n) for t, q, lo, n in calib} == expect


def test_chunked_merge_equals_batch(spark, tmp_path, calib):
    table = str(tmp_path / "pb")
    n = len(ROWS)
    cuts = [0, 23, 55, n - 7, n]
    for e, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
        assert pb.merge_loss(_events(spark, lo, hi), table, calib,
                             epoch_id=e) is True
    batch = pb.loss_counts(_events(spark, 0, n), calib)
    assert _out_rows(pb.monitor(spark, table, calib)
                     .select("event_type", "n_test", "loss4")) \
        == _out_rows(batch)


def test_replay_and_late_events_are_noops(spark, tmp_path, calib):
    table = str(tmp_path / "pb")
    assert pb.merge_loss(_events(spark, 0, 40), table, calib,
                         epoch_id=0) is True
    before = _out_rows(pb.monitor(spark, table, calib)
                       .select("event_type", "n_test", "loss4"))
    assert pb.merge_loss(_events(spark, 0, 40), table, calib,
                         epoch_id=0) is False
    assert pb.merge_loss(_events(spark, 10, 40), table, calib,
                         epoch_id=1) is True
    assert _out_rows(pb.monitor(spark, table, calib)
                     .select("event_type", "n_test", "loss4")) == before
    dup = _events(spark, 40, 60).unionAll(_events(spark, 40, 60))
    assert pb.merge_loss(dup, table, calib, epoch_id=2) is True
    assert _out_rows(pb.monitor(spark, table, calib)
                     .select("event_type", "n_test", "loss4")) \
        == _out_rows(pb.loss_counts(_events(spark, 0, 60), calib))


@pytest.mark.parametrize("crash_epoch", [0, 1])
def test_crash_before_commit_replays_exactly(spark, tmp_path, calib,
                                             crash_epoch, monkeypatch):
    from nonconsumptive_spark.streaming import corpus as cp

    table = str(tmp_path / "pb")
    n = len(ROWS)
    chunks = [(0, 50), (50, n)]
    real_commit = cp._commit_epoch
    for e, (lo, hi) in enumerate(chunks):
        if e == crash_epoch:
            def boom(table_dir, epoch_id):
                raise RuntimeError("injected crash")

            monkeypatch.setattr(cp, "_commit_epoch", boom)
            with pytest.raises(RuntimeError):
                pb.merge_loss(_events(spark, lo, hi), table, calib,
                              epoch_id=e)
            monkeypatch.setattr(cp, "_commit_epoch", real_commit)
        assert pb.merge_loss(_events(spark, lo, hi), table, calib,
                             epoch_id=e) is True
    assert _out_rows(pb.monitor(spark, table, calib)
                     .select("event_type", "n_test", "loss4")) \
        == _out_rows(pb.loss_counts(_events(spark, 0, n), calib))


def test_drift_alarm_integer_semantics(spark, tmp_path, calib):
    table = str(tmp_path / "pb")
    # shift every value far above the calibration window: pinball loss
    # explodes -> every calibrated type breaches the 1.5x factor
    shifted = [(eid, ts, t, v + 500.0) for eid, ts, t, v in ROWS[:60]]
    assert pb.merge_loss(_frame(spark, shifted), table, calib,
                         epoch_id=0) is True
    rows = pb.monitor(spark, table, calib).collect()
    assert rows and all(r["breached"] for r in rows)


def test_uncalibrated_type_surfaces_breached(spark, tmp_path, calib):
    table = str(tmp_path / "pb")
    rows = [(9000 + i, dt.datetime(2024, 7, 1) + dt.timedelta(minutes=i),
             "purchase", 5.0 + i) for i in range(10)]
    assert pb.merge_loss(_frame(spark, rows), table, calib,
                         epoch_id=0) is True
    got = {r["event_type"]: r for r in
           pb.monitor(spark, table, calib).collect()}
    assert got["purchase"]["n_test"] == 10
    assert got["purchase"]["breached"] is True


def test_foreachbatch_wiring(spark, tmp_path, calib):
    import time

    src = str(tmp_path / "src")
    table = str(tmp_path / "pb")
    ckpt = str(tmp_path / "ckpt")
    n = len(ROWS)
    for lo, hi in [(0, 40), (40, 80), (80, n)]:
        _events(spark, lo, hi).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = pb.start_incremental_pinball(stream, table, ckpt, calib)
    q.awaitTermination(120)
    got = pb.monitor(spark, table, calib)
    assert got is not None
    assert _out_rows(got.select("event_type", "n_test", "loss4")) \
        == _out_rows(pb.loss_counts(spark.read.parquet(src), calib))
