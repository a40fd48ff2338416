"""Streaming conformal-coverage monitor: chunked counter merges == the
batch kernel bit-exact, replay idempotence, late-event rejection, crash
sweep, the breach alarm's integer semantics, and the foreachBatch wiring
end-to-end."""

from __future__ import annotations

import datetime as dt
import random

import pytest

pytestmark = pytest.mark.sweep  # streaming pipeline + crash sweep: minutes per file

from nonconsumptive_spark.streaming import conformal as cf
from nonconsumptive_spark.streaming import corpus as cp

SCHEMA = "event_id long, ts timestamp, event_type string, value double"
_rng = random.Random(47)
TYPES = ["click", "view", "error"]
ROWS = sorted(
    ((i, dt.datetime(2024, 5, 1) + dt.timedelta(minutes=11 * i),
      TYPES[i % 3], round(_rng.uniform(0.5, 40.0), 2))
     for i in range(120)),
    key=lambda r: r[1],
)
CAL_ROWS = [(1000 + i, dt.datetime(2024, 4, 1) + dt.timedelta(minutes=i),
             TYPES[i % 3], round(_rng.uniform(0.5, 40.0), 2))
            for i in range(90)]


def _frame(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _events(spark, lo, hi):
    return _frame(spark, ROWS[lo:hi])


def _out_rows(df):
    cols = ["event_type", "n_test", "n_covered"]
    return sorted(tuple(r[c] for r in [r] for c in cols)
                  for r in df.collect())


@pytest.fixture(scope="module")
def calib(spark):
    return cf.calibrate(_frame(spark, CAL_ROWS))


def test_calibration_quantile_is_exact(spark, calib):
    calib_rows, q_hat_q = calib
    # brute-force the order statistic in Python
    mt = {t: (s, n) for t, s, n in calib_rows}
    rqs = []
    for eid, _, t, v in CAL_ROWS:
        xq = int((v * 100 + 0.5) // 1)
        s, n = mt[t]
        rqs.append((int(abs(xq - s / n) * 1000 // 1), eid))
    rqs.sort()
    n_cal = len(rqs)
    k = min(((n_cal + 1) * 9 + 9) // 10, n_cal)
    assert q_hat_q == rqs[k - 1][0]


def test_chunked_merge_equals_batch(spark, tmp_path, calib):
    calib_rows, q_hat_q = calib
    table = str(tmp_path / "cov")
    n = len(ROWS)
    cuts = [0, 17, 40, n - 9, n]
    for e, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
        assert cf.merge_coverage(_events(spark, lo, hi), table,
                                 calib_rows, q_hat_q, epoch_id=e) is True
    batch = cf.coverage_counts(_events(spark, 0, n), calib_rows, q_hat_q)
    assert _out_rows(cf.monitor(spark, table)
                     .select("event_type", "n_test", "n_covered")) \
        == _out_rows(batch)


def test_replay_and_late_events_are_noops(spark, tmp_path, calib):
    calib_rows, q_hat_q = calib
    table = str(tmp_path / "cov")
    assert cf.merge_coverage(_events(spark, 0, 40), table, calib_rows,
                             q_hat_q, epoch_id=0) is True
    before = _out_rows(cf.monitor(spark, table)
                       .select("event_type", "n_test", "n_covered"))
    assert cf.merge_coverage(_events(spark, 0, 40), table, calib_rows,
                             q_hat_q, epoch_id=0) is False
    assert cf.merge_coverage(_events(spark, 10, 40), table, calib_rows,
                             q_hat_q, epoch_id=1) is True
    assert _out_rows(cf.monitor(spark, table)
                     .select("event_type", "n_test", "n_covered")) == before
    dup = _events(spark, 40, 60).unionAll(_events(spark, 40, 60))
    assert cf.merge_coverage(dup, table, calib_rows, q_hat_q,
                             epoch_id=2) is True
    assert _out_rows(cf.monitor(spark, table)
                     .select("event_type", "n_test", "n_covered")) \
        == _out_rows(cf.coverage_counts(_events(spark, 0, 60),
                                        calib_rows, q_hat_q))


@pytest.mark.parametrize("crash_epoch", [0, 1])
def test_crash_before_commit_replays_exactly(spark, tmp_path, calib,
                                             crash_epoch, monkeypatch):
    calib_rows, q_hat_q = calib
    table = str(tmp_path / "cov")
    n = len(ROWS)
    chunks = [(0, 50), (50, n)]
    real_commit = cp._commit_epoch
    for e, (lo, hi) in enumerate(chunks):
        if e == crash_epoch:
            def boom(table_dir, epoch_id):
                raise RuntimeError("injected crash")

            monkeypatch.setattr(cp, "_commit_epoch", boom)
            with pytest.raises(RuntimeError):
                cf.merge_coverage(_events(spark, lo, hi), table,
                                  calib_rows, q_hat_q, epoch_id=e)
            monkeypatch.setattr(cp, "_commit_epoch", real_commit)
        assert cf.merge_coverage(_events(spark, lo, hi), table,
                                 calib_rows, q_hat_q, epoch_id=e) is True
    assert _out_rows(cf.monitor(spark, table)
                     .select("event_type", "n_test", "n_covered")) \
        == _out_rows(cf.coverage_counts(_events(spark, 0, n),
                                        calib_rows, q_hat_q))


def test_breach_flag_integer_semantics(spark, tmp_path, calib):
    calib_rows, _ = calib
    table = str(tmp_path / "cov")
    # q_hat_q = -1: NOTHING can be covered -> every type breaches
    assert cf.merge_coverage(_events(spark, 0, 60), table, calib_rows,
                             -1, epoch_id=0) is True
    rows = cf.monitor(spark, table).collect()
    assert rows and all(r["breached"] for r in rows)
    assert all(r["n_covered"] == 0 for r in rows)


def test_foreachbatch_wiring(spark, tmp_path, calib):
    import time

    calib_rows, q_hat_q = calib
    src = str(tmp_path / "src")
    table = str(tmp_path / "cov")
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
    q = cf.start_incremental_coverage(stream, table, ckpt,
                                      calib_rows, q_hat_q)
    q.awaitTermination(120)
    got = cf.monitor(spark, table)
    assert got is not None
    assert _out_rows(got.select("event_type", "n_test", "n_covered")) \
        == _out_rows(cf.coverage_counts(spark.read.parquet(src),
                                        calib_rows, q_hat_q))
