"""Streaming histogram quantiles: stream == batch bin equality under any
chunking, quantile reads against plain-Python brute force, and replay
refusal."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.sweep  # streaming pipeline + crash sweep: minutes per file

from nonconsumptive_spark.queries import load
from nonconsumptive_spark.streaming.quantstream import (
    bin_counts,
    merge_histogram,
    quantiles,
)
from tests.conftest import SF_SMALL

EDGES = [0.0, 2.0, 5.0, 10.0, 20.0, 50.0]
QS = [(1, 2), (95, 100), (99, 100)]


def _events(spark):
    return load(spark, SF_SMALL, "events").select("event_id", "value")


def _brute(values):
    """bin index per the operator's rule, then quantile bins."""
    def bin_of(v):
        b = -1
        for i, e in enumerate(EDGES):
            if v >= e:
                b = i
        return b

    bins = sorted(bin_of(v) for v in values)
    n = len(bins)
    out = {}
    for qn, qd in QS:
        rank = -(-qn * n // qd)  # ceil
        out[(qn, qd)] = bins[rank - 1]
    return out


def test_stream_equals_batch_and_brute_force(spark, tmp_path):
    ev = _events(spark)
    table = str(tmp_path / "qh")
    for e, (lo, hi) in enumerate([(0, 300), (300, 700), (700, 10**9)]):
        part = ev.filter((ev.event_id >= lo) & (ev.event_id < hi))
        assert merge_histogram(bin_counts(part, EDGES), table,
                               epoch_id=e) is True
    # histogram == one-shot batch histogram, bin for bin
    got = {(r["bin"], r["n"]) for r in
           spark.read.parquet(f"{table}/v2").collect()}
    want = {(r["bin"], r["n"]) for r in bin_counts(ev, EDGES).collect()}
    assert got == want
    # quantile bins == plain-Python brute force over the raw values
    values = [r["value"] for r in ev.collect()]
    brute = _brute(values)
    qdf = quantiles(spark, table, EDGES, QS)
    rows = {(r["q_num"], r["q_den"]): r for r in qdf.collect()}
    assert set(rows) == set(brute)
    for k, r in rows.items():
        assert r["bin"] == brute[k], (k, dict(r.asDict()), brute[k])
        assert r["total"] == len(values)
        if r["bin"] >= 0:
            assert r["lo"] == EDGES[r["bin"]]
        if r["bin"] + 1 < len(EDGES):
            assert r["hi"] == EDGES[r["bin"] + 1]


def test_replay_is_refused(spark, tmp_path):
    ev = _events(spark)
    table = str(tmp_path / "qh")
    assert merge_histogram(bin_counts(ev, EDGES), table, epoch_id=0) is True
    before = {(r["bin"], r["n"]) for r in
              spark.read.parquet(f"{table}/v0").collect()}
    assert merge_histogram(bin_counts(ev, EDGES), table, epoch_id=0) is False
    after = {(r["bin"], r["n"]) for r in
             spark.read.parquet(f"{table}/v0").collect()}
    assert before == after


@pytest.mark.parametrize("crash_epoch", [0, 1, 2])
def test_crash_before_commit_replays_exactly(spark, tmp_path, monkeypatch,
                                             crash_epoch):
    from nonconsumptive_spark.streaming import corpus as cp

    ev = _events(spark)
    chunks = [(0, 300), (300, 700), (700, 10**9)]
    clean = str(tmp_path / "clean")
    crashed = str(tmp_path / "crashed")
    for e, (lo, hi) in enumerate(chunks):
        part = ev.filter((ev.event_id >= lo) & (ev.event_id < hi))
        merge_histogram(bin_counts(part, EDGES), clean, epoch_id=e)

    real = cp._commit_epoch
    for e, (lo, hi) in enumerate(chunks):
        part = ev.filter((ev.event_id >= lo) & (ev.event_id < hi))
        if e == crash_epoch:
            monkeypatch.setattr(
                cp, "_commit_epoch",
                lambda *a: (_ for _ in ()).throw(RuntimeError("crash")))
            with pytest.raises(RuntimeError):
                merge_histogram(bin_counts(part, EDGES), crashed, epoch_id=e)
            monkeypatch.setattr(cp, "_commit_epoch", real)
        assert merge_histogram(bin_counts(part, EDGES), crashed,
                               epoch_id=e) is True
    a = sorted(map(tuple, spark.read.parquet(f"{clean}/v2").collect()))
    b = sorted(map(tuple, spark.read.parquet(f"{crashed}/v2").collect()))
    assert a == b
