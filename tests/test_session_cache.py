"""The one session cache (plans/ranker_cache.py): LRU eviction over the
shared store of frames and values, the disable rule for path sources,
and the names the traced benchmark (perfbench/spans.py) wraps."""

from __future__ import annotations

from pathlib import Path

import pytest

from tests.conftest import SF_SMALL


def test_session_cache_lru_eviction_over_frames_and_values(spark, tmp_path):
    from nonconsumptive_spark.plans import ranker_cache as rc

    src = tmp_path / "corpus.bin"
    src.write_bytes(b"corpus")
    sources = (str(src),)

    def put(i):
        if i % 2:
            return rc.shared_value("v", (i,), sources, lambda: [i])
        return rc.shared_frame("f", (i,), sources, lambda: spark.range(i))

    def hit(i):
        if i % 2:
            return rc.shared_value("v", (i,), sources, pytest.fail)
        return rc.shared_frame("f", (i,), sources, pytest.fail)

    rc.clear_session_cache()
    try:
        objs = {i: put(i) for i in range(rc._MAX_ENTRIES)}
        assert len(rc._CACHE) == rc._MAX_ENTRIES
        assert hit(0) is objs[0]  # the oldest entry, hit just before the insert
        objs[rc._MAX_ENTRIES] = put(rc._MAX_ENTRIES)
        assert len(rc._CACHE) == rc._MAX_ENTRIES
        cached = [id(v) for v in rc._CACHE.values()]
        assert id(objs[1]) not in cached  # least recently used: dropped
        for i in [0] + list(range(2, rc._MAX_ENTRIES + 1)):
            assert hit(i) is objs[i]
    finally:
        rc.clear_session_cache()


@pytest.mark.parametrize("path", ["s3a://bucket/sf/documents.parquet",
                                  "/nonexistent/documents.parquet"])
def test_session_cache_disabled_for_unstatable_path(spark, path):
    """A path that cannot be stat-ed disables caching: every call builds,
    nothing is stored, and a frame fallback is still materialized."""
    from nonconsumptive_spark.plans import ranker_cache as rc

    rc.clear_session_cache()
    a = rc.shared_frame("f", (), (path,), lambda: spark.range(3),
                        materialize_fallback=True)
    b = rc.shared_frame("f", (), (path,), lambda: spark.range(3),
                        materialize_fallback=True)
    assert a is not b and len(rc._CACHE) == 0
    assert a.count() == b.count() == 3


def test_traced_benchmark_counts_token_cache_hits(spark, monkeypatch):
    """perfbench's Tracer wraps token_cache.tokenized_documents and
    ranker_cache.shared_frame and reads their ``_CACHE``; renaming any of
    them must fail here rather than silently break ``--trace 1``."""
    monkeypatch.syspath_prepend(str(Path(__file__).resolve().parents[1] / "perfbench"))
    from spans import Tracer

    from nonconsumptive_spark.plans import token_cache

    tracer = Tracer(spark)
    tracer.install()
    try:
        tracer.begin_op("op")
        first = token_cache.tokenized_documents(spark, SF_SMALL)
        assert token_cache.tokenized_documents(spark, SF_SMALL) is first
        tracer.end_op()
    finally:
        tracer.uninstall()
    assert tracer.count_totals(["op"])["plans.session_cache.hits"] >= 1
