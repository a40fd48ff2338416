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


def test_traced_benchmark_counts_checkpoint_builds_and_hits(spark, monkeypatch, tmp_path):
    """perfbench's Tracer wraps CheckpointCache.materialize, passing
    (spark, name, df, fingerprint, partition_by) positionally, and calls
    is_cached(name, fingerprint) and path_for(name); a change to any of
    them must fail here rather than silently break ``--trace 1``."""
    monkeypatch.syspath_prepend(str(Path(__file__).resolve().parents[1] / "perfbench"))
    from spans import Tracer

    from nonconsumptive_spark.corpus import CorpusSession

    texts = tmp_path / "texts"
    texts.mkdir()
    for k, v in {"a": "the cat sat", "b": "the dog ran far"}.items():
        (texts / f"{k}.txt").write_text(v)
    tracer = Tracer(spark)
    tracer.install()
    try:
        tracer.begin_op("op")
        sess = CorpusSession(spark, texts=str(texts), cache_dir=tmp_path / "cache",
                             cache_set={"tokenization", "document_lengths"})
        assert sess.run("document_lengths").count() == 2
        assert sess.run("document_lengths").count() == 2
        tracer.end_op()
    finally:
        tracer.uninstall()
    totals = tracer.count_totals(["op"])
    assert totals["plans.checkpoint.builds"] == 2
    assert totals["plans.checkpoint.hits"] >= 1


# ---------------------------------------------------------------------------
# The parquet schema memo (ranker_cache.shared_schema behind
# sources.readers.read_parquet and queries.load).

SF_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events", "documents", "embeddings"]


def _jobs_of(spark, fn, group):
    """(fn(), number of Spark jobs it launched under job group ``group``)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write(path, **cols):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), path)


def test_second_load_launches_no_job(spark, tmp_path):
    from nonconsumptive_spark.queries import load

    _write(tmp_path / "t.parquet", k=[1, 2, 3], v=["a", "b", "c"])
    first, cold = _jobs_of(spark, lambda: load(spark, str(tmp_path), "t"), "memo-cold")
    second, warm = _jobs_of(spark, lambda: load(spark, str(tmp_path), "t"), "memo-warm")
    assert (cold, warm) == (1, 0)
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_brings_new_schema(spark, tmp_path):
    from nonconsumptive_spark.queries import load

    _write(tmp_path / "t.parquet", k=[1, 2])
    assert load(spark, str(tmp_path), "t").columns == ["k"]
    assert load(spark, str(tmp_path), "t").columns == ["k"]
    _write(tmp_path / "t.parquet", k=[1, 2], extra=[0.5, 1.5])
    df = load(spark, str(tmp_path), "t")
    assert df.columns == ["k", "extra"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, 0.5), (2, 1.5)]


def test_missing_table_raises_as_before(spark, tmp_path):
    from nonconsumptive_spark.queries import load

    path = str(tmp_path / "absent.parquet")
    with pytest.raises(Exception) as plain:
        spark.read.parquet(path)
    for _ in range(2):
        with pytest.raises(type(plain.value)) as got:
            load(spark, str(tmp_path), "absent")
        assert got.value.getCondition() == plain.value.getCondition()


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_events_through_memo_equal_uncached_read(spark, tmp_path, unit):
    """The sf files carry microsecond ``ts``; the driver's carry
    nanoseconds, which only ``nanosAsLong`` makes readable."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from nonconsumptive_spark.queries import load

    tbl = pq.read_table(f"{SF_SMALL}/events.parquet")
    if unit == "ns":
        ns = pa.compute.add(tbl.column("ts").cast(pa.timestamp("ns")).cast(pa.int64()), 789)
        tbl = tbl.set_column(tbl.schema.get_field_index("ts"), "ts",
                             ns.cast(pa.timestamp("ns")))
    pq.write_table(tbl, tmp_path / "events.parquet")
    load(spark, str(tmp_path), "events")
    memo, jobs = _jobs_of(spark, lambda: load(spark, str(tmp_path), "events"),
                          "memo-events")
    assert jobs == 0
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(str(tmp_path / "events.parquet"))
    if dict(raw.dtypes)["ts"] == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    assert memo.schema == raw.schema
    assert dict(memo.dtypes)["ts"].startswith("timestamp")
    assert sorted(memo.collect()) == sorted(raw.collect())


def test_schemas_never_evict_session_frames(spark, tmp_path):
    from nonconsumptive_spark.plans import ranker_cache as rc
    from nonconsumptive_spark.plans.token_cache import tokenized_documents
    from nonconsumptive_spark.queries import load

    toks = tokenized_documents(spark, SF_SMALL)
    for i in range(rc._MAX_ENTRIES):
        _write(tmp_path / f"t{i}.parquet", k=[i])
        load(spark, str(tmp_path), f"t{i}")
    for t in SF_TABLES:
        load(spark, SF_SMALL, t)
    assert len(rc._SCHEMAS) > rc._MAX_ENTRIES
    assert tokenized_documents(spark, SF_SMALL) is toks


def test_bookstack_read_memo_follows_stack_files(spark, tmp_path, monkeypatch):
    from collections import OrderedDict

    from nonconsumptive_spark.plans import ranker_cache as rc
    from nonconsumptive_spark.sources.readers import read_parquet_bookstacks

    stacks = tmp_path / "stacks"
    stacks.mkdir()
    _write(stacks / "s1.parquet", **{"@id": ["b", "a"], "nc:text": ["x y", "z"]})
    _write(stacks / "s2.parquet", **{"@id": ["c"], "nc:text": ["w"]})

    def rows(df):
        return sorted(tuple(r) for r in df.select("@id", "nc:id", "stack").collect())

    read = lambda: read_parquet_bookstacks(spark, str(stacks))  # noqa: E731
    first, _ = _jobs_of(spark, read, "memo-stacks-cold")
    second, warm = _jobs_of(spark, read, "memo-stacks-warm")
    assert warm == 0 and rows(second) == rows(first)
    # a stack that sorts first shifts every nc:id, as a fresh read shows
    _write(stacks / "s0.parquet", **{"@id": ["d"], "nc:text": ["v"]})
    got = rows(read())
    monkeypatch.setattr(rc, "_SCHEMAS", OrderedDict())
    fresh = rows(read())
    assert got == fresh and len(got) == 4
    assert got[3] == ("d", 0, "s0")


def test_concurrent_loads_share_one_schema_per_file(spark, tmp_path):
    """Threads loading the same tables (CorpusSession.build's targets,
    q_kmeans_elbow's workers) each get the file's schema, and the memo
    ends with one entry per file."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from nonconsumptive_spark.plans import ranker_cache as rc
    from nonconsumptive_spark.queries import load

    for i in range(3):
        _write(tmp_path / f"t{i}.parquet", **{f"c{j}": [j] for j in range(i + 1)})
    rc.clear_session_cache()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            futs = [pool.submit(load, spark, str(tmp_path), f"t{k % 3}") for k in range(24)]
            cols = [(k % 3, f.result(timeout=120).columns) for k, f in enumerate(futs)]
    finally:
        sys.setswitchinterval(interval)
    assert all(c == [f"c{j}" for j in range(i + 1)] for i, c in cols)
    assert len(rc._SCHEMAS) == 3
