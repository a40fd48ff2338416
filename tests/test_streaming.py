"""Streaming = batch equivalence: the AvailableNow streaming plans must
produce exactly the batch aggregation results over the same files."""

from __future__ import annotations

import contextlib

import pytest

pytestmark = pytest.mark.sweep  # streaming pipeline + crash sweep: minutes per file
from pyspark.sql import functions as F

from nonconsumptive_spark import streaming as st
from nonconsumptive_spark.queries import load
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    # Stage the events table as a multi-file parquet directory (micros
    # timestamps — our own writes, so the nanos quirk of the source file
    # does not apply).
    d = tmp_path_factory.mktemp("events_stream")
    load(spark, SF_SMALL, "events").repartition(4).write.mode("overwrite").parquet(str(d / "data"))
    return str(d / "data")


def test_tumbling_stream_equals_batch(spark, events_dir):
    stream = st.tumbling_stream(st.stream_events(spark, events_dir), width="1 hour")
    got = st.run_available_now(stream, "t_tumbling")
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert g == b and len(g) > 0


def test_session_stream_equals_batch(spark, events_dir):
    stream = st.sessionized_stream(st.stream_events(spark, events_dir), gap="30 minutes")
    got = st.run_available_now(stream, "t_session")
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events", "total_value")
    )
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert g == b and len(g) > 0


def test_watermark_drops_nothing_on_backlog(spark, events_dir):
    # AvailableNow over a static backlog with a generous watermark must not
    # drop rows: total event count through the stream equals the file count.
    stream = (
        st.stream_events(spark, events_dir)
        .withWatermark("ts", "10 days")
        .groupBy()
        .agg(F.count("*").alias("n"))
    )
    got = st.run_available_now(stream, "t_count")
    n_stream = got.collect()[0]["n"]
    n_batch = spark.read.parquet(events_dir).count()
    assert n_stream == n_batch


def test_stateful_profile_equals_batch(spark, events_dir):
    # Force multiple triggers (1 file each) so per-user state must survive
    # across micro-batches; the LAST update per user is the final profile.
    from nonconsumptive_spark.streaming.events import EVENTS_SCHEMA
    from nonconsumptive_spark.streaming.stateful import running_user_profile

    src = (
        spark.readStream.format("parquet")
        .schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(events_dir)
    )
    got = st.run_available_now(running_user_profile(src), "t_state", mode="update")
    # update-mode memory sink appends every emission; keep the final one
    # (running n_events is monotonic, so max identifies it).
    final = {
        r["user_id"]: r
        for r in got.orderBy("user_id", "n_events").collect()
    }
    batch = (
        spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
            F.countDistinct("event_type").alias("n_types"),
            F.max("ts").alias("last_ts"),
        )
    )
    rows = batch.collect()
    assert len(final) == len(rows) > 0
    for r in rows:
        g = final[r["user_id"]]
        assert g["n_events"] == r["n_events"]
        assert g["n_types"] == r["n_types"]
        assert abs(g["total_value"] - r["total_value"]) < 1e-6
        assert g["last_ts_micros"] == int(r["last_ts"].timestamp() * 1_000_000)


def test_dedup_stream_drops_replayed_files(spark, events_dir, tmp_path):
    # Stage the same file content twice (a replayed micro-batch): the
    # streaming dedup must emit each event_id exactly once.
    import shutil, glob, os

    d = tmp_path / "dup_events"
    d.mkdir()
    files = sorted(glob.glob(f"{events_dir}/part-*"))
    for i, f in enumerate(files):
        shutil.copy(f, d / f"a{i}.parquet")
        shutil.copy(f, d / f"b{i}.parquet")  # exact duplicate arrival
    from nonconsumptive_spark.streaming.events import EVENTS_SCHEMA

    src = (
        spark.readStream.format("parquet")
        .schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .load(str(d))
    )
    # watermark must exceed the backlog's event-time span: later triggers
    # replay files whose events are "late" vs the advanced watermark and
    # would be discarded as late data, not deduplicated.
    got = st.run_available_now(
        st.dedup_stream(src, watermark="3650 days"), "t_dedup", mode="append"
    )
    n_batch_distinct = spark.read.parquet(events_dir).select("event_id").distinct().count()
    assert got.count() == n_batch_distinct
    assert got.select("event_id").distinct().count() == n_batch_distinct


def test_stream_stream_join_equals_batch(spark, events_dir):
    from nonconsumptive_spark.streaming.events import EVENTS_SCHEMA
    from nonconsumptive_spark.streaming.joins import click_purchase_attribution

    src = (
        spark.readStream.format("parquet")
        .schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(events_dir)
    )
    # generous watermark: the static backlog spans months, and a
    # stream-stream inner join drops matches whose other side falls behind
    # the advanced watermark — same pitfall as the dedup test above.
    got = st.run_available_now(
        click_purchase_attribution(src, within="1 hour", watermark="3650 days"),
        "t_ssjoin",
        mode="append",
    )
    batch = click_purchase_attribution(
        spark.read.parquet(events_dir), within="1 hour", watermark="3650 days"
    )
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert g == b and len(b) > 0


def test_foreach_batch_upsert_converges(spark, events_dir, tmp_path, monkeypatch):
    from nonconsumptive_spark.streaming import sinks
    from nonconsumptive_spark.streaming.corpus import applied_epoch
    from nonconsumptive_spark.streaming.events import EVENTS_SCHEMA
    from nonconsumptive_spark.streaming.sinks import start_upsert_sink, upsert_parquet

    table = str(tmp_path / "profiles")
    folds = []
    fold_epoch = sinks.fold_epoch

    def spy(spark_, table_dir, epoch_id, merge):
        applied = fold_epoch(spark_, table_dir, epoch_id, merge)
        folds.append((epoch_id, applied))
        return applied

    monkeypatch.setattr(sinks, "fold_epoch", spy)

    def run(cp):
        src = (
            spark.readStream.format("parquet")
            .schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .load(events_dir)
        )
        q = start_upsert_sink(
            src.select("event_id", "user_id", "event_type", "value"),
            table, keys=["event_id"], checkpoint_dir=str(tmp_path / cp),
        )
        q.awaitTermination(120)

    from nonconsumptive_spark.streaming.corpus import committed_table

    run("cp1")
    first = {tuple(r) for r in committed_table(spark, table).collect()}
    n_src = spark.read.parquet(events_dir).count()
    assert len(first) == n_src  # every event upserted exactly once
    assert folds and all(applied for _, applied in folds)
    marker = applied_epoch(table)

    # a fresh checkpoint restarts epoch ids at 0: every replayed epoch is
    # at or below the marker, so the guard refuses it and the table stays
    folds.clear()
    run("cp2")
    assert folds and not any(applied for _, applied in folds)
    assert applied_epoch(table) == marker
    assert {tuple(r) for r in committed_table(spark, table).collect()} == first

    # a real replay: upserting the whole input again as one new version
    # must converge to the identical table (idempotent upsert)
    src = spark.read.parquet(events_dir).select("event_id", "user_id", "event_type", "value")
    upsert_parquet(src, table, keys=["event_id"])
    assert folds[-1] == (marker + 1, True)
    second = {tuple(r) for r in committed_table(spark, table).collect()}
    assert len(second) == n_src and second == first


def test_incremental_wordcounts_equal_batch(spark, tmp_path):
    from nonconsumptive_spark.operators import wordcount as wc
    from nonconsumptive_spark.streaming.corpus import (
        start_incremental_wordcounts,
        stream_documents,
    )

    src_dir = str(tmp_path / "docs")
    load(spark, SF_SMALL, "documents").repartition(6).write.parquet(src_dir)
    table = str(tmp_path / "wordcounts")
    q = start_incremental_wordcounts(
        stream_documents(spark, src_dir, max_files_per_trigger=2),
        table, checkpoint_dir=str(tmp_path / "cp"),
    )
    q.awaitTermination(120)
    from nonconsumptive_spark.streaming.corpus import committed_table

    got = {(r["token"], r["count"]) for r in committed_table(spark, table).collect()}
    expect = {
        (r["token"], r["count"])
        for r in wc.global_wordcount(spark.read.parquet(src_dir)).collect()
    }
    assert got == expect and len(expect) > 0


def test_neardup_ingest_stream_equals_batch(spark, tmp_path, monkeypatch):
    """Crawl-ingest dedup: streaming each file against the growing
    signature index flags exactly the docs that batch LSH pair-mining
    pairs as the LARGER id (arrival order == id order here), regardless
    of which batch the two sides arrived in.  Each batch reads the index
    back with the schema it writes, which is the schema inference gives."""
    import time

    from nonconsumptive_spark.operators import dedup as dd
    from nonconsumptive_spark.streaming import neardup as nd
    from nonconsumptive_spark.streaming.corpus import stream_documents
    from nonconsumptive_spark.streaming.neardup import start_neardup_ingest

    index_reads = []
    read_committed = nd._read_committed

    def spy(spark_, root, flags_dir, schema=None):
        out = read_committed(spark_, root, flags_dir, schema)
        if out is not None and schema is not None:
            inferred = read_committed(spark_, root, flags_dir)
            index_reads.append((schema, out.schema, inferred.schema))
        return out

    monkeypatch.setattr(nd, "_read_committed", spy)

    docs = load(spark, SF_SMALL, "documents")
    src = tmp_path / "docs_in"
    src.mkdir()
    # four id-ordered files with strictly increasing mtimes → the file
    # source processes them oldest-first, so arrival order == id order
    for i, (lo, hi) in enumerate([(0, 125), (125, 250), (250, 375), (375, 10**9)]):
        part = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        part.coalesce(1).write.parquet(str(src / f"part{i}"))
        time.sleep(0.1)
    # flatten: move each run's parquet file up as an ordered file name
    files = []
    for i in range(4):
        d = src / f"part{i}"
        pq = next(p for p in d.iterdir() if p.name.endswith(".parquet"))
        tgt = src / f"{i:02d}.parquet"
        pq.rename(tgt)
        files.append(tgt)
        import shutil

        shutil.rmtree(d)

    q = start_neardup_ingest(
        stream_documents(spark, str(src), max_files_per_trigger=1),
        index_dir=str(tmp_path / "index"),
        flags_dir=str(tmp_path / "flags"),
        checkpoint_dir=str(tmp_path / "cp"),
        threshold=0.5,
    )
    q.awaitTermination(180)

    from nonconsumptive_spark.streaming.neardup import read_flags, read_index

    flagged = {
        r["doc_id"]: r["dup_of"]
        for r in read_flags(spark, str(tmp_path / "flags")).collect()
    }
    batch_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dd.minhash_dedup_pairs(docs, threshold=0.5).collect()
    }
    assert batch_pairs, "fixture should contain planted near-dups"
    expect_flagged = {b for _, b in batch_pairs}
    assert set(flagged) == expect_flagged
    # every recorded match is a genuine verified pair with an earlier doc
    for doc, dup_of in flagged.items():
        assert dup_of < doc and (dup_of, doc) in batch_pairs
    # the signature index now covers the whole corpus
    assert read_index(spark, str(tmp_path / "index"),
                      str(tmp_path / "flags")).count() == docs.count()
    # batches 1-3 read the index, each with the written schema
    assert len(index_reads) == 3
    for given, got, inferred in index_reads:
        assert given == got == inferred


def test_merge_wordcounts_epoch_replay_is_noop(spark, tmp_path):
    """foreachBatch is at-least-once; re-applying a committed epoch must
    not double-count (the additive merge is guarded by an epoch marker)."""
    from nonconsumptive_spark.streaming.corpus import (
        applied_epoch, committed_table, merge_wordcounts)

    table = str(tmp_path / "wc")
    batch = spark.createDataFrame([("a", 2), ("b", 1)], ["token", "count"])
    assert merge_wordcounts(batch, table, epoch_id=0) is True
    assert applied_epoch(table) == 0
    # replay of epoch 0 (checkpoint commit failed, stream restarted)
    assert merge_wordcounts(batch, table, epoch_id=0) is False
    got = {(r["token"], r["count"]) for r in committed_table(spark, table).collect()}
    assert got == {("a", 2), ("b", 1)}
    # a genuinely new epoch still merges additively
    assert merge_wordcounts(batch, table, epoch_id=1) is True
    got = {(r["token"], r["count"]) for r in committed_table(spark, table).collect()}
    assert got == {("a", 4), ("b", 2)}


def test_merge_wordcounts_crash_window_replay(spark, tmp_path):
    """The versioned-commit scheme: a crash AFTER the epoch's data write
    but BEFORE the marker rename must leave the table readable at the
    previous version, and the replay must rebuild the epoch from the same
    committed input — no double count (the bug the old rewrite-then-mark
    layout had)."""
    from nonconsumptive_spark.streaming import corpus as c

    table = str(tmp_path / "wc")
    batch = spark.createDataFrame([("a", 2), ("b", 1)], ["token", "count"])
    assert c.merge_wordcounts(batch, table, epoch_id=0) is True

    # simulate the crash: epoch 1's version dir fully written, marker NOT
    # advanced (this is exactly the state after a failure between the
    # parquet write and _commit_epoch)
    cur = c.committed_table(spark, table)
    merged = (cur.unionByName(batch).groupBy("token")
              .agg(F.sum("count").alias("count")))
    merged.write.mode("overwrite").parquet(str(c._version_dir(table, 1)))
    assert c.applied_epoch(table) == 0  # uncommitted -> invisible
    got = {(r["token"], r["count"]) for r in c.committed_table(spark, table).collect()}
    assert got == {("a", 2), ("b", 1)}  # readers see the committed version

    # restart replays epoch 1: rebuilds v1 from committed v0 + batch
    assert c.merge_wordcounts(batch, table, epoch_id=1) is True
    got = {(r["token"], r["count"]) for r in c.committed_table(spark, table).collect()}
    assert got == {("a", 4), ("b", 2)}  # once, not twice


class _Boom(Exception):
    """Injected crash."""


@pytest.mark.parametrize("kill_point", ["marker", "prune"])
@pytest.mark.parametrize("kill_epoch", [0, 1, 2])
def test_merge_wordcounts_kill_points_exactly_once(
        spark, tmp_path, monkeypatch, kill_epoch, kill_point):
    """Sweep a crash through BOTH sides of the write/rename commit pair at
    every epoch of a sequence: 'marker' dies after the version-dir write
    but before the atomic marker rename; 'prune' dies after the commit but
    before cleanup.  In every case an at-least-once replay of the killed
    epoch must converge to exactly-once totals."""
    from nonconsumptive_spark.streaming import corpus as c

    table = str(tmp_path / "wc")
    n_epochs = 4

    def batch(e):
        return spark.createDataFrame(
            [("a", 1), (f"t{e}", 1)], ["token", "count"])

    target = "_commit_epoch" if kill_point == "marker" else "_prune_versions"
    real = getattr(c, target)

    for e in range(n_epochs):
        if e == kill_epoch:
            def dying(*a, **k):
                raise _Boom()
            monkeypatch.setattr(c, target, dying)
            # at epoch 0 the prune branch never runs (nothing to prune) —
            # suppress rather than require the crash
            with contextlib.suppress(_Boom):
                c.merge_wordcounts(batch(e), table, epoch_id=e)
            monkeypatch.setattr(c, target, real)
            if kill_point == "marker":
                # marker never advanced: readers still see pre-epoch state
                cur = c.committed_table(spark, table)
                if e > 0:
                    assert cur.count() == e + 1  # 'a' + t{i}, i < e
            # restart: foreachBatch replays the SAME epoch (no-op if the
            # commit actually landed before the crash)
            c.merge_wordcounts(batch(e), table, epoch_id=e)
        else:
            assert c.merge_wordcounts(batch(e), table, epoch_id=e) is True

    got = {(r["token"], r["count"])
           for r in c.committed_table(spark, table).collect()}
    expect = {("a", n_epochs)} | {(f"t{e}", 1) for e in range(n_epochs)}
    assert got == expect


@pytest.mark.parametrize("kill_point", ["marker", "prune"])
@pytest.mark.parametrize("kill_epoch", [0, 1, 2])
def test_upsert_kill_points_exactly_once(
        spark, tmp_path, monkeypatch, kill_epoch, kill_point):
    """Same kill-point sweep over the upsert sink's versioned commit."""
    from nonconsumptive_spark.streaming import corpus as c
    from nonconsumptive_spark.streaming import sinks as s

    table = str(tmp_path / "ups")
    n_epochs = 4

    def batch(e):
        return spark.createDataFrame([("k", e), (f"k{e}", e)], ["key", "val"])

    # the commit runs in corpus.fold_epoch — patch there
    target = "_commit_epoch" if kill_point == "marker" else "_prune_versions"
    real = getattr(c, target)

    for e in range(n_epochs):
        if e == kill_epoch:
            def dying(*a, **k):
                raise _Boom()
            monkeypatch.setattr(c, target, dying)
            with contextlib.suppress(_Boom):
                s.upsert_parquet(batch(e), table, ["key"], epoch_id=e)
            monkeypatch.setattr(c, target, real)
            s.upsert_parquet(batch(e), table, ["key"], epoch_id=e)
        else:
            s.upsert_parquet(batch(e), table, ["key"], epoch_id=e)

    got = {(r["key"], r["val"])
           for r in c.committed_table(spark, table).collect()}
    expect = {("k", n_epochs - 1)} | {(f"k{e}", e) for e in range(n_epochs)}
    assert got == expect


def test_committed_reader_survives_one_commit(spark, tmp_path):
    """The retention guarantee behind _prune_versions: a lazy DataFrame
    from committed_table stays scannable across exactly one subsequent
    commit (the r3 ADVICE FileNotFoundException window); versions two
    commits old are pruned."""
    import os

    from nonconsumptive_spark.streaming import corpus as c

    table = str(tmp_path / "wc")

    def batch():
        return spark.createDataFrame([("a", 1)], ["token", "count"])

    c.merge_wordcounts(batch(), table, epoch_id=0)
    reader = c.committed_table(spark, table)  # lazy over v0
    c.merge_wordcounts(batch(), table, epoch_id=1)
    # v0 must still be on disk for the pre-commit reader
    assert {(r["token"], r["count"]) for r in reader.collect()} == {("a", 1)}
    c.merge_wordcounts(batch(), table, epoch_id=2)
    assert not os.path.exists(str(c._version_dir(table, 0)))  # pruned now
    assert os.path.exists(str(c._version_dir(table, 1)))      # retained
    assert os.path.exists(str(c._version_dir(table, 2)))      # committed


def test_kmeans_scoring_stream_equals_batch(spark, tmp_path):
    """The clustering assignment kernel is stateless, so scoring a stream
    of embeddings against batch-fitted centroids must equal the batch
    assignment row for row."""
    from nonconsumptive_spark.streaming.scoring import (
        fit_centroids,
        kmeans_score,
        stream_embeddings,
    )
    from tests.conftest import SF_SMALL

    src = str(tmp_path / "emb")
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    emb.repartition(4).write.parquet(src)  # several files -> several triggers

    cents = fit_centroids(emb, k=10, n_iter=2)
    batch = {tuple(r) for r in kmeans_score(
        spark.read.parquet(src), cents).collect()}

    q = (
        kmeans_score(stream_embeddings(spark, src, max_files_per_trigger=1), cents)
        .writeStream.format("memory").queryName("km_scores")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {tuple(r) for r in spark.sql("SELECT * FROM km_scores").collect()}
    assert streamed == batch


def test_curation_gate_stream_equals_batch(spark, tmp_path):
    """The streaming curation gate (stateless rules + stream-static
    contamination join) must produce exactly the batch verdicts."""
    from nonconsumptive_spark.streaming import curation as cur
    from nonconsumptive_spark.streaming.corpus import stream_documents

    docs = load(spark, SF_SMALL, "documents")
    d = tmp_path / "docs_stream"
    docs.repartition(3).write.mode("overwrite").parquet(str(d))

    eval_sh = cur.eval_shingle_table(docs.filter(F.col("doc_id") < 5))
    stream = stream_documents(spark, str(d), schema=docs.schema)
    got = st.run_available_now(
        cur.curation_gate(stream, eval_sh), "t_curation", mode="complete")

    batch = cur.curation_gate(spark.read.parquet(str(d)), eval_sh)
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert g == b and len(g) == docs.count()


def test_pq_scoring_stream_equals_batch(spark, tmp_path):
    """PQ encoding is a stateless per-row expression against the trained
    codebook literal, so encoding a stream must equal the batch encode
    row for row (the same discipline as kmeans_score)."""
    from nonconsumptive_spark.operators.similarity import pq_train
    from nonconsumptive_spark.streaming.scoring import (
        pq_score,
        stream_embeddings,
    )
    from tests.conftest import SF_SMALL

    src = str(tmp_path / "emb")
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    emb.repartition(4).write.parquet(src)

    books = pq_train(emb, m=2, ksub=4, n_iter=1, dim=64)
    batch = {(r["vec_id"], tuple(r["codes"])) for r in
             pq_score(spark.read.parquet(src), books).collect()}

    q = (
        pq_score(stream_embeddings(spark, src, max_files_per_trigger=1), books)
        .writeStream.format("memory").queryName("pq_codes")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {(r["vec_id"], tuple(r["codes"])) for r in
                spark.sql("SELECT * FROM pq_codes").collect()}
    assert streamed == batch and len(streamed) > 0


def test_drift_monitor_logs_epochs_and_final_table(spark, tmp_path):
    """Drift monitor: per-epoch JSD entries appear for every epoch after
    the first committed corpus, the final wordcount table still equals
    the batch computation, and the log survives an epoch replay without
    duplicating (overwrite-per-epoch idempotence)."""
    from nonconsumptive_spark.operators import wordcount as wc
    from nonconsumptive_spark.streaming.corpus import (
        committed_table, stream_documents)
    from nonconsumptive_spark.streaming.drift import (
        drift_log, start_drift_monitor)

    src_dir = str(tmp_path / "docs")
    load(spark, SF_SMALL, "documents").repartition(6).write.parquet(src_dir)
    table = str(tmp_path / "wc")
    log_dir = str(tmp_path / "drift")
    q = start_drift_monitor(
        stream_documents(spark, src_dir, max_files_per_trigger=2),
        table, log_dir, checkpoint_dir=str(tmp_path / "cp"))
    q.awaitTermination(120)

    got = {(r["token"], r["count"])
           for r in committed_table(spark, table).collect()}
    expect = {(r["token"], r["count"])
              for r in wc.global_wordcount(spark.read.parquet(src_dir)).collect()}
    assert got == expect

    log = drift_log(spark, log_dir).collect()
    # 6 files at 2/trigger = 3 epochs; the first has no committed corpus
    # to compare against, so >= 2 entries, all with sane bounded JSD
    assert len(log) >= 2
    assert len({r["epoch"] for r in log}) == len(log)  # one row per epoch
    import math
    for r in log:
        assert 0.0 <= r["jsd"] <= math.log(2) + 1e-9
        assert r["n_batch"] > 0 and r["n_corpus"] > 0

    # replay idempotence: re-log an already-logged epoch with the same
    # content — row count must not grow
    from nonconsumptive_spark.streaming.drift import _log_epoch
    some = sorted(log, key=lambda r: r["epoch"])[0]
    _log_epoch(spark, log_dir, some["epoch"],
               {"v": some["v"], "n_a": some["n_corpus"],
                "n_b": some["n_batch"], "jsd": some["jsd"]})
    assert len(drift_log(spark, log_dir).collect()) == len(log)


def test_bloom_gate_stream_equals_batch(spark, tmp_path):
    """The streaming Bloom novelty gate (k separate stream-static probe
    joins, single aggregation) must reproduce the batch operator's
    (n_shingles, n_bloom_hits) exactly — kernel equality across two
    different physical plans."""
    from nonconsumptive_spark.operators.dedup import bloom_shingle_novelty
    from nonconsumptive_spark.streaming import bloomgate as bg

    docs = load(spark, SF_SMALL, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch_docs = docs.filter(F.col("doc_id") % 2 == 1)
    d = tmp_path / "bloom_stream"
    batch_docs.repartition(3).write.mode("overwrite").parquet(str(d))

    bits = bg.bloom_bits_table(corpus)
    stream = bg.bloom_novelty_gate(
        spark.readStream.schema(docs.schema).parquet(str(d)), bits)
    got = {r.doc_id: (r.n_shingles, r.n_bloom_hits)
           for r in st.run_available_now(stream, "t_bloom",
                                         mode="complete").collect()}
    want = {r.doc_id: (r.n_shingles, r.n_bloom_hits)
            for r in bloom_shingle_novelty(docs).collect()}
    assert got == want and len(got) == batch_docs.count()


def test_stream_stream_outer_join_null_emits_after_watermark(spark, tmp_path):
    """LEFT OUTER watermark join hardening (streaming/joins.py): a click
    with no purchase NULL-emits only after event-time advances the
    watermark past its match horizon; matches emit as in the inner join;
    and on a batch frame the same function is its own oracle."""
    from datetime import datetime

    from nonconsumptive_spark.streaming.events import EVENTS_SCHEMA
    from nonconsumptive_spark.streaming.joins import (
        click_purchase_attribution_outer)

    def ev(eid, ts, uid, etype, value=1.0):
        return (eid, datetime.fromisoformat(ts), uid, etype, value, "{}")

    d = tmp_path / "outer_events"
    d.mkdir()
    # files arrive (and are triggered) in event-time order; watermark=1h,
    # within=30m => click horizon = click_ts + 1h30m
    batches = [
        # c1: never matched; c2: matched by p2 ten minutes later
        [ev(1, "2024-01-01 09:00:00", 1, "click"),
         ev(2, "2024-01-01 09:00:00", 2, "click"),
         ev(3, "2024-01-01 09:10:00", 2, "purchase", 5.0)],
        # c3's purchase lands OUTSIDE within (40m); this batch's max
        # event-time (12:40) moves the watermark past c1/c2's horizon
        [ev(4, "2024-01-01 12:00:00", 3, "click"),
         ev(5, "2024-01-01 12:40:00", 3, "purchase", 7.0)],
        # horizon-pushers: the GLOBAL watermark is the min over BOTH
        # sides' watermarks (a purchase-only pusher leaves the click-side
        # watermark — and therefore state eviction — stuck), so each
        # pusher is a matching click+purchase pair: advances both sides
        # and leaves no unmatched state of its own.  And a batch's
        # watermark only takes effect in the NEXT micro-batch, so c3's
        # NULL emit needs the second pusher — exactly the semantics this
        # test exists to pin down.
        [ev(6, "2024-01-01 18:00:00", 6, "click"),
         ev(7, "2024-01-01 18:05:00", 6, "purchase", 9.0)],
        [ev(8, "2024-01-01 23:00:00", 7, "click"),
         ev(9, "2024-01-01 23:02:00", 7, "purchase", 2.0)],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(str(d / f"b{i}.parquet"))

    src = (
        spark.readStream.format("parquet")
        .schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(str(d) + "/*/")
    )
    got = st.run_available_now(
        click_purchase_attribution_outer(src, within="30 minutes",
                                         watermark="1 hour"),
        "t_ssjoin_outer", mode="append",
    )
    rows = {r["click_id"]: r for r in got.collect()}
    # every click's horizon is behind the final watermark (17:00), so the
    # stream result equals the batch left-outer oracle exactly
    batch = click_purchase_attribution_outer(
        spark.read.parquet(str(d) + "/*/"),
        within="30 minutes", watermark="1 hour")
    assert {tuple(r) for r in got.collect()} == \
        {tuple(r) for r in batch.collect()}
    assert set(rows) == {1, 2, 4, 6, 8}
    assert rows[1]["purchase_id"] is None and rows[1]["amount"] is None
    assert rows[4]["purchase_id"] is None  # matched-too-late == unmatched
    assert rows[2]["purchase_id"] == 3 and rows[2]["amount"] == 5.0
    assert rows[6]["purchase_id"] == 7 and rows[8]["purchase_id"] == 9
