"""Unit semantics for the hybrid-retrieval operators: stop-cut shingle
lexical ranking, RRF fusion, and hard-negative mining.

The oracle queries cover the bulk paths at sf0.01; these pin the
hand-checkable edge semantics on tiny frames.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nonconsumptive_spark.operators.hybrid import (
    RRF_K,
    RRF_SCALE,
    hard_negatives,
    lexical_topn,
    rrf_fuse,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _emb(spark, rows):
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


# ------------------------------------------------------- lexical ranking ----
def test_lexical_overlap_counts_shared_bigrams(spark):
    # query doc 0 shares "red fox" + "fox jumps" with doc 1, only
    # "red fox" with doc 2; doc 3 shares nothing.
    docs = _docs(spark, [
        (0, "red fox jumps high"),
        (1, "the red fox jumps"),
        (2, "a red fox sleeps"),
        (3, "green turtle swims"),
        # pad the corpus so no shingle hits the 10% stop cut unfairly:
        # every bigram above appears in <= 3 of 30 docs (df*10 <= 30).
        *[(i, f"filler{i} pad{i}") for i in range(4, 30)],
    ])
    out = {r["cand_id"]: r for r in
           lexical_topn(docs, n_queries=1).collect()}
    assert out[1]["overlap"] == 2
    assert out[2]["overlap"] == 1
    assert 3 not in out
    assert out[1]["lex_rank"] == 1 and out[2]["lex_rank"] == 2


def test_lexical_stop_cut_drops_universal_bigram(spark):
    # "common pair" appears in ALL docs -> df * 10 > n_docs -> dropped;
    # only the query-specific overlap with doc 1 survives.
    docs = _docs(spark, [
        (0, "common pair unique zebra"),
        (1, "common pair unique zebra"),
        *[(i, f"common pair word{i}") for i in range(2, 20)],
    ])
    out = lexical_topn(docs, n_queries=1).collect()
    assert [r["cand_id"] for r in out] == [1]
    # doc 1 shares "unique zebra" (and "pair unique"); "common pair" is cut
    assert out[0]["overlap"] == 2


# ------------------------------------------------------------ RRF fusion ----
def test_rrf_score_is_exact_integer_sum(spark):
    docs = _docs(spark, [
        (0, "alpha beta gamma delta"),
        (1, "alpha beta gamma delta"),
        (2, "zeta eta theta iota"),
        *[(i, f"pad{i} fill{i}") for i in range(3, 20)],
    ])
    emb = _emb(spark, [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.1]),
        (2, [0.0, 1.0]),
        *[(i, [0.5, 0.5]) for i in range(3, 20)],
    ])
    out = {r["cand_id"]: r for r in
           rrf_fuse(docs, emb, n_queries=1, fuse_top=20).collect()}
    r1 = out[1]
    # doc 1: lexical rank 1 (3 shared bigrams) and semantic rank 1
    assert r1["lex_rank"] == 1 and r1["sem_rank"] == 1
    assert r1["rrf_score"] == 2 * (RRF_SCALE // (RRF_K + 1))
    assert r1["fused_rank"] == 1
    # doc 2: no shared bigram -> lexical-side NULL, semantic term only
    r2 = out[2]
    assert r2["lex_rank"] is None
    assert r2["rrf_score"] == RRF_SCALE // (RRF_K + r2["sem_rank"])


def test_rrf_excludes_self_match(spark):
    docs = _docs(spark, [(i, f"tok{i} same pair") for i in range(8)])
    emb = _emb(spark, [(i, [1.0, float(i)]) for i in range(8)])
    out = rrf_fuse(docs, emb, n_queries=2).collect()
    assert all(r["cand_id"] != r["query_id"] for r in out)


# -------------------------------------------------------- hard negatives ----
def test_hard_negatives_lexical_hit_semantic_miss(spark):
    docs = _docs(spark, [
        (0, "apple banana cherry date"),
        (1, "apple banana cherry date"),   # lexical twin, orthogonal vector
        (2, "apple banana cherry date"),   # lexical twin, parallel vector
        *[(i, f"pad{i} fill{i}") for i in range(3, 30)],
    ])
    emb = _emb(spark, [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),                   # cosine 0.0 -> hard negative
        (2, [2.0, 0.0]),                   # cosine 1.0 -> not a negative
        *[(i, [1.0, 1.0]) for i in range(3, 30)],
    ])
    out = hard_negatives(docs, emb, n_queries=1).collect()
    assert [r["cand_id"] for r in out] == [1]
    assert out[0]["cosine_sim"] == 0.0
    assert out[0]["lex_rank"] in (1, 2)  # twins tie on overlap, id breaks


# ------------------------------------------------- shared ranker cache ----
def test_ranker_cache_result_identity(spark):
    """Cached and uncached ranker frames are row-identical, the second
    call is a cache HIT (same object), and rewriting the corpus file
    invalidates the key (the round-9 shared-ranker disclosure test)."""
    import os
    import shutil

    from nonconsumptive_spark.operators.hybrid import semantic_topk
    from nonconsumptive_spark.plans.ranker_cache import (
        _CACHE, clear_session_cache)
    from nonconsumptive_spark.queries import load
    from tests.conftest import SF_SMALL

    tmp = "/tmp/nc_ranker_cache_fixture"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    shutil.copy(os.path.join(SF_SMALL, "documents.parquet"),
                os.path.join(tmp, "documents.parquet"))
    shutil.copy(os.path.join(SF_SMALL, "embeddings.parquet"),
                os.path.join(tmp, "embeddings.parquet"))
    docs, emb = load(spark, tmp, "documents"), load(spark, tmp, "embeddings")

    clear_session_cache()
    lex1 = lexical_topn(docs, n_queries=3, top_n=5)
    sem1 = semantic_topk(emb, n_queries=3, k=5)
    lex_rows = sorted(map(tuple, lex1.collect()))
    sem_rows = sorted(map(tuple, sem1.collect()))
    n_entries = len(_CACHE)
    assert n_entries == 2

    # second call: HIT — same cached object, identical rows
    assert lexical_topn(docs, n_queries=3, top_n=5) is lex1
    assert semantic_topk(emb, n_queries=3, k=5) is sem1

    # uncached rebuild (cleared cache) produces identical rows
    clear_session_cache()
    assert sorted(map(tuple,
                      lexical_topn(docs, n_queries=3, top_n=5).collect())) \
        == lex_rows
    assert sorted(map(tuple,
                      semantic_topk(emb, n_queries=3, k=5).collect())) \
        == sem_rows

    # different params -> different entry, not a stale hit
    lex_k3 = lexical_topn(docs, n_queries=3, top_n=3)
    assert {r["lex_rank"] for r in lex_k3.collect()} <= {1, 2, 3}

    # rewriting the corpus file changes the stat key -> MISS (fresh build)
    before = lexical_topn(docs, n_queries=3, top_n=5)
    src = os.path.join(tmp, "documents.parquet")
    os.utime(src, ns=(os.stat(src).st_atime_ns,
                      os.stat(src).st_mtime_ns + 1))
    docs2 = load(spark, tmp, "documents")
    after = lexical_topn(docs2, n_queries=3, top_n=5)
    assert after is not before
    clear_session_cache()
    shutil.rmtree(tmp, ignore_errors=True)


def test_ranker_cache_disabled_for_inmemory_frames(spark):
    """createDataFrame inputs have no stat-able files: caching must be
    DISABLED (fresh build every call), never keyed on a constant."""
    from nonconsumptive_spark.operators.hybrid import semantic_topk
    from nonconsumptive_spark.plans.ranker_cache import (
        _CACHE, clear_session_cache)

    clear_session_cache()
    emb = _emb(spark, [
        (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [0.1, 0.9]),
    ])
    a = semantic_topk(emb, n_queries=1, k=2)
    b = semantic_topk(emb, n_queries=1, k=2)
    assert a is not b
    assert len(_CACHE) == 0
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
