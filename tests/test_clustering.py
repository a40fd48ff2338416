"""k-means + SemDeDup invariants (cross-engine parity is covered for both
registry entries by test_oracle_parity; these pin the operator semantics)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from nonconsumptive_spark.operators import clustering as cl
from tests.conftest import SF_SMALL

K, ITERS = 10, 4
TAU = (7, 20)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")


def test_kmeans_assignment_invariants(spark, emb):
    out = cl.kmeans(emb, k=K, n_iter=ITERS).collect()
    n = emb.count()
    assert len(out) == n  # every vector assigned exactly once
    assert all(0 <= r["cluster"] < K for r in out)
    assert all(r["dist_sq"] >= 0 for r in out)
    # the synthetic embeddings carry 10 latent labels; Lloyd from 10 seeds
    # should populate more than one cluster
    assert len({r["cluster"] for r in out}) > 1


def test_kmeans_deterministic(spark, emb):
    a = sorted(map(tuple, cl.kmeans(emb, k=K, n_iter=ITERS).collect()))
    b = sorted(map(tuple, cl.kmeans(emb, k=K, n_iter=ITERS).collect()))
    assert a == b


def test_semdedup_matches_numpy_reference(spark, emb):
    """Prune decisions equal an independent numpy replay of the contract:
    pruned(b) <=> exists a<b in the same cluster with quantized-cosine >= tau."""
    rows = cl.semdedup(emb, k=K, n_iter=ITERS,
                       tau_num=TAU[0], tau_den=TAU[1]).collect()
    assign = {r["vec_id"]: r["cluster"] for r in rows}
    pruned = {r["vec_id"]: r["pruned"] for r in rows}

    pdf = emb.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy()
    xq = np.floor(
        np.stack(pdf["embedding"].to_numpy()).astype(np.float64) * cl.GRID + 0.5
    ).astype(np.int64)
    nq = (xq * xq).sum(axis=1)
    num2, den2 = TAU[0] ** 2, TAU[1] ** 2

    expect = {}
    order = np.argsort(ids)
    for bi in order:
        b = int(ids[bi])
        hit = False
        for ai in order:
            a = int(ids[ai])
            if a >= b or assign[a] != assign[b]:
                continue
            dot = int(np.dot(xq[ai], xq[bi]))
            if dot > 0 and den2 * dot * dot >= num2 * int(nq[ai]) * int(nq[bi]):
                hit = True
                break
        expect[b] = hit
    assert pruned == expect


def test_semdedup_threshold_monotone(spark, emb):
    """A stricter threshold never prunes more vectors."""
    loose = cl.semdedup(emb, k=K, n_iter=ITERS, tau_num=7, tau_den=20)
    strict = cl.semdedup(emb, k=K, n_iter=ITERS, tau_num=9, tau_den=10)
    n_loose = loose.where("pruned").count()
    n_strict = strict.where("pruned").count()
    assert n_strict <= n_loose


def test_assignment_is_zero_shuffle(spark, emb):
    """The per-iteration assignment must not shuffle: its plan contains no
    Exchange (centroids ride as a constant-folded literal)."""
    q = emb.select("vec_id", cl.quantize_grid("embedding").alias("xq"))
    cents = [[0] * 64 for _ in range(K)]
    plan = cl._assign(q, cents, "vec_id")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_mmr_greedy_matches_numpy_replay(spark, emb):
    """Selection order equals an independent numpy replay of the greedy
    rule: argmax(rel - max dot to selected), id tie-break."""
    M = 6
    rows = cl.mmr_select(emb, m=M).collect()
    assert [r["step"] for r in rows] == list(range(1, M + 1))
    assert len({r["vec_id"] for r in rows}) == M

    pdf = emb.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy()
    xq = np.floor(
        np.stack(pdf["embedding"].to_numpy()).astype(np.float64) * cl.GRID + 0.5
    ).astype(np.int64)
    n = xq.shape[0]
    g = np.floor(xq.sum(axis=0) / n + 0.5).astype(np.int64)
    rel = xq @ g

    order = np.lexsort((ids,))  # stable id ordering for tie-breaks
    selected = []
    for _ in range(M):
        best = None
        for i in order:
            if i in selected:
                continue
            pen = max((int(xq[i] @ xq[j]) for j in selected), default=0)
            score = int(rel[i]) - pen
            key = (-score, int(ids[i]))
            if best is None or key < best[0]:
                best = (key, i, pen)
        selected.append(best[1])
    expect = [(t + 1, int(ids[i])) for t, i in enumerate(selected)]
    assert [(r["step"], r["vec_id"]) for r in rows] == expect


def test_pq_codes_shape_and_determinism(spark):
    """PQ encoding: one code per subspace, every code < ksub, identical
    vectors get identical codes, and train+encode is a pure function of
    the data (two runs agree)."""
    from nonconsumptive_spark.operators.similarity import pq_encode, pq_train
    from nonconsumptive_spark.queries import load
    from tests.conftest import SF_SMALL

    emb = load(spark, SF_SMALL, "embeddings")
    books = pq_train(emb, m=2, ksub=4, n_iter=1, dim=64)
    assert len(books) == 2 and all(len(b) == 4 for b in books)
    assert all(len(c) == 32 for b in books for c in b)
    codes = {r["vec_id"]: list(r["codes"])
             for r in pq_encode(emb, books).collect()}
    assert all(len(c) == 2 and all(0 <= x < 4 for x in c)
               for c in codes.values())
    books2 = pq_train(emb, m=2, ksub=4, n_iter=1, dim=64)
    assert books == books2


def test_pq_adc_prefers_true_neighbors(spark):
    """ADC ranking sanity: on well-separated synthetic clusters, every
    query's top-1 ADC neighbor comes from the query's own cluster."""
    from nonconsumptive_spark.operators.similarity import knn_pq_adc

    # two tight clusters far apart in both subspaces
    rows = []
    for i in range(8):
        base = 10.0 if i < 4 else -10.0
        rows.append((i, [base + 0.01 * i] * 64))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = emb.filter("vec_id IN (0, 4)")
    out = knn_pq_adc(emb, queries, k=3, m=2, ksub=2, n_iter=2, dim=64)
    top1 = {r["query_id"]: r["neighbor_id"]
            for r in out.collect() if r["rank"] == 1}
    assert top1[0] in {1, 2, 3}
    assert top1[4] in {5, 6, 7}


def test_shared_lloyd_result_identity(spark):
    """The session-shared quantized frame + centroid cache (r9) is
    result-identical to a fresh build: same assignment rows cached vs
    cleared, and the cached centroids are reused across consumers of
    the same (corpus, k, n_iter, grid)."""
    from nonconsumptive_spark.plans.ranker_cache import (
        _CACHE, clear_session_cache)
    from nonconsumptive_spark.queries import load

    def n_cents():
        return sum(tag == "km_cents" for _, tag, _ in _CACHE)

    emb = load(spark, SF_SMALL, "embeddings")
    clear_session_cache()
    fresh = sorted(map(tuple,
                       cl.kmeans(emb, k=4, n_iter=3).collect()))
    assert n_cents() == 1  # centroids cached under the stat key
    cached = sorted(map(tuple,
                        cl.kmeans(emb, k=4, n_iter=3).collect()))
    assert cached == fresh
    assert n_cents() == 1  # second run was a hit, not a new entry
    # a different k is a different key — no stale reuse
    cl.kmeans(emb, k=3, n_iter=3).collect()
    assert n_cents() == 2
    clear_session_cache()
