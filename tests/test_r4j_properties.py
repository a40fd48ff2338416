"""Property tests for the round-4j operators: each one's defining
mathematical identity checked against plain-Python brute force on random
inputs (the repo's hypothesis discipline — SURVEY §5)."""

from __future__ import annotations

import pytest

import datetime as dt
import math
from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

from nonconsumptive_spark.queries import all_queries

REGISTRY = all_queries()

# ---------------------------------------------------------------------------
# CUSUM: the closed form cum - min(0, running_min(cum)) IS the recurrence
# s_i = max(0, s_{i-1} + y_i)  (and mirrored for the negative side)
# ---------------------------------------------------------------------------


@given(st.lists(st.integers(min_value=0, max_value=50),
                min_size=1, max_size=60))
@settings(max_examples=200, deadline=None)
def test_cusum_closed_form_equals_recurrence(counts):
    n, s = len(counts), sum(counts)
    ys = [n * c - s for c in counts]
    sp = sn = cum = rmin = rmax = 0
    for y in ys:
        cum += y
        rmin, rmax = min(rmin, cum), max(rmax, cum)
        sp = max(0, sp + y)
        sn = max(0, sn - y)
        assert cum - min(0, rmin) == sp
        assert max(0, rmax) - cum == sn


def test_cusum_spark_matches_python_recurrence(spark):
    from nonconsumptive_spark.streaming.cusum import cusum_series

    counts = [3, 9, 0, 4, 8, 8, 1, 2]
    days = [dt.date(2024, 2, 1) + dt.timedelta(days=i)
            for i in range(len(counts))]
    got = {r["d"]: (r["cusum_pos"], r["cusum_neg"])
           for r in cusum_series(
               spark.createDataFrame(list(zip(days, counts)),
                                     "d date, c long"),
               7, 2, 100).collect()}
    sp = sn = 0
    for d, c in zip(days, counts):
        y = 2 * c - 7
        sp, sn = max(0, sp + y), max(0, sn - y)
        assert got[d] == (sp, sn)


# ---------------------------------------------------------------------------
# Kaplan-Meier: the quantized survival matches the textbook product
# estimator within quantization error
# ---------------------------------------------------------------------------


def test_kaplan_meier_matches_product_estimator(spark, duck):
    fn = REGISTRY["q_kaplan_meier"].spark_fn
    rows = sorted((r["dur"], r) for r in
                  fn(spark, "/root/testdata/sf0.001").collect())
    surv = 1.0
    n_prev = None
    for _, r in rows:
        if n_prev is not None:
            assert r["n_risk"] < n_prev  # risk set strictly shrinks
        n_prev = r["n_risk"]
        if r["n_event"] < r["n_risk"]:
            surv *= (r["n_risk"] - r["n_event"]) / r["n_risk"]
        else:
            surv = 0.0
        assert abs(r["survival"] - surv) < 1e-5, (r, surv)


# ---------------------------------------------------------------------------
# SpaceSaving: guarantees hold on RANDOM epoch streams
# ---------------------------------------------------------------------------


@given(st.lists(st.lists(st.sampled_from("abcdefghij"),
                         min_size=1, max_size=40),
                min_size=1, max_size=4),
       st.integers(min_value=2, max_value=5))
@settings(max_examples=12, deadline=None)
@pytest.mark.sweep  # deep property sweep (>=10s); runs at round close
def test_spacesaving_guarantees_random(spark, tmp_path_factory, epochs, cap):
    from nonconsumptive_spark.streaming.heavyhitters import (
        heavy_hitters,
        merge_heavy_hitters,
    )

    table = str(tmp_path_factory.mktemp("hh") / "t")
    true = Counter()
    for e, toks in enumerate(epochs):
        true.update(toks)
        counts = Counter(toks)
        df = spark.createDataFrame(
            sorted(counts.items()), "token string, count long")
        assert merge_heavy_hitters(df, table, cap=cap, epoch_id=e) is True
    rows = {r["token"]: r for r in heavy_hitters(spark, table).collect()}
    floor = next(iter(rows.values()))["floor"]
    for t, r in rows.items():
        assert true[t] <= r["est"] <= true[t] + r["err"]
    for t, c in true.items():
        if c > floor:
            assert t in rows


# ---------------------------------------------------------------------------
# Label propagation: Spark result == plain-Python synchronous LPA
# ---------------------------------------------------------------------------


@given(st.lists(
    st.tuples(st.integers(0, 8), st.integers(0, 8)),
    min_size=1, max_size=24))
@settings(max_examples=15, deadline=None)
@pytest.mark.sweep  # deep property sweep (>=10s); runs at round close
def test_label_propagation_matches_python(spark, edges):
    from nonconsumptive_spark.operators.graph import label_propagation

    edges = [(f"n{a}", f"n{b}") for a, b in edges]
    und: dict[str, set] = {}
    for a, b in edges:
        if a == b:
            continue
        und.setdefault(a, set()).add(b)
        und.setdefault(b, set()).add(a)
    nodes = sorted({x for e in edges for x in e})
    labels = {v: v for v in nodes}
    for _ in range(4):
        nxt = {}
        for v in nodes:
            votes = Counter(labels[u] for u in und.get(v, ()))
            if votes:
                best = max(votes.values())
                nxt[v] = min(l for l, c in votes.items() if c == best)
            else:
                nxt[v] = labels[v]
        labels = nxt
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["label"]
           for r in label_propagation(df, n_iter=4).collect()}
    assert got == labels


# ---------------------------------------------------------------------------
# Power iteration: unit vector, and Pythagoras for the decomposition
# ---------------------------------------------------------------------------


def test_top_component_is_unit_and_decomposition_pythagorean(spark):
    from nonconsumptive_spark.operators.similarity import (
        remove_top_component,
        top_principal_component,
    )
    from nonconsumptive_spark.queries import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    v = [r["loading"] for r in
         top_principal_component(emb).orderBy("dim").collect()]
    assert abs(sum(x * x for x in v) - 1.0) < 1e-4
    dec = remove_top_component(emb).collect()
    xs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    mu = [sum(x[j] for x in xs.values()) / len(xs)
          for j in range(len(v))]
    for r in dec[:50]:
        xc = [a - b for a, b in zip(xs[r["vec_id"]], mu)]
        norm2 = sum(c * c for c in xc)
        assert (r["proj"] ** 2 + r["resid_norm"] ** 2
                - norm2) < 1e-2 + norm2 * 1e-3


# ---------------------------------------------------------------------------
# HITS: scores in (0, 1], the max-normalized fixed point's range
# ---------------------------------------------------------------------------


def test_hits_range_and_peaks(spark):
    from nonconsumptive_spark.operators.graph import bigram_edges, hits_scores
    from nonconsumptive_spark.queries import load

    rows = hits_scores(
        bigram_edges(load(spark, "/root/testdata/sf0.001", "documents"))
    ).collect()
    assert rows
    assert all(0.0 <= r["hub"] <= 1.0 and 0.0 <= r["authority"] <= 1.0
               for r in rows)
    assert max(r["hub"] for r in rows) == 1.0
    assert max(r["authority"] for r in rows) == 1.0


# ---------------------------------------------------------------------------
# Stationary distribution: a probability vector (teleport floor, sums ~1)
# ---------------------------------------------------------------------------


def test_stationary_is_distribution(spark):
    from nonconsumptive_spark.operators.markov import (
        stationary_distribution,
    )
    from nonconsumptive_spark.operators.wordcount import ngram_counts
    from nonconsumptive_spark.queries import load

    rows = stationary_distribution(
        ngram_counts(load(spark, "/root/testdata/sf0.001", "documents"), 2)
    ).collect()
    n = len(rows)
    assert n > 0
    floor = 0.15 / n
    assert all(r["pi"] >= floor * 0.999 for r in rows)
    # mass sums to ~1 minus the dangling leak (no dangling redistribution,
    # the pagerank convention)
    assert 0.7 < sum(r["pi"] for r in rows) <= 1.0 + 1e-6


# ---------------------------------------------------------------------------
# Degenerate inputs: empty / self-loop / zero-variance stay well-defined
# ---------------------------------------------------------------------------


@pytest.mark.sweep  # deep property sweep (>=10s); runs at round close
def test_degenerate_inputs_are_well_defined(spark):
    from nonconsumptive_spark.operators.graph import (
        hits_scores,
        label_propagation,
    )
    from nonconsumptive_spark.operators.markov import stationary_distribution
    from nonconsumptive_spark.operators.similarity import (
        top_principal_component,
    )

    empty_edges = spark.createDataFrame([], "src string, dst string")
    assert label_propagation(empty_edges).count() == 0
    assert hits_scores(empty_edges).count() == 0
    assert stationary_distribution(
        spark.createDataFrame([], "w0 string, w1 string, count long")
    ).count() == 0
    # a self-loop-only graph: the node keeps its own label / unit scores
    selfloop = spark.createDataFrame([("a", "a")], "src string, dst string")
    assert label_propagation(selfloop).collect()[0]["label"] == "a"
    # zero-variance cloud: the component is the deterministic zero vector
    one = spark.createDataFrame([(0, [1.0] * 4)],
                                "vec_id long, embedding array<float>")
    vals = [r["loading"] for r in top_principal_component(one, dim=4).collect()]
    assert vals == [0.0, 0.0, 0.0, 0.0]
    assert top_principal_component(
        spark.createDataFrame([], "vec_id long, embedding array<float>"),
        dim=4).count() == 0


# ---------------------------------------------------------------------------
# Lexical cohesion: Spark gaps == plain-Python TextTiling on random docs
# ---------------------------------------------------------------------------


@given(st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]),
             min_size=0, max_size=100),
    min_size=1, max_size=6))
@settings(max_examples=10, deadline=None)
def test_lexical_cohesion_matches_python(spark, docs):
    from nonconsumptive_spark.operators.textstats import (
        TILE_SCALE,
        TILE_W,
        lexical_cohesion_gaps,
    )

    w = TILE_W

    def brute(toks):
        if len(toks) < 2 * w:
            return []
        n_gaps = int(len(toks) / w - 1)
        out = []
        for i in range(1, n_gaps + 1):
            a = toks[(i - 1) * w: i * w]
            b = toks[i * w: (i + 1) * w]
            dot = sum(a.count(t) * b.count(t) for t in set(a) | set(b))
            na2 = sum(a.count(t) ** 2 for t in set(a))
            nb2 = sum(b.count(t) ** 2 for t in set(b))
            q = (dot * dot * TILE_SCALE) // (na2 * nb2) if na2 * nb2 else 0
            out.append((i, q))
        return out

    expected = {}
    for d, toks in enumerate(docs):
        gaps = brute(toks)
        for j, (i, q) in enumerate(gaps):
            boundary = (0 < j < len(gaps) - 1
                        and q < gaps[j - 1][1] and q < gaps[j + 1][1])
            expected[(d, i)] = (q, boundary)
    df = spark.createDataFrame(
        [(d, " ".join(toks)) for d, toks in enumerate(docs)],
        "doc_id long, text string")
    got = {(r["doc_id"], r["gap_idx"]): (r["cos2_q"], r["is_boundary"])
           for r in lexical_cohesion_gaps(df).collect()}
    assert got == expected
