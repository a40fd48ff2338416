"""Property tests for the round-4k operators (evaluation / link
prediction / anomalies): each operator's defining identity checked
against plain-Python brute force on random inputs, plus the
cross-engine contracts the oracles rely on (the repo's hypothesis
discipline — SURVEY §5)."""

from __future__ import annotations

import math
import random
from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

from nonconsumptive_spark.queries import all_queries

REGISTRY = all_queries()

# ---------------------------------------------------------------------------
# Jaro-Winkler: the Python kernel the pandas UDF runs must equal DuckDB's
# builtin BIT-FOR-BIT (that is the whole oracle contract).
# ---------------------------------------------------------------------------


@given(st.text(alphabet="abcde fg", max_size=24),
       st.text(alphabet="abcde fg", max_size=24))
@settings(max_examples=300, deadline=None)
def test_jaro_winkler_matches_duckdb_bitwise(duck, a, b):
    from nonconsumptive_spark.operators.linkage import _jaro_winkler_py

    want = duck.execute(
        "SELECT jaro_winkler_similarity(?, ?)", [a, b]).fetchone()[0]
    assert _jaro_winkler_py(a, b) == want


def test_jaro_winkler_bounds_and_symmetry():
    from nonconsumptive_spark.operators.linkage import _jaro_winkler_py

    rng = random.Random(11)
    for _ in range(200):
        a = "".join(rng.choice("abcd") for _ in range(rng.randint(0, 12)))
        b = "".join(rng.choice("abcd") for _ in range(rng.randint(0, 12)))
        s = _jaro_winkler_py(a, b)
        assert 0.0 <= s <= 1.0
        assert s == _jaro_winkler_py(b, a)
    assert _jaro_winkler_py("same", "same") == 1.0


# ---------------------------------------------------------------------------
# AUC: the exact-integer midrank formulation equals the pairwise
# definition P(s_pos > s_neg) + 0.5 * P(s_pos == s_neg)
# ---------------------------------------------------------------------------


def _brute_auc(pos, neg):
    wins = sum((p > n) + 0.5 * (p == n) for p in pos for n in neg)
    return wins / (len(pos) * len(neg))


def test_auc_matches_pairwise_definition(spark):
    from nonconsumptive_spark.operators.evaluation import auc_one_vs_rest

    rng = random.Random(3)
    rows = [(rng.randint(0, 2), round(rng.uniform(-1, 1), 3))
            for _ in range(120)]
    got = {r["label"]: r["auc"]
           for r in auc_one_vs_rest(
               spark.createDataFrame(rows, "label int, score double")
           ).collect()}
    for cls in (0, 1, 2):
        pos = [s for l, s in rows if l == cls]
        neg = [s for l, s in rows if l != cls]
        assert abs(got[cls] - _brute_auc(pos, neg)) < 1e-6, cls


def test_auc_perfect_and_random_separation(spark):
    from nonconsumptive_spark.operators.evaluation import auc_one_vs_rest

    rows = [(1, float(i) + 100.0) for i in range(20)] + \
           [(0, float(i)) for i in range(20)]
    got = {r["label"]: r["auc"]
           for r in auc_one_vs_rest(
               spark.createDataFrame(rows, "label int, score double")
           ).collect()}
    assert got[1] == 1.0
    assert got[0] == 0.0


# ---------------------------------------------------------------------------
# k-core: Spark's fixed-round peel reaches the unique k-core fixpoint
# (brute peel-until-stable in Python) on random sparse graphs
# ---------------------------------------------------------------------------


def _brute_kcore(edges, k):
    adj = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for n in [n for n, nb in adj.items() if len(nb) < k]:
            for m in adj.pop(n):
                adj[m].discard(n)
            changed = True
    return {n: len(nb) for n, nb in adj.items() if nb}


def test_kcore_matches_brute_fixpoint(spark):
    from nonconsumptive_spark.operators.graph import kcore

    rng = random.Random(7)
    edges = list({(f"n{rng.randint(0, 25)}", f"n{rng.randint(0, 25)}")
                  for _ in range(70)})
    got = {r["node"]: r["core_deg"]
           for r in kcore(spark.createDataFrame(edges, "src string, dst string"),
                          k=3, n_rounds=10).collect()}
    assert got == _brute_kcore(edges, 3)


# ---------------------------------------------------------------------------
# Adamic-Adar: equals the brute definition (shared-neighbor weight sum
# over non-adjacent pairs) under the same degree cap / min_common /
# literal weight table
# ---------------------------------------------------------------------------


def test_adamic_adar_matches_brute(spark):
    from nonconsumptive_spark.operators.graph import (
        AA_SCALE, adamic_adar)

    rng = random.Random(5)
    edges = list({(f"n{rng.randint(0, 15)}", f"n{rng.randint(0, 15)}")
                  for _ in range(45)})
    got = {(r["node_a"], r["node_b"]): (r["common_neighbors"], r["aa_score"])
           for r in adamic_adar(
               spark.createDataFrame(edges, "src string, dst string"),
               max_middle_deg=50, min_common=2).collect()}

    adj = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    want = {}
    nodes = sorted(adj)
    for i, x in enumerate(nodes):
        for y in nodes[i + 1:]:
            if y in adj[x]:
                continue
            common = [m for m in adj[x] & adj[y] if 2 <= len(adj[m]) <= 50]
            if len(common) >= 2:
                ws = sum(int(round(AA_SCALE / math.log(len(adj[m]))))
                         for m in common)
                want[(x, y)] = (len(common), round(ws / AA_SCALE, 6))
    assert got == want


# ---------------------------------------------------------------------------
# EWMA: the grouped-map recurrence equals the plain-Python recurrence,
# and the spike flag fires exactly where |v - prev_ewma| exceeds the
# threshold
# ---------------------------------------------------------------------------


def test_ewma_matches_python_recurrence(spark):
    import datetime as dt

    from nonconsumptive_spark.operators.grouped import (
        EWMA_ALPHA, ewma_anomalies)

    rng = random.Random(13)
    rows = []
    for uid in (1, 2):
        for i in range(40):
            rows.append((uid * 1000 + i, uid,
                         dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i),
                         round(rng.uniform(0, 200), 2)))
    got = {r["event_id"]: (r["ewma"], r["is_spike"])
           for r in ewma_anomalies(
               spark.createDataFrame(
                   rows, "event_id long, user_id long, ts timestamp, "
                         "value double")).collect()}
    for uid in (1, 2):
        acc = None
        for i in range(40):
            eid = uid * 1000 + i
            v = rows[[r[0] for r in rows].index(eid)][3]
            spike = acc is not None and abs(v - acc) > 50.0
            acc = v if acc is None else EWMA_ALPHA * v + 0.75 * acc
            want = math.floor(acc * 1_000_000 + 0.5) / 1_000_000
            assert got[eid] == (want, spike), eid


# ---------------------------------------------------------------------------
# BLEU-lite: Spark pair scores equal plain-Python clipped-precision BLEU
# ---------------------------------------------------------------------------


def _brute_bleu(ref, cand):
    r1, c1 = Counter(ref), Counter(cand)
    r2 = Counter(zip(ref, ref[1:]))
    c2 = Counter(zip(cand, cand[1:]))
    clip1 = sum(min(c, r1[g]) for g, c in c1.items())
    clip2 = sum(min(c, r2[g]) for g, c in c2.items())
    l1a, l1b, l2b = len(ref), len(cand), max(len(cand) - 1, 0)
    p1 = clip1 / l1b if l1b else 0.0
    p2 = clip2 / l2b if l2b else 0.0
    if not (l1a and l1b and l2b and clip1 and clip2):
        bleu = 0.0
    else:
        bleu = round(min(1.0, l1b / l1a) * math.sqrt(p1 * p2), 6)
    return (round(p1, 6), round(p2, 6), bleu)


def test_bleu_pairs_matches_brute(spark):
    from nonconsumptive_spark.operators.evaluation import bleu_pairs

    texts = {
        0: "the quick brown fox jumps over the lazy dog",
        37: "the quick brown fox leaps over a lazy dog today",
        74: "completely different words entirely here",
        111: "the quick brown fox jumps over the lazy dog",
    }
    rows = [(i, t, "en") for i, t in texts.items()]
    got = {(r["doc_a"], r["doc_b"]): (r["p1"], r["p2"], r["bleu2"])
           for r in bleu_pairs(
               spark.createDataFrame(
                   rows, "doc_id long, text string, lang string")).collect()}
    ids = sorted(texts)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            want[(a, b)] = _brute_bleu(texts[a].split(), texts[b].split())
    assert got == want
    assert got[(0, 111)] == (1.0, 1.0, 1.0)  # identical docs
    assert got[(0, 74)][2] == 0.0            # disjoint docs


# ---------------------------------------------------------------------------
# Benford: chi2 equals the brute computation with the shared literal
# expectations; digit extraction is integer-exact
# ---------------------------------------------------------------------------


def test_benford_matches_brute(spark):
    from nonconsumptive_spark.operators.evaluation import (
        BENFORD_P, CHI2_SCALE, benford_deviation)

    rng = random.Random(23)
    rows = [("a", round(math.exp(rng.uniform(0, 8)), 2))
            for _ in range(300)] + \
           [("b", float(rng.randint(50, 59)) + 0.01) for _ in range(100)]
    got = {r["grp"]: (r["n"], r["chi2"])
           for r in benford_deviation(
               spark.createDataFrame(rows, "grp string, value double"),
               group_col="grp").collect()}
    for grp in ("a", "b"):
        vals = [v for g, v in rows if g == grp]
        digs = [int(str(int(math.floor(v * 100 + 0.5)))[0]) for v in vals
                if math.floor(v * 100 + 0.5) >= 1]
        n = len(digs)
        cnt = Counter(digs)
        chi2 = sum(
            int(math.floor((cnt.get(d, 0) - n * p) ** 2 / (n * p)
                           * CHI2_SCALE + 0.5))
            for d, p in BENFORD_P.items()) / CHI2_SCALE
        assert got[grp] == (n, round(chi2, 6)), grp
    # log-uniform data hugs Benford; constant-leading-digit data does not
    assert got["a"][1] < got["b"][1]


# ---------------------------------------------------------------------------
# Leakage-safe split: near-dup cluster members NEVER straddle splits
# ---------------------------------------------------------------------------


def test_leakage_safe_split_keeps_clusters_together(spark):
    fn = REGISTRY["q_leakage_safe_split"].spark_fn
    rows = fn(spark, "/root/testdata/sf0.001").collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())
    assert any(len([r for r in rows if r["cluster"] == c]) > 1
               for c in by_cluster)  # fixture really has clusters


# ---------------------------------------------------------------------------
# MRR / MAP: the quantized per-query aggregation equals brute recomputation
# from the two collected rankings
# ---------------------------------------------------------------------------


def test_mrr_map_matches_brute(spark):
    from nonconsumptive_spark.operators.hybrid import (
        LEX_TOP, NDCG_K, SEM_TOP, lexical_topn, mrr_map_eval)
    from nonconsumptive_spark.operators.similarity import knn_bruteforce
    from nonconsumptive_spark.queries import load
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    docs, emb = load(spark, sf, "documents"), load(spark, sf, "embeddings")
    got = {r["query_id"]: r
           for r in mrr_map_eval(docs, emb, n_queries=5).collect()}

    lex = lexical_topn(docs, 5, LEX_TOP).collect()
    rel_rows = knn_bruteforce(
        emb, emb.filter(F.col("vec_id") < 5), k=SEM_TOP).collect()
    rel = {}
    for r in rel_rows:
        rel.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for q in range(5):
        ranked = sorted([r for r in lex
                         if r["query_id"] == q and r["lex_rank"] <= NDCG_K],
                        key=lambda r: r["lex_rank"])
        hits, ap_q, first = 0, 0, None
        for r in ranked:
            if r["cand_id"] in rel[q]:
                hits += 1
                first = first or r["lex_rank"]
                ap_q += math.floor(1e9 * hits / r["lex_rank"] + 0.5)
        g = got[q]
        assert g["n_rel"] == len(rel[q])
        assert g["first_rel"] == first
        assert g["hits_at_k"] == hits
        if first is None:
            assert g["rr"] is None and g["ap"] == 0.0
        else:
            assert g["rr"] == round(1.0 / first, 6)
            assert g["ap"] == round((ap_q / 1e9) / min(len(rel[q]), NDCG_K), 6)


# ---------------------------------------------------------------------------
# Calibration bins: brute recomputation, and a perfectly-calibrated
# degenerate case
# ---------------------------------------------------------------------------


def test_calibration_bins_matches_brute(spark):
    from nonconsumptive_spark.operators.evaluation import (
        CAL_SCALE, calibration_bins)

    rng = random.Random(29)
    rows = [(rng.randint(0, 1), round(rng.uniform(-1.4, 1.4), 3))
            for _ in range(200)]
    got = {r["bin"]: r for r in calibration_bins(
        spark.createDataFrame(rows, "label int, score double"),
        pos_value=0).collect()}
    bins = {}
    for lbl, s in rows:
        p = (max(-1.0, min(1.0, s)) + 1.0) / 2.0
        b = min(int(math.floor(p * 10)), 9)
        n, npos, spq = bins.get(b, (0, 0, 0))
        bins[b] = (n + 1, npos + (lbl == 0),
                   spq + math.floor(p * CAL_SCALE + 0.5))
    assert set(got) == set(bins)
    for b, (n, npos, spq) in bins.items():
        g = got[b]
        avg_conf = spq / (n * CAL_SCALE)
        assert (g["n"], g["n_pos"]) == (n, npos)
        assert g["avg_conf"] == round(avg_conf, 6)
        assert g["pos_rate"] == round(npos / n, 6)
        assert g["gap"] == round(abs(avg_conf - npos / n), 6)


# ---------------------------------------------------------------------------
# Good-Turing: total adjusted mass identity on a hand corpus — sum over r
# of N_r * r* telescopes to (total tokens - N_1-mass shift)
# ---------------------------------------------------------------------------


def test_good_turing_on_hand_corpus(spark):
    fn = REGISTRY["q_good_turing"].spark_fn
    rows = {r["r"]: r for r in fn(spark, "/root/testdata/sf0.001").collect()}
    # N_r are positive, r* = (r+1) N_{r+1} / N_r wherever N_{r+1} exists
    for r, row in rows.items():
        if r + 1 in rows:
            assert row["r_star"] == round(
                (r + 1) * rows[r + 1]["n_r"] / row["n_r"], 6)
        else:
            assert row["r_star"] is None


# ---------------------------------------------------------------------------
# AMS F2: estimate equals brute md5-sign recomputation, exact F2 equals
# the sum of squared counts
# ---------------------------------------------------------------------------


def test_ams_f2_matches_brute(spark):
    import hashlib

    from nonconsumptive_spark.operators.wordcount import AMS_R, ams_f2

    texts = ["alpha beta alpha gamma", "beta beta delta", "alpha delta"]
    rows = [(i, t) for i, t in enumerate(texts)]
    got = ams_f2(spark.createDataFrame(
        rows, "doc_id long, text string")).collect()[0]
    cnt = Counter(w for t in texts for w in t.split())
    f2 = sum(c * c for c in cnt.values())
    xs = [0] * AMS_R
    for w, c in cnt.items():
        h = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
        for r in range(AMS_R):
            xs[r] += c * (((h >> r) & 1) * 2 - 1)
    sumsq = sum(x * x for x in xs)
    assert got["f2_exact"] == f2
    assert got["f2_est"] == round(sumsq / AMS_R, 4)
    assert got["rel_err"] == round(abs(sumsq - AMS_R * f2) / (AMS_R * f2), 6)


# ---------------------------------------------------------------------------
# Personalized PageRank: brute replay of the quantized recurrence, plus
# the mass invariants (seeds dominate, total mass <= 1)
# ---------------------------------------------------------------------------


def test_ppr_matches_brute_quantized_replay(spark):
    from nonconsumptive_spark.operators.graph import (
        PPR_DAMPING, PPR_SCALE, personalized_pagerank)

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
             ("c", "d"), ("d", "a"), ("e", "a")]
    seeds = ["a"]
    got = {r["node"]: r["rank"]
           for r in personalized_pagerank(
               spark.createDataFrame(edges, "src string, dst string"),
               seeds=seeds, n_iter=6).collect()}

    teleport = (1.0 - PPR_DAMPING) / len(seeds)
    nodes = sorted({n for e in edges for n in e})
    out = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    rank = {n: (teleport if n in seeds else 0.0) for n in nodes}
    for _ in range(6):
        sq = {n: 0 for n in nodes}
        for s, ds in out.items():
            share = math.floor(
                float(math.floor(rank[s] * PPR_SCALE)) / len(ds))
            for d in ds:
                sq[d] += share
        rank = {n: (teleport if n in seeds else 0.0)
                + PPR_DAMPING * (sq[n] / PPR_SCALE) for n in nodes}
    want = {n: round(r, 9) for n, r in rank.items() if round(r, 9) > 0.0}
    assert got == want
    assert got["a"] >= teleport        # seed keeps its teleport mass
    assert sum(got.values()) <= 1.0 + 1e-9


# ---------------------------------------------------------------------------
# Clustering coefficient: brute wedge closure on a random graph; the
# triangle graph scores cc=1 everywhere
# ---------------------------------------------------------------------------


def test_clustering_coefficient_matches_brute(spark):
    from nonconsumptive_spark.operators.graph import clustering_coefficient

    rng = random.Random(17)
    edges = list({(f"n{rng.randint(0, 12)}", f"n{rng.randint(0, 12)}")
                  for _ in range(40)})
    got = {r["node"]: (r["deg"], r["triangles"], r["cc"])
           for r in clustering_coefficient(
               spark.createDataFrame(edges, "src string, dst string"),
               max_deg=50).collect()}
    adj = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    want = {}
    for v, nb in adj.items():
        if not (2 <= len(nb) <= 50):
            continue
        ns = sorted(nb)
        t = sum(1 for i, x in enumerate(ns) for y in ns[i + 1:]
                if y in adj[x])
        want[v] = (len(nb), t,
                   round(2 * t / (len(nb) * (len(nb) - 1)), 6))
    assert got == want


def test_clustering_coefficient_triangle_is_one(spark):
    from nonconsumptive_spark.operators.graph import clustering_coefficient

    tri = [("x", "y"), ("y", "z"), ("z", "x")]
    got = clustering_coefficient(
        spark.createDataFrame(tri, "src string, dst string")).collect()
    assert {r["cc"] for r in got} == {1.0}


# ---------------------------------------------------------------------------
# RBP: weights are the geometric (1-p) p^(i-1) ladder and the score
# equals brute recomputation from the two rankings
# ---------------------------------------------------------------------------


def test_rbp_matches_brute(spark):
    from nonconsumptive_spark.operators.hybrid import (
        LEX_TOP, NDCG_K, RBP_P, SEM_TOP, lexical_topn, rbp_eval,
        rbp_weights)
    from nonconsumptive_spark.operators.similarity import knn_bruteforce
    from nonconsumptive_spark.queries import load
    from pyspark.sql import functions as F

    wts = rbp_weights(NDCG_K)
    assert wts[0] == round((1 - RBP_P) * 1e9)
    for i in range(1, len(wts)):
        assert abs(wts[i] / wts[i - 1] - RBP_P) < 1e-6

    sf = "/root/testdata/sf0.001"
    docs, emb = load(spark, sf, "documents"), load(spark, sf, "embeddings")
    got = {r["query_id"]: r["rbp"]
           for r in rbp_eval(docs, emb, n_queries=5).collect()}
    lex = lexical_topn(docs, 5, LEX_TOP).collect()
    rel = {}
    for r in knn_bruteforce(emb, emb.filter(F.col("vec_id") < 5),
                            k=SEM_TOP).collect():
        rel.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for q in range(5):
        wq = sum(wts[r["lex_rank"] - 1] for r in lex
                 if r["query_id"] == q and r["lex_rank"] <= NDCG_K
                 and r["cand_id"] in rel[q])
        assert got[q] == round(wq / 1e9, 6)


# ---------------------------------------------------------------------------
# Mann-Kendall + Sen's slope: brute recomputation per type from the
# daily series
# ---------------------------------------------------------------------------


def test_mann_kendall_matches_brute(spark):
    import datetime as dt

    from nonconsumptive_spark.queries.stats import _MK_SCALE

    rng = random.Random(31)
    rows, eid = [], 0
    for typ, drift in (("up", 1.0), ("flat", 0.0)):
        for day in range(12):
            for _ in range(3 + int(drift * day) + rng.randint(0, 1)):
                eid += 1
                rows.append((eid,
                             dt.datetime(2024, 5, 1 + day, 12, 0, 0),
                             1, typ, 1.0, None))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        spark.read.parquet(f"{d}/events.parquet")  # materialize layout
        fn = REGISTRY["q_mann_kendall"].spark_fn
        got = {r["event_type"]: r for r in fn(spark, d).collect()}

    daily = {}
    for _, ts, _, typ, _, _ in rows:
        daily.setdefault(typ, Counter())[ts.date()] += 1
    for typ, cnt in daily.items():
        days = sorted(cnt)
        n = len(days)
        s = sum((cnt[dj] > cnt[di]) - (cnt[dj] < cnt[di])
                for i, di in enumerate(days) for dj in days[i + 1:])
        tie18 = sum(
            t * (t - 1) * (2 * t + 5)
            for t in Counter(cnt[d] for d in days).values() if t > 1)
        var18 = n * (n - 1) * (2 * n + 5) - tie18
        slopes = sorted(
            math.floor(_MK_SCALE * (cnt[dj] - cnt[di])
                       / (dj - di).days + 0.5)
            for i, di in enumerate(days) for dj in days[i + 1:])
        m = len(slopes)
        mids = {slopes[(m + 1) // 2 - 1], slopes[m // 2]}
        med = sum(mids) / len(mids)
        g = got[typ]
        assert (g["n_days"], g["s_stat"], g["var18"]) == (n, s, var18)
        assert g["sen_slope"] == round(med / _MK_SCALE, 6)
        sd = math.sqrt(var18 / 18.0)
        z = 0.0 if s == 0 else (s - 1) / sd if s > 0 else (s + 1) / sd
        assert g["z"] == round(z, 6)
    assert got["up"]["z"] > 1.5        # the drifting series trips the test
    assert abs(got["flat"]["z"]) < 1.5


# ---------------------------------------------------------------------------
# Neyman allocation: brute recomputation; equal-sigma strata reduce to
# proportional allocation
# ---------------------------------------------------------------------------


def test_neyman_allocation_matches_brute(spark):
    from nonconsumptive_spark.queries.stats import (
        _NEY_BUDGET, _NEY_SCALE)

    fn = REGISTRY["q_neyman_allocation"].spark_fn
    got = {r["source"]: r for r in fn(spark,
                                      "/root/testdata/sf0.001").collect()}
    import duckdb
    con = duckdb.connect()
    rows = con.execute(
        "SELECT source, count(*), sum(n_chars), sum(n_chars * n_chars) "
        "FROM '/root/testdata/sf0.001/documents.parquet' GROUP BY source"
    ).fetchall()
    ws = {}
    for s, n, sm, ssq in rows:
        sigma = math.sqrt((n * ssq - sm * sm) / (float(n) * n))
        ws[s] = (n, sigma, math.floor(n * sigma * _NEY_SCALE + 0.5))
    wt = sum(w for _, _, w in ws.values())
    for s, (n, sigma, w) in ws.items():
        g = got[s]
        assert g["n_rows"] == n
        assert g["sigma"] == round(sigma, 6)
        assert g["alloc"] == math.floor(_NEY_BUDGET * w / wt + 0.5)
    # allocations are near-budget (floor rounding can drift by #strata)
    assert abs(sum(g["alloc"] for g in got.values()) - _NEY_BUDGET) <= len(got)


# ---------------------------------------------------------------------------
# Source KL: nonnegative, and a uniform stratum-free corpus gives ~0
# ---------------------------------------------------------------------------


def test_source_kl_invariants(spark):
    from nonconsumptive_spark.operators.textstats import source_kl_divergence
    from nonconsumptive_spark.queries import load

    got = source_kl_divergence(
        load(spark, "/root/testdata/sf0.001", "documents")).collect()
    assert len(got) > 1
    for r in got:
        assert r["kl"] >= -1e-6       # KL >= 0 up to quantization slack
    rows = [(i, "same text every doc", "s%d" % (i % 2)) for i in range(20)]
    zero = source_kl_divergence(
        spark.createDataFrame(rows, "doc_id long, text string, source string")
    ).collect()
    for r in zero:
        assert abs(r["kl"]) < 1e-5    # identical distributions -> KL ~ 0
