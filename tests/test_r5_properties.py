"""Property tests for the round-5 operators (G² collocations, Cohen's d,
permutation test, Holt linear smoothing, gapped sequence support): each
operator's defining identity checked against plain-Python brute force on
random inputs (the repo's hypothesis discipline — SURVEY §5)."""

from __future__ import annotations

import pytest

import datetime as dt
import hashlib
import math
import random
from collections import Counter

from nonconsumptive_spark.queries import all_queries

REGISTRY = all_queries()

# ---------------------------------------------------------------------------
# G²: matches the brute 2x2 log-likelihood-ratio on a constructed corpus,
# and independence pushes G² toward 0
# ---------------------------------------------------------------------------


def _brute_g2(bigrams: Counter, w0: str, w1: str) -> float:
    n = sum(bigrams.values())
    k11 = bigrams[(w0, w1)]
    r = sum(c for (a, _), c in bigrams.items() if a == w0)
    c = sum(c for (_, b), cb in bigrams.items() if b == w1 for c in [cb])
    cells = [
        (k11, r, c),
        (r - k11, r, n - c),
        (c - k11, n - r, c),
        (n - r - c + k11, n - r, n - c),
    ]
    total = 0.0
    for k, row, col in cells:
        t = k * math.log(k * n / (row * col)) if k > 0 else 0.0
        total = total + t
    return round(2.0 * total, 4)


def test_g2_matches_brute(spark):
    from nonconsumptive_spark.operators.wordcount import g2_collocations

    rng = random.Random(31)
    vocab = ["alpha", "beta", "gamma", "delta", "eps"]
    texts = [" ".join(rng.choice(vocab) for _ in range(60))
             for _ in range(12)]
    rows = [(i, t) for i, t in enumerate(texts)]
    got = {(r["w0"], r["w1"]): (r["c2"], r["g2"])
           for r in g2_collocations(
               spark.createDataFrame(rows, "doc_id long, text string"),
               min_count=5).collect()}
    bigrams: Counter = Counter()
    for t in texts:
        toks = t.split()
        bigrams.update(zip(toks, toks[1:]))
    want = {
        (a, b): (cnt, _brute_g2(bigrams, a, b))
        for (a, b), cnt in bigrams.items() if cnt >= 5
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], k
        assert abs(got[k][1] - want[k][1]) < 1e-3, (k, got[k], want[k])


def test_g2_nonnegative_and_zero_under_exact_independence(spark):
    from nonconsumptive_spark.operators.wordcount import g2_collocations

    # a perfectly alternating corpus: every 'a' is followed by 'b' and
    # vice versa — maximal association, large positive G²
    rows = [(0, "a b " * 200)]
    got = {(r["w0"], r["w1"]): r["g2"]
           for r in g2_collocations(
               spark.createDataFrame(rows, "doc_id long, text string"),
               min_count=5).collect()}
    assert got[("a", "b")] > 100.0
    for v in got.values():
        assert v >= -1e-6


# ---------------------------------------------------------------------------
# Cohen's d: matches the textbook pooled-SD formula, sign flips with the
# direction of the mean difference
# ---------------------------------------------------------------------------


def test_cohens_d_matches_brute(spark):
    import tests.conftest as cf

    fn = REGISTRY["q_cohens_d_sources"].spark_fn
    got = {(r["source_a"], r["source_b"]): r
           for r in fn(spark, cf.SF_SMALL).collect()}

    import duckdb
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT source, n_chars FROM "
        f"'{cf.SF_SMALL}/documents.parquet'").fetchall()
    by_src: dict = {}
    for s, x in rows:
        by_src.setdefault(s, []).append(x)
    for (sa, sb), r in list(got.items())[:8]:
        xa, xb = by_src[sa], by_src[sb]
        ma, mb = sum(xa) / len(xa), sum(xb) / len(xb)
        va = sum((v - ma) ** 2 for v in xa) / (len(xa) - 1)
        vb = sum((v - mb) ** 2 for v in xb) / (len(xb) - 1)
        sp = math.sqrt(((len(xa) - 1) * va + (len(xb) - 1) * vb)
                       / (len(xa) + len(xb) - 2))
        d = (ma - mb) / sp
        assert abs(r["cohens_d"] - d) < 1e-4, (sa, sb)
        g = d * (1.0 - 3.0 / (4.0 * (len(xa) + len(xb)) - 9.0))
        assert abs(r["hedges_g"] - g) < 1e-4, (sa, sb)
        assert abs(r["hedges_g"]) <= abs(r["cohens_d"]) + 1e-9


# ---------------------------------------------------------------------------
# Permutation test: brute replay of the seeded reassignment reproduces the
# exact p-value, and p is in (0, 1]
# ---------------------------------------------------------------------------


def test_permutation_test_matches_brute(spark):
    from nonconsumptive_spark.queries.stats import _PERM_R
    import tests.conftest as cf

    fn = REGISTRY["q_permutation_test"].spark_fn
    row = fn(spark, cf.SF_SMALL).collect()[0]
    assert 0.0 < row["p_value"] <= 1.0
    assert row["n_eff"] <= _PERM_R

    import duckdb
    con = duckdb.connect()
    srcs = [s for (s,) in con.execute(
        f"SELECT DISTINCT source FROM '{cf.SF_SMALL}/documents.parquet' "
        f"ORDER BY source LIMIT 2").fetchall()]
    docs = con.execute(
        f"SELECT doc_id, source, coalesce(n_chars, 0) FROM "
        f"'{cf.SF_SMALL}/documents.parquet' WHERE source IN (?, ?)",
        srcs).fetchall()

    def diffq(sa, na, sb, nb):
        if na == 0 or nb == 0:
            return None
        return math.floor(abs(sa / na - sb / nb) * 1_000_000)

    s_a = sum(x for _, s, x in docs if s == srcs[0])
    n_a = sum(1 for _, s, x in docs if s == srcs[0])
    s_t = sum(x for *_, x in docs)
    obs = diffq(s_a, n_a, s_t - s_a, len(docs) - n_a)
    assert row["n_a"] == n_a and row["diff_obs_q"] == obs
    n_ge = n_eff = 0
    for r in range(1, _PERM_R + 1):
        ra = rn = 0
        for doc_id, _, x in docs:
            h = int(hashlib.md5(f"{doc_id}:{r}".encode()).hexdigest()[:15], 16)
            if h % 2 == 0:
                ra += x
                rn += 1
        d = diffq(ra, rn, s_t - ra, len(docs) - rn)
        if d is not None:
            n_eff += 1
            if d >= obs:
                n_ge += 1
    assert row["n_eff"] == n_eff and row["n_ge"] == n_ge
    assert row["p_value"] == round((n_ge + 1) / (n_eff + 1), 6)


# ---------------------------------------------------------------------------
# Holt: the grouped-map fold equals the plain-Python recurrence, and a
# linear series is tracked with vanishing forecast error
# ---------------------------------------------------------------------------


def test_holt_matches_python_recurrence(spark):
    from nonconsumptive_spark.operators.grouped import (
        HOLT_ALPHA, HOLT_BETA, holt_linear_daily)

    rng = random.Random(17)
    rows = []
    counts = {}
    for d in range(25):
        day = dt.datetime(2024, 3, 1) + dt.timedelta(days=d)
        n = rng.randint(1, 30)
        counts[day.strftime("%Y-%m-%d")] = n
        for i in range(n):
            rows.append((d * 1000 + i, day + dt.timedelta(minutes=i)))
    got = {r["day"]: (r["level"], r["trend"], r["forecast_err"])
           for r in holt_linear_daily(
               spark.createDataFrame(rows, "event_id long, ts timestamp")
           ).collect()}
    l = b = None
    for day in sorted(counts):
        x = float(counts[day])
        if l is None:
            l, b, fe = x, 0.0, 0.0
        else:
            f = l + b
            fe = x - f
            l_new = HOLT_ALPHA * x + (1.0 - HOLT_ALPHA) * f
            b = HOLT_BETA * (l_new - l) + (1.0 - HOLT_BETA) * b
            l = l_new
        q = lambda v: math.floor(v * 1_000_000) / 1_000_000
        assert got[day] == (q(l), q(b), q(fe)), day


def test_holt_tracks_linear_series(spark):
    from nonconsumptive_spark.operators.grouped import holt_linear_daily

    rows = []
    for d in range(40):
        day = dt.datetime(2024, 3, 1) + dt.timedelta(days=d)
        for i in range(10 + 2 * d):  # exactly linear growth
            rows.append((d * 1000 + i, day + dt.timedelta(seconds=i)))
    out = sorted(holt_linear_daily(
        spark.createDataFrame(rows, "event_id long, ts timestamp")
    ).collect(), key=lambda r: r["day"])
    # once converged, the trend approaches the true slope (2/day) and the
    # one-step forecast error shrinks
    assert abs(out[-1]["trend"] - 2.0) < 0.2
    assert abs(out[-1]["forecast_err"]) < 1.0


# ---------------------------------------------------------------------------
# Gapped sequence support: brute containment count
# ---------------------------------------------------------------------------


def test_seq_pattern_matches_brute(spark):
    rng = random.Random(23)
    rows = []
    eid = 0
    for uid in range(30):
        for _ in range(rng.randint(1, 12)):
            eid += 1
            rows.append((eid, uid,
                         dt.datetime(2024, 1, 1)
                         + dt.timedelta(minutes=rng.randint(0, 5000)),
                         rng.choice(["a", "b", "c"])))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string")
    fn = REGISTRY["q_seq_pattern_pairs"].spark_fn

    # drive the spark_fn through a temp-dir parquet so load() sees it
    import tempfile
    from pathlib import Path
    tmp = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
    got = {(r["type_a"], r["type_b"]): (r["n_users_both"], r["n_ordered"])
           for r in fn(spark, tmp).collect()}

    per_user: dict = {}
    for _, uid, ts, et in rows:
        per_user.setdefault(uid, []).append((ts, et))
    want: Counter = Counter()
    both: Counter = Counter()
    types = ["a", "b", "c"]
    for uid, evs in per_user.items():
        present = {et for _, et in evs}
        for ta in types:
            for tb in types:
                if ta == tb or ta not in present or tb not in present:
                    continue
                both[(ta, tb)] += 1
                t_min = min(ts for ts, et in evs if et == ta)
                t_max = max(ts for ts, et in evs if et == tb)
                if t_min < t_max:
                    want[(ta, tb)] += 1
    assert got == {k: (both[k], want[k]) for k in both}


# ---------------------------------------------------------------------------
# RM3: weights normalize to ~1, exclude the query terms, and match a brute
# recomputation over the BM25 top-k
# ---------------------------------------------------------------------------


def test_rm3_matches_brute(spark):
    from nonconsumptive_spark.operators.retrieval import (
        RM3_SCALE, bm25_topk, rm3_expansion)
    import tests.conftest as cf
    from nonconsumptive_spark.queries import load as _load

    terms = ["spark", "query", "dup"]
    docs = _load(spark, cf.SF_SMALL, "documents")
    got = rm3_expansion(docs, terms, k=10, m=15).collect()
    assert got, "expansion must be non-empty"
    assert all(r["term"] not in terms for r in got)
    # weights are a normalized sub-distribution of the full candidate set
    assert 0 < sum(r["rm3_weight"] for r in got) <= 1.0 + 1e-6

    top = {r["doc_id"]: r["score"]
           for r in bm25_topk(docs, terms, k=10).collect()}
    texts = {r["doc_id"]: (r["text"] or "")
             for r in docs.filter(docs.doc_id.isin(list(top))).collect()}
    import math
    import re
    from collections import Counter
    w: Counter = Counter()
    nd: Counter = Counter()
    for did, score in top.items():
        toks = [t for t in re.split(r"[^\W\d_]*", texts[did].lower()) if t] \
            if False else [t for t in re.findall(r"[^\W\d_]+",
                                                 texts[did].lower()) if t]
        if not toks:
            continue
        tf = Counter(toks)
        for t, c in tf.items():
            w[t] += math.floor(c / len(toks) * score * RM3_SCALE)
            nd[t] += 1
    for t in terms:
        w.pop(t, None)
        nd.pop(t, None)
    total = sum(w.values())
    want = sorted(w.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    got_map = {r["term"]: (r["n_docs"], r["rm3_weight"]) for r in got}
    assert set(got_map) == {t for t, _ in want}
    for t, wt in want:
        assert got_map[t] == (nd[t], round(wt / total, 6)), t


# ---------------------------------------------------------------------------
# Gunning fog: brute recomputation, and complex-word monotonicity
# ---------------------------------------------------------------------------


def test_gunning_fog_matches_brute(spark):
    import re
    import tempfile

    rows = [
        (0, "Short words here. More tiny text now!"),
        (1, "Extraordinary considerations necessitate comprehensive "
            "documentation. Plain bit."),
        (2, None),
        (3, "noPunctuationAtAll just words meandering indefinitely"),
    ]
    tmp = tempfile.mkdtemp()
    spark.createDataFrame(rows, "doc_id long, text string") \
        .coalesce(1).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    fn = REGISTRY["q_gunning_fog"].spark_fn
    got = {r["doc_id"]: r for r in fn(spark, tmp).collect()}
    for did, text in rows:
        t = (text or "")
        words = re.findall(r"[^\W\d_]+", t.lower())
        sentences = max(1, len(re.findall(r"[.!?]+", t)))
        def syl(word):
            return len(re.findall(r"[aeiouy]+", word))
        complex_w = sum(1 for w in words if syl(w) >= 3)
        r = got[did]
        assert r["n_words"] == len(words)
        assert r["n_sentences"] == sentences
        assert r["n_complex"] == complex_w
        if words:
            fog = round(0.4 * (len(words) / sentences
                               + 100.0 * complex_w / len(words)), 3)
            assert abs(r["fog"] - fog) < 1e-9
        else:
            assert r["fog"] is None


# ---------------------------------------------------------------------------
# Grubbs: the flagged row is the true arg-max deviation, and g matches the
# brute max |x - mean| / sd
# ---------------------------------------------------------------------------


def test_grubbs_matches_brute(spark):
    import statistics
    import tests.conftest as cf

    fn = REGISTRY["q_grubbs_outlier"].spark_fn
    got = {r["source"]: r for r in fn(spark, cf.SF_SMALL).collect()}

    import duckdb
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT source, doc_id, n_chars FROM "
        f"'{cf.SF_SMALL}/documents.parquet'").fetchall()
    by_src: dict = {}
    for s, d, x in rows:
        by_src.setdefault(s, []).append((d, x))
    for s, items in list(by_src.items())[:6]:
        xs = [x for _, x in items]
        m = sum(xs) / len(xs)
        sd = statistics.stdev(xs)
        best = max(items, key=lambda dx: (abs(dx[1] * len(xs) - sum(xs)),
                                          -dx[0]))
        g = abs(best[1] - m) / sd
        r = got[s]
        assert r["doc_id"] == best[0], s
        assert abs(r["g_stat"] - g) < 1e-4, s


# ---------------------------------------------------------------------------
# Keyness: matches brute per-source 2x2 G2 with the overuse direction
# decided by exact cross-multiplication
# ---------------------------------------------------------------------------


def test_keyness_matches_brute(spark):
    from nonconsumptive_spark.operators.wordcount import keyness_terms

    rng = random.Random(37)
    vocab = ["red", "blue", "green", "onlyina", "common"]
    rows = []
    for i in range(40):
        src = "A" if i % 2 == 0 else "B"
        words = [rng.choice(vocab[:3]) for _ in range(30)] + ["common"] * 5
        if src == "A":
            words += ["onlyina"] * 6
        rows.append((i, " ".join(words), src))
    got = {(r["source"], r["token"]): (r["c"], r["g2"], r["overused"])
           for r in keyness_terms(
               spark.createDataFrame(
                   rows, "doc_id long, text string, source string"),
               min_count=5, top_k=3).collect()}

    cells: Counter = Counter()
    for _, text, src in rows:
        for w in text.split():
            cells[(src, w)] += 1
    n = sum(cells.values())
    r_tot = Counter()
    c_tot = Counter()
    for (s, w), c in cells.items():
        r_tot[s] += c
        c_tot[w] += c

    def g2(c, r, ct):
        parts = [(c, r, ct), (r - c, r, n - ct),
                 (ct - c, n - r, ct), (n - r - ct + c, n - r, n - ct)]
        tot = 0.0
        for k, row, col in parts:
            tot += k * math.log(k * n / (row * col)) if k > 0 else 0.0
        return round(2.0 * tot, 4)

    want = {}
    for s in ("A", "B"):
        scored = [(w, c, g2(c, r_tot[s], c_tot[w]),
                   c * (n - r_tot[s]) > (c_tot[w] - c) * r_tot[s])
                  for (ss, w), c in cells.items() if ss == s and c >= 5]
        scored.sort(key=lambda t: (-t[2], t[0]))
        for w, c, g, over in scored[:3]:
            want[(s, w)] = (c, g, over)
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], k
        assert abs(got[k][1] - want[k][1]) < 1e-3, k
        assert got[k][2] == want[k][2], k
    # the planted marker must top source A's list and be overused there
    assert ("A", "onlyina") in got and got[("A", "onlyina")][2] is True


# ---------------------------------------------------------------------------
# Skew report: brute recomputation of max/p99/skew-factor
# ---------------------------------------------------------------------------


def test_skew_report_matches_brute(spark):
    import tests.conftest as cf

    fn = REGISTRY["q_skew_report"].spark_fn
    row = fn(spark, cf.SF_SMALL).collect()[0]

    import duckdb
    con = duckdb.connect()
    counts = dict(con.execute(
        f"SELECT user_id, count(*) FROM "
        f"'{cf.SF_SMALL}/events.parquet' GROUP BY user_id").fetchall())
    n_rows = sum(counts.values())
    n_keys = len(counts)
    max_rows = max(counts.values())
    hot = min(u for u, c in counts.items() if c == max_rows)
    srt = sorted(counts.values())
    cut = (99 * n_keys + 99) // 100
    p99 = srt[cut - 1]
    assert row["n_rows"] == n_rows and row["n_keys"] == n_keys
    assert row["hot_key"] == hot and row["max_rows"] == max_rows
    assert row["p99_rows"] == p99
    assert row["skew_factor"] == round(max_rows * n_keys / n_rows, 4)


# ---------------------------------------------------------------------------
# Zeta: matches brute presence-rate difference; planted markers surface
# ---------------------------------------------------------------------------


def test_zeta_matches_brute(spark):
    from nonconsumptive_spark.queries.textstats import (
        _ZETA_MIN_DF, _ZETA_TOPK)
    import re
    import tempfile

    rng = random.Random(41)
    rows = []
    for i in range(60):
        src = "aaa" if i % 2 == 0 else "bbb"
        words = [rng.choice(["x", "y", "z", "w"]) for _ in range(20)]
        if src == "aaa" and rng.random() < 0.9:
            words.append("amarker")
        if src == "bbb" and rng.random() < 0.9:
            words.append("bmarker")
        rows.append((i, " ".join(words), src, len(" ".join(words))))
    tmp = tempfile.mkdtemp()
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    fn = REGISTRY["q_zeta_markers"].spark_fn
    got = {(r["side"], r["token"]): (r["df_a"], r["df_b"], r["zeta"])
           for r in fn(spark, tmp).collect()}

    pres: Counter = Counter()
    na = nb = 0
    for _, text, src, _n in rows:
        toks = set(re.findall(r"[^\W\d_]+", text))
        if src == "aaa":
            na += 1
        else:
            nb += 1
        for t in toks:
            pres[(src, t)] += 1
    scored = []
    for t in {w for (_, w) in pres}:
        da, db = pres[("aaa", t)], pres[("bbb", t)]
        if da + db >= _ZETA_MIN_DF:
            scored.append((t, da, db, da * nb - db * na))
    top_a = sorted(scored, key=lambda s: (-s[3], s[0]))[:_ZETA_TOPK]
    top_b = sorted(scored, key=lambda s: (s[3], s[0]))[:_ZETA_TOPK]
    for side, rows_w in (("A", top_a), ("B", top_b)):
        for t, da, db, zq in rows_w:
            assert got[(side, t)] == (da, db, round(zq / (na * nb), 6)), t
    assert ("A", "amarker") in got and ("B", "bmarker") in got


# ---------------------------------------------------------------------------
# FK integrity: planted orphans are counted exactly
# ---------------------------------------------------------------------------


def test_fk_integrity_counts_planted_orphans(spark):
    import tempfile

    tmp = tempfile.mkdtemp()
    spark.createDataFrame([(i,) for i in range(10)], "c_custkey long") \
        .write.mode("overwrite").parquet(f"{tmp}/customer.parquet")
    orders = [(o, o % 12) for o in range(30)]  # custkeys 10, 11 orphaned
    spark.createDataFrame(orders, "o_orderkey long, o_custkey long") \
        .write.mode("overwrite").parquet(f"{tmp}/orders.parquet")
    li = [(i, i % 35) for i in range(70)]  # orderkeys 30..34 orphaned
    spark.createDataFrame(li, "l_linenumber long, l_orderkey long") \
        .write.mode("overwrite").parquet(f"{tmp}/lineitem.parquet")
    fn = REGISTRY["q_fk_integrity"].spark_fn
    got = {r["fk_edge"]: (r["n_child"], r["n_orphans"])
           for r in fn(spark, tmp).collect()}
    assert got["orders.o_custkey->customer"] == (
        30, sum(1 for _, c in orders if c >= 10))
    assert got["lineitem.l_orderkey->orders"] == (
        70, sum(1 for _, o in li if o >= 30))


# ---------------------------------------------------------------------------
# McNemar: brute discordant-pair recount
# ---------------------------------------------------------------------------


def test_mcnemar_matches_brute(spark):
    from nonconsumptive_spark.operators.textstats import lang_id
    from nonconsumptive_spark.queries import load as _load
    import tests.conftest as cf

    fn = REGISTRY["q_mcnemar_langid"].spark_fn
    row = fn(spark, cf.SF_SMALL).collect()[0]

    docs = _load(spark, cf.SF_SMALL, "documents")
    langs = [(r["lang"], r["doc_id"]) for r in docs.collect()]
    maj = Counter(l for l, _ in langs).most_common()
    maj_lang = sorted(maj, key=lambda kv: (-kv[1], kv[0]))[0][0]
    pred = {r["doc_id"]: r["pred_lang"]
            for r in lang_id(docs).collect()}
    b = sum(1 for l, d in langs if pred[d] == l and maj_lang != l)
    c = sum(1 for l, d in langs if pred[d] != l and maj_lang == l)
    assert (row["b"], row["c"], row["n"]) == (b, c, len(langs))
    want = round((b - c) ** 2 / (b + c), 6) if b + c else 0.0
    assert row["mcnemar_chi2"] == want


# ---------------------------------------------------------------------------
# Monroe log-odds: brute recomputation on a planted corpus; markers surface
# on the right sides
# ---------------------------------------------------------------------------


def test_log_odds_matches_brute(spark):
    from nonconsumptive_spark.queries.textstats import (
        _LO_A0, _LO_MIN, _LO_TOPK)
    import re
    import tempfile

    rng = random.Random(47)
    rows = []
    for i in range(40):
        src = "aaa" if i % 2 == 0 else "bbb"
        words = [rng.choice(["x", "y", "z"]) for _ in range(25)]
        words += ["amark"] * (3 if src == "aaa" else 0)
        words += ["bmark"] * (3 if src == "bbb" else 0)
        rows.append((i, " ".join(words), src, 100))
    tmp = tempfile.mkdtemp()
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    fn = REGISTRY["q_log_odds_dirichlet"].spark_fn
    got = {(r["side"], r["token"]): (r["a"], r["b"], r["z"])
           for r in fn(spark, tmp).collect()}

    ca: Counter = Counter()
    cb: Counter = Counter()
    for _, text, src, _ in rows:
        (ca if src == "aaa" else cb).update(re.findall(r"[^\W\d_]+", text))
    ta, tb = sum(ca.values()), sum(cb.values())
    n = ta + tb
    scored = []
    for t in set(ca) | set(cb):
        a, b = ca[t], cb[t]
        if a + b < _LO_MIN:
            continue
        aw = (a + b) * (_LO_A0 / n)
        delta = (math.log((a + aw) / (ta + _LO_A0 - a - aw))
                 - math.log((b + aw) / (tb + _LO_A0 - b - aw)))
        z = delta / math.sqrt(1.0 / (a + aw) + 1.0 / (b + aw))
        scored.append((t, a, b, round(z, 6)))
    top_a = sorted(scored, key=lambda s: (-s[3], s[0]))[:_LO_TOPK]
    top_b = sorted(scored, key=lambda s: (s[3], s[0]))[:_LO_TOPK]
    for side, ws in (("A", top_a), ("B", top_b)):
        for t, a, b, z in ws:
            assert got[(side, t)][0] == a and got[(side, t)][1] == b, t
            assert abs(got[(side, t)][2] - z) < 1e-5, t
    assert ("A", "amark") in got and ("B", "bmark") in got


# ---------------------------------------------------------------------------
# Mantel-Haenszel: brute stratified recount; confounded-marginal sanity
# ---------------------------------------------------------------------------


def test_mantel_haenszel_matches_brute(spark):
    from nonconsumptive_spark.queries.stats import (
        _MH_LONG_DOC, _MH_SCALE)
    import tests.conftest as cf

    fn = REGISTRY["q_mantel_haenszel"].spark_fn
    row = fn(spark, cf.SF_SMALL).collect()[0]

    import duckdb
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT lang, source, coalesce(n_chars, 0) FROM "
        f"'{cf.SF_SMALL}/documents.parquet'").fetchall()
    sa = min(s for _, s, _ in docs)
    strata: dict = {}
    for lang, src, nc in docs:
        a, b, c, d = strata.get(lang, (0, 0, 0, 0))
        exp, long_d = src == sa, nc >= _MH_LONG_DOC
        strata[lang] = (a + (exp and long_d), b + (exp and not long_d),
                        c + ((not exp) and long_d),
                        d + ((not exp) and not long_d))
    s_ad = s_bc = 0
    for a, b, c, d in strata.values():
        n = a + b + c + d
        if n:
            s_ad += math.floor(a * d / n * _MH_SCALE)
            s_bc += math.floor(b * c / n * _MH_SCALE)
    assert row["n_strata"] == len(strata)
    assert (row["sum_ad_q"], row["sum_bc_q"]) == (s_ad, s_bc)
    want = round(s_ad / s_bc, 6) if s_bc else 0.0
    assert row["mh_odds_ratio"] == want


# ---------------------------------------------------------------------------
# Juilland's D: uniform dispersion scores ~1, concentrated scores ~0
# ---------------------------------------------------------------------------


def test_juilland_extremes(spark):
    import tempfile

    rows = []
    # 'every' appears at the same rate in all 4 sources; 'onlyone' is
    # confined to source s0
    for i in range(40):
        src = f"s{i % 4}"
        filler = "onlyone" if src == "s0" else "filler"
        text = "every " * 10 + (filler + " ") * 10
        rows.append((i, text.strip(), src, len(text)))
    tmp = tempfile.mkdtemp()
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    fn = REGISTRY["q_juilland_dispersion"].spark_fn
    got = {r["token"]: r["juilland_d"] for r in fn(spark, tmp).collect()}
    assert got["every"] > 0.9
    assert got["onlyone"] < 0.1


# ---------------------------------------------------------------------------
# Brier decomposition: identity brier = rel - res + unc + within-bin-var
# (within-bin variance >= 0), and a perfectly-calibrated degenerate case
# ---------------------------------------------------------------------------


def test_brier_decomposition_identity(spark):
    import tests.conftest as cf

    fn = REGISTRY["q_brier_decomposition"].spark_fn
    r = fn(spark, cf.SF_SMALL).collect()[0]
    assert 0.0 <= r["brier"] <= 1.0
    assert r["reliability"] >= 0.0 and r["resolution"] >= 0.0
    assert 0.0 <= r["uncertainty"] <= 0.25
    # Murphy identity up to the within-bin variance/covariance terms the
    # binning hides (wbv - 2*wbc, either sign, bounded by the bin width):
    # |brier - (rel - res + unc)| stays within ~bin_width^2 + 2*bin_width
    # * within-bin outcome spread — use a conservative 0.02 envelope
    resid = r["brier"] - (r["reliability"] - r["resolution"]
                          + r["uncertainty"])
    assert abs(resid) <= 0.02, resid


# ---------------------------------------------------------------------------
# PRF: per-class scores match a brute confusion recount; micro-F1 bounds
# ---------------------------------------------------------------------------


def test_langid_prf_matches_brute(spark):
    from nonconsumptive_spark.operators.textstats import lang_id
    from nonconsumptive_spark.queries import load as _load
    import tests.conftest as cf

    fn = REGISTRY["q_langid_prf"].spark_fn
    got = {r["lang"]: r for r in fn(spark, cf.SF_SMALL).collect()}
    docs = _load(spark, cf.SF_SMALL, "documents")
    pred = {r["doc_id"]: r["pred_lang"] for r in lang_id(docs).collect()}
    pairs = [(r["lang"], pred[r["doc_id"]])
             for r in docs.select("doc_id", "lang").collect()]
    for cls in got:
        tp = sum(1 for l, p in pairs if l == cls and p == cls)
        fp = sum(1 for l, p in pairs if l != cls and p == cls)
        fn_ = sum(1 for l, p in pairs if l == cls and p != cls)
        r = got[cls]
        assert (r["tp"], r["fp"], r["fn"]) == (tp, fp, fn_), cls
        if tp + fp:
            assert r["precision"] == round(tp / (tp + fp), 6)
        if 2 * tp + fp + fn_:
            assert r["f1"] == round(2 * tp / (2 * tp + fp + fn_), 6)


# ---------------------------------------------------------------------------
# Gain chart: deciles tile the corpus, capture is monotone, decile-0 lift
# is the max
# ---------------------------------------------------------------------------


def test_gain_chart_invariants(spark):
    import tests.conftest as cf

    fn = REGISTRY["q_gain_chart"].spark_fn
    rows = sorted(fn(spark, cf.SF_SMALL).collect(),
                  key=lambda r: r["decile"])
    assert [r["decile"] for r in rows] == list(range(10))
    n = sum(r["n_rows"] for r in rows)
    assert max(r["n_rows"] for r in rows) - min(
        r["n_rows"] for r in rows) <= 1   # equal-count split
    assert rows[-1]["capture_rate"] == 1.0
    caps = [r["capture_rate"] for r in rows]
    assert caps == sorted(caps)
    assert rows[-1]["cum_pos"] == sum(r["n_pos"] for r in rows)
    # weighted mean lift is 1 by construction
    wmean = sum(r["lift"] * r["n_rows"] for r in rows) / n
    assert abs(wmean - 1.0) < 0.01


# ---------------------------------------------------------------------------
# Isotonic bins: the minimax formula equals classic sequential PAVA, and
# the fit is monotone
# ---------------------------------------------------------------------------


def _brute_pava(ns, ps):
    """Classic pool-adjacent-violators on (count, positives) blocks."""
    blocks = [[n, p] for n, p in zip(ns, ps)]
    i = 0
    while i < len(blocks) - 1:
        if blocks[i][1] * blocks[i + 1][0] > blocks[i + 1][1] * blocks[i][0]:
            blocks[i][0] += blocks[i + 1][0]
            blocks[i][1] += blocks[i + 1][1]
            del blocks[i + 1]
            i = max(i - 1, 0)
        else:
            i += 1
    rates = []
    for n, p in blocks:
        rates.append((n, p / n))
    expanded = []
    k = iter(zip(ns, ps))
    for n_blk, r in rates:
        taken = 0
        while taken < n_blk:
            n_bin, _ = next(k)
            expanded.append(r)
            taken += n_bin
    return expanded


def test_isotonic_minimax_equals_classic_pava(spark):
    from nonconsumptive_spark.queries.evaluation import _ISO_SCALE
    import tests.conftest as cf

    fn = REGISTRY["q_isotonic_bins"].spark_fn
    rows = sorted(fn(spark, cf.SF_SMALL).collect(), key=lambda r: r["bin"])
    iso = [r["iso_rate"] for r in rows]
    assert iso == sorted(iso)  # monotone fit
    ns = [r["n"] for r in rows]
    ps = [r["n_pos"] for r in rows]
    want = _brute_pava(ns, ps)
    for got, w in zip(iso, want):
        # the query floors range rates at 1e-9 before min/max; allow
        # one quantum plus the 1e-6 output rounding
        assert abs(got - w) < 2e-6, (got, w)


# ---------------------------------------------------------------------------
# Von Neumann ratio: ~2 on shuffled series, << 2 on a strong trend
# ---------------------------------------------------------------------------


@pytest.mark.sweep  # deep property sweep (>=10s); runs at round close
def test_von_neumann_extremes(spark):
    import tempfile

    fn = REGISTRY["q_von_neumann_ratio"].spark_fn

    def series(counts):
        rows = []
        eid = 0
        for d, n in enumerate(counts):
            day = dt.datetime(2024, 1, 1) + dt.timedelta(days=d)
            for i in range(n):
                eid += 1
                rows.append((eid, day + dt.timedelta(seconds=i)))
        tmp = tempfile.mkdtemp()
        spark.createDataFrame(rows, "event_id long, ts timestamp") \
            .coalesce(1).write.mode("overwrite") \
            .parquet(f"{tmp}/events.parquet")
        return fn(spark, tmp).collect()[0]["vn_ratio"]

    rng = random.Random(53)
    noise = [rng.randint(5, 100) for _ in range(80)]
    trend = [5 + 3 * d for d in range(80)]
    assert series(trend) < 0.5          # strong trend: tiny ratio
    assert 1.0 < series(noise) < 3.0    # iid-ish: near 2


# ---------------------------------------------------------------------------
# Simpson flip: a constructed paradox is detected
# ---------------------------------------------------------------------------


@pytest.mark.sweep  # deep property sweep (>=10s); runs at round close
def test_simpson_flip_detects_planted_paradox(spark):
    import tempfile

    # classic construction: exposed ('aaa', sorts first) wins INSIDE each
    # stratum but loses in the pooled table because its mass sits in the
    # low-rate stratum
    rows = []
    i = 0

    def add(n, src, lang, long_doc):
        nonlocal i
        for _ in range(n):
            rows.append((i, "t", lang, src, 1000 if long_doc else 10))
            i += 1

    # stratum L1 (high base rate): exposed 90/100 vs rest 80/100
    add(90, "aaa", "L1", True); add(10, "aaa", "L1", False)
    add(80, "zzz", "L1", True); add(20, "zzz", "L1", False)
    # stratum L2 (low base rate): exposed 30/900 vs rest 10/400... keep
    # exposed per-stratum rate HIGHER but pooled rate lower
    add(30, "aaa", "L2", True); add(870, "aaa", "L2", False)
    add(10, "zzz", "L2", True); add(390, "zzz", "L2", False)
    tmp = tempfile.mkdtemp()
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    fn = REGISTRY["q_simpson_flip"].spark_fn
    got = {r["lang"]: r for r in fn(spark, tmp).collect()}
    # exposed wins both strata...
    assert got["L1"]["stratum_favors_exposed"] is True
    assert got["L2"]["stratum_favors_exposed"] is True
    # ...but loses the pooled comparison -> both rows flagged flipped
    assert got["L1"]["marginal_favors_exposed"] is False
    assert got["L1"]["flipped"] is True and got["L2"]["flipped"] is True


# ---------------------------------------------------------------------------
# Woolf CI: brute recomputation with the Haldane correction; CI covers the
# point estimate and widens with sparsity
# ---------------------------------------------------------------------------


def test_odds_ratio_ci_matches_brute(spark):
    from nonconsumptive_spark.queries.stats import _OR_Z
    import tests.conftest as cf

    fn = REGISTRY["q_odds_ratio_ci"].spark_fn
    got = {r["lang"]: r for r in fn(spark, cf.SF_SMALL).collect()}

    import duckdb
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT lang, source, coalesce(n_chars, 0) FROM "
        f"'{cf.SF_SMALL}/documents.parquet'").fetchall()
    sa = min(s for _, s, _ in docs)
    strata: dict = {}
    for lang, src, nc in docs:
        a, b, c, d = strata.get(lang, (0, 0, 0, 0))
        exp, ld = src == sa, nc >= 500
        strata[lang] = (a + (exp and ld), b + (exp and not ld),
                        c + ((not exp) and ld), d + ((not exp) and not ld))
    for lang, (a, b, c, d) in strata.items():
        ah, bh, ch, dh = a + 0.5, b + 0.5, c + 0.5, d + 0.5
        lor = math.log(ah * dh / (bh * ch))
        se = math.sqrt(1 / ah + 1 / bh + 1 / ch + 1 / dh)
        r = got[lang]
        assert (r["n_a"], r["n_b"], r["n_c"], r["n_d"]) == (a, b, c, d)
        assert abs(r["log_or"] - lor) < 1e-5
        assert abs(r["ci_lo"] - (lor - _OR_Z * se)) < 1e-5
        assert abs(r["ci_hi"] - (lor + _OR_Z * se)) < 1e-5
        assert r["ci_lo"] <= r["log_or"] <= r["ci_hi"]


# ---------------------------------------------------------------------------
# CUPED: theta/diff match brute per-user recomputation, and the adjusted
# MDE never exceeds the raw MDE
# ---------------------------------------------------------------------------


def test_cuped_matches_brute(spark):
    from nonconsumptive_spark.queries.stats import _CUPED_CUT
    import tests.conftest as cf

    fn = REGISTRY["q_cuped_abtest"].spark_fn
    row = fn(spark, cf.SF_SMALL).collect()[0]
    assert row["mde_cuped"] <= row["mde_raw"] + 1e-9
    assert 0.0 <= row["rho2"] <= 1.0

    import duckdb
    con = duckdb.connect()
    users = con.execute(f"""
        SELECT user_id,
               sum(CASE WHEN ts < TIMESTAMP '{_CUPED_CUT}'
                        THEN 1 ELSE 0 END),
               sum(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUT}'
                        THEN 1 ELSE 0 END)
        FROM '{cf.SF_SMALL}/events.parquet' GROUP BY user_id""").fetchall()
    xs, ys, grp = [], [], []
    for uid, x, y in users:
        h = int(hashlib.md5(str(uid).encode()).hexdigest()[:15], 16)
        grp.append(h % 2)
        xs.append(x)
        ys.append(y)
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    cxy = n * sum(a * b for a, b in zip(xs, ys)) - sx * sy
    vx = n * sum(a * a for a in xs) - sx * sx
    theta = cxy / vx
    na = grp.count(0)
    say = sum(y for g, y in zip(grp, ys) if g == 0)
    sax = sum(x for g, x in zip(grp, xs) if g == 0)
    diff_raw = say / na - (sy - say) / (n - na)
    dx = sax / na - (sx - sax) / (n - na)
    assert row["n_a"] == na
    assert abs(row["theta"] - theta) < 1e-5
    assert abs(row["diff_raw"] - diff_raw) < 1e-5
    assert abs(row["diff_cuped"] - (diff_raw - theta * dx)) < 1e-5


# ---------------------------------------------------------------------------
# Time-to-convert: brute recount of first-click -> first-later-purchase
# ---------------------------------------------------------------------------


def test_time_to_convert_matches_brute(spark):
    import tests.conftest as cf

    fn = REGISTRY["q_time_to_convert"].spark_fn
    row = fn(spark, cf.SF_SMALL).collect()[0]

    import duckdb
    con = duckdb.connect()
    evs = con.execute(
        f"SELECT user_id, event_type, ts FROM "
        f"'{cf.SF_SMALL}/events.parquet' ORDER BY ts").fetchall()
    first_click: dict = {}
    for uid, et, ts in evs:
        if et == "click" and uid not in first_click:
            first_click[uid] = ts
    secs = []
    conv: dict = {}
    for uid, et, ts in evs:
        if (et == "purchase" and uid in first_click
                and ts > first_click[uid] and uid not in conv):
            conv[uid] = ts
            d = ts - first_click[uid]
            micros = (d.days * 86400 * 10**6 + d.seconds * 10**6
                      + d.microseconds)
            secs.append(micros // 1_000_000)
    secs.sort()
    n = len(secs)
    assert row["n_converted"] == n
    assert row["median_s"] == secs[(n + 1) // 2 - 1]
    assert row["p90_s"] == secs[(9 * n + 9) // 10 - 1]


# ---------------------------------------------------------------------------
# SPRT: a stable series never crosses the H1 boundary; a sharp rate jump
# triggers accept_h1; LLR matches brute recomputation
# ---------------------------------------------------------------------------


@pytest.mark.sweep  # deep property sweep (>=10s); runs at round close
def test_sprt_detects_rate_jump(spark):
    from nonconsumptive_spark.queries.stats import (
        _SPRT_LO_Q, _SPRT_SCALE, _SPRT_UP_Q)
    import tempfile

    fn = REGISTRY["q_sprt_daily"].spark_fn

    def run(counts):
        rows = []
        eid = 0
        for d, n in enumerate(counts):
            day = dt.datetime(2024, 1, 1) + dt.timedelta(days=d)
            for i in range(n):
                eid += 1
                rows.append((eid, day + dt.timedelta(seconds=i)))
        tmp = tempfile.mkdtemp()
        spark.createDataFrame(rows, "event_id long, ts timestamp") \
            .coalesce(1).write.mode("overwrite") \
            .parquet(f"{tmp}/events.parquet")
        return sorted(fn(spark, tmp).collect(), key=lambda r: r["day"])

    from nonconsumptive_spark.queries.stats import _SPRT_BASE_DAYS

    # brute LLR replay on a mixed series (baseline = first 7 days)
    rng = random.Random(59)
    counts = [rng.randint(20, 30) for _ in range(20)]
    out = run(counts)
    lam0 = sum(counts[:_SPRT_BASE_DAYS]) / _SPRT_BASE_DAYS
    assert len(out) == len(counts) - _SPRT_BASE_DAYS
    cum = 0
    for r, x in zip(out, counts[_SPRT_BASE_DAYS:]):
        cum += math.floor((x * math.log(1.5) - 0.5 * lam0) * _SPRT_SCALE)
        assert r["cum_llr"] == round(cum / _SPRT_SCALE, 6), r["day"]
        want = ("accept_h1" if cum >= _SPRT_UP_Q
                else "accept_h0" if cum <= _SPRT_LO_Q else "continue")
        assert r["decision"] == want

    # a tripled post-baseline rate must eventually accept H1, and a
    # stable continuation must accept H0
    jump = [20] * _SPRT_BASE_DAYS + [60] * 10
    assert any(r["decision"] == "accept_h1" for r in run(jump))
    flat = [20] * _SPRT_BASE_DAYS + [20] * 10
    assert any(r["decision"] == "accept_h0" for r in run(flat))
