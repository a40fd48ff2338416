"""Dedup + similarity operator semantics beyond the oracle checks:
LSH recall vs exact ground truth, keeper selection, ANN recall."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from nonconsumptive_spark.operators import dedup as dd
from nonconsumptive_spark.operators import similarity as sim
from tests.conftest import SF_SMALL


def _docs(spark):
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet")


def test_exact_dedup_keeper(spark):
    docs = spark.createDataFrame(
        [(1, "Hello, world!"), (2, "hello   WORLD"), (3, "different text")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in dd.exact_dedup(docs).collect()}
    # 1 and 2 normalize to the same fingerprint; min id wins
    assert rows[1]["keep_id"] == 1 and rows[1]["is_keeper"]
    assert rows[2]["keep_id"] == 1 and not rows[2]["is_keeper"]
    assert rows[3]["is_keeper"]


def test_dedup_clusters_semantics(spark):
    """Connected components on a hand graph: chain 1-2, 2-3 plus pair 5-6
    → {1,2,3} cluster 1, {5,6} cluster 5, singleton 4 its own cluster."""
    docs = spark.createDataFrame([(i, f"text {i}") for i in range(1, 7)],
                                 ["doc_id", "text"])
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)],
                                  ["doc_a", "doc_b"])
    rows = {
        r["doc_id"]: (r["cluster"], r["is_keeper"])
        for r in dd.dedup_clusters(docs, pairs=pairs).collect()
    }
    assert rows == {
        1: (1, True), 2: (1, False), 3: (1, False),
        4: (4, True), 5: (5, True), 6: (5, False),
    }


def test_dedup_clusters_long_chain_converges(spark):
    """A 12-node path graph (worst-case diameter) still reaches the
    fixpoint: every node labels to the chain minimum."""
    docs = spark.createDataFrame([(i, "t") for i in range(12)],
                                 ["doc_id", "text"])
    pairs = spark.createDataFrame([(i, i + 1) for i in range(11)],
                                  ["doc_a", "doc_b"])
    rows = {r["doc_id"]: r["cluster"]
            for r in dd.dedup_clusters(docs, pairs=pairs).collect()}
    assert rows == {i: 0 for i in range(12)}


def test_dedup_pipeline_under_parquet_materialization(spark, tmp_path):
    """The cluster-reliable materialization knob (durable parquet
    checkpoints instead of executor-local localCheckpoint) must produce
    bit-identical dedup results — this IS the 100 TB code path."""
    from nonconsumptive_spark.plans.checkpoint import parquet_materialization

    docs = _docs(spark).limit(200)
    baseline = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dd.minhash_dedup_pairs(docs).collect()
    }
    with parquet_materialization(tmp_path / "mat"):
        durable = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in dd.minhash_dedup_pairs(docs).collect()
        }
    assert durable == baseline
    # the signature/shingle reuse points actually hit parquet
    written = list((tmp_path / "mat").iterdir())
    assert written, "parquet materialization wrote nothing"


def test_lsh_recall_vs_exact(spark):
    docs = _docs(spark)
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dd.jaccard_pairs(docs, threshold=0.5).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dd.minhash_dedup_pairs(docs, threshold=0.5).collect()
    }
    assert exact, "test corpus should contain planted near-dups"
    # LSH survivors are a subset of exact pairs (verification step is exact)
    assert lsh <= exact
    recall = len(lsh) / len(exact)
    assert recall >= 0.8, f"LSH recall too low: {recall}"


def test_simhash_determinism(spark):
    docs = _docs(spark).limit(50)
    a = {r["doc_id"]: r["simhash"] for r in dd.simhash(docs).collect()}
    b = {r["doc_id"]: r["simhash"] for r in dd.simhash(docs).collect()}
    assert a == b
    assert all(v >= 0 for v in a.values())


def test_knn_lsh_recall(spark):
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.knn_bruteforce(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.knn_lsh(emb, queries, k=5, n_planes=4, n_tables=12).collect()
    }
    # Uniform-random embeddings are LSH's worst case; expected recall with
    # (4 planes, 12 tables) at neighbor sims ~0.3 is ≈0.8.
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"ANN recall collapsed: {recall}"


def test_ivf_persisted_index_prunes_and_matches(spark, tmp_path):
    """The on-disk IVF index must return exactly the in-memory knn_ivf
    result AND physically read only the probed cell partitions."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    idx_dir = str(tmp_path / "ivf")
    sim.ivf_write(emb, idx_dir, n_centroids=16)

    mem = {tuple(r) for r in
           sim.knn_ivf(emb, queries, k=5, n_centroids=16, n_probe=4).collect()}
    disk_df = sim.knn_ivf_index(spark, idx_dir, queries, k=5,
                                n_centroids=16, n_probe=4)
    disk = {tuple(r) for r in disk_df.collect()}
    assert disk == mem and len(disk) > 0

    # pruning: the probe-cell predicate reaches the scan as a
    # PartitionFilter (file-listing-level skip of non-probed cell dirs)
    q_cells = queries.select(
        F.explode(F.slice(
            sim._centroid_ranks("embedding", 16, 64, 42), 1, 4)).alias("cell")
    ).distinct()
    assert q_cells.count() < 16, "fixture queries should not probe every cell"
    import re

    plan = disk_df._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines()
                  if "FileScan" in ln and "ivf" in ln]
    assert scan_lines and all(
        re.search(r"PartitionFilters: \[.*cell.*", ln) for ln in scan_lines
    ), plan[:2000]


def test_knn_ivf_equals_sliced_probe_sweep(spark):
    """Nesting parity (ADVICE r8): knn_ivf(n_probe=p) must equal the
    depth-max probe sweep sliced at probe_rank < p and re-ranked by the
    same top-k window — the contract q_ann_recall_curve's single-scoring
    rewrite rests on.  knn_ivf is now a wrapper over ivf_probe_scored, so
    this pins the slice semantics (not just shared code)."""
    from pyspark.sql import Window

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    sweep = sim.ivf_probe_scored(emb, queries, n_centroids=16, max_probe=8)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id"))
    for p in (2, 4, 8):
        direct = {tuple(r) for r in sim.knn_ivf(
            emb, queries, k=5, n_centroids=16, n_probe=p).collect()}
        sliced = {tuple(r) for r in (
            sweep.filter(F.col("probe_rank") < p)
            .select("query_id", "neighbor_id", "cosine_sim")
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= 5)
        ).collect()}
        assert direct == sliced and len(direct) > 0, f"n_probe={p}"


def test_cosine_self_similarity(spark):
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").limit(5)
    df = emb.select(
        F.round(sim.cosine(F.col("embedding"), F.col("embedding")), 4).alias("c")
    )
    assert all(abs(r["c"] - 1.0) < 1e-6 for r in df.collect())


def test_simhash_banded_equals_crossjoin(spark):
    # Pigeonhole exactness: max_hamming+1 disjoint bands must reproduce the
    # cross-join result exactly (no false negatives; verify kills false
    # positives).
    docs = _docs(spark)
    banded = {tuple(r) for r in dd.simhash_near_pairs(docs, max_hamming=8, banded=True).collect()}
    cross = {tuple(r) for r in dd.simhash_near_pairs(docs, max_hamming=8, banded=False).collect()}
    assert banded == cross and len(banded) > 0


def test_knn_ivf_recall(spark):
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.knn_bruteforce(emb, queries, k=5).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.knn_ivf(emb, queries, k=5, n_centroids=16, n_probe=8).collect()
    }
    # deterministic seeds => deterministic recall (0.78 on this fixture);
    # uniform-random vectors are ANN's worst case, so the bar is modest.
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.7, f"IVF recall dropped: {recall}"


# ---------------------------------------------------------------------------
class TestRepeatedSpanRemoval:
    def _docs(self, spark):
        boiler = "subscribe to our newsletter for daily updates"
        rows = [
            (1, f"alpha beta gamma {boiler} delta epsilon"),
            (2, f"one two three four five six {boiler}"),
            (3, "completely unique text with no shared spans at all here"),
            (4, "short doc"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_boilerplate_stripped_uniques_untouched(self, spark):
        from nonconsumptive_spark.operators.dedup import remove_repeated_spans

        out = {r.doc_id: r for r in
               remove_repeated_spans(self._docs(spark), n=5, min_docs=2).collect()}
        # The 7-token boilerplate contains three overlapping shared 5-grams;
        # their union covers exactly the 7 boilerplate tokens in both docs.
        assert out[1].n_tokens_removed == 7
        assert out[1].clean_text == "alpha beta gamma delta epsilon"
        assert out[2].n_tokens_removed == 7
        assert out[2].clean_text == "one two three four five six"
        # Unique and sub-n docs pass through verbatim.
        assert out[3].n_tokens_removed == 0
        assert out[3].clean_text.startswith("completely unique")
        assert out[4].n_tokens_removed == 0
        assert out[4].clean_text == "short doc"

    def test_every_doc_present_once(self, spark):
        from nonconsumptive_spark.operators.dedup import remove_repeated_spans

        docs = self._docs(spark)
        out = remove_repeated_spans(docs, n=5, min_docs=2)
        assert out.count() == docs.count()
        assert out.select("doc_id").distinct().count() == docs.count()

    def test_repeated_spans_flags_only_shared(self, spark):
        from nonconsumptive_spark.operators.dedup import repeated_spans

        spans = repeated_spans(self._docs(spark), n=5, min_docs=2)
        assert spans.select("doc_id").distinct().count() == 2  # docs 1 and 2
        # every flagged gram is inside the boilerplate sentence
        for r in spans.collect():
            assert "newsletter" in r.gram or "subscribe" in r.gram or "daily" in r.gram


class TestCurationSelection:
    def test_canonical_one_per_cluster(self, spark):
        from nonconsumptive_spark.operators.dedup import canonical_docs
        from tests.conftest import SF_SMALL

        docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        out = canonical_docs(docs, threshold=0.5)
        assert out.count() == docs.count()
        per = out.groupBy("cluster").agg(
            F.sum(F.col("canonical").cast("int")).alias("n_canon")
        )
        assert per.where("n_canon <> 1").count() == 0
        # the canonical member is never shorter than a clustermate
        a, b = out.alias("a"), out.alias("b")
        worse = (
            a.join(b, F.col("a.cluster") == F.col("b.cluster"))
            .where(F.col("a.canonical") & (F.col("a.n_tokens") < F.col("b.n_tokens")))
        )
        assert worse.count() == 0

    def test_dataset_split_exhaustive_and_proportional(self, spark):
        from nonconsumptive_spark.operators.textstats import dataset_split
        from tests.conftest import SF_SMALL

        docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        out = dataset_split(docs)
        n = docs.count()
        by = {r["split"]: r["c"] for r in
              out.groupBy("split").agg(F.count("*").alias("c")).collect()}
        assert sum(by.values()) == n  # every doc in exactly one split
        assert by["train"] / n > 0.9  # 98% band dominates
        assert set(by) <= {"train", "val", "test"}
        # stability: same input -> identical assignment
        again = dataset_split(docs)
        assert out.exceptAll(again).count() == 0

    def test_temperature_mix_sums_to_one(self, spark):
        from nonconsumptive_spark.operators.textstats import temperature_mix
        from tests.conftest import SF_SMALL

        docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        rows = temperature_mix(docs).collect()
        assert abs(sum(r["mix_frac"] for r in rows) - 1.0) < 1e-4
        # smaller sources get boosted: frac ratio grows slower than counts
        rows = sorted(rows, key=lambda r: r["n_docs"])
        lo, hi = rows[0], rows[-1]
        if lo["n_docs"] < hi["n_docs"]:
            assert (hi["mix_frac"] / lo["mix_frac"]) ** 2 == pytest.approx(
                hi["n_docs"] / lo["n_docs"], rel=1e-3
            )


def test_remove_duplicated_chunks_semantics(spark):
    from nonconsumptive_spark.operators import lines

    # chunk_len=2: doc 1 = [a b][c d][e f], doc 2 = [a b][x y],
    # doc 3 = [c d]... but chunk boundaries differ: doc 3 = "q q c d" ->
    # [q q][c d].  "a b" occurs in docs 1+2, "c d" in docs 1+3 -> both
    # flagged; everything else survives in order.
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b x y"), (3, "q q c d"), (4, "")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in lines.remove_duplicated_chunks(
        docs, chunk_len=2, min_doc_freq=2).collect()}
    assert out[1]["clean_text"] == "e f"
    assert (out[1]["n_chunks"], out[1]["n_removed"]) == (3, 2)
    assert out[2]["clean_text"] == "x y"
    assert out[3]["clean_text"] == "q q"
    assert out[4]["clean_text"] == "" and out[4]["n_chunks"] == 0
    assert out[4]["n_removed"] == 0


def test_remove_duplicated_chunks_within_doc_repeat_not_flagged(spark):
    from nonconsumptive_spark.operators import lines

    # "a b" repeats WITHIN doc 1 only -> document frequency is 1 -> kept.
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "z z")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in lines.remove_duplicated_chunks(
        docs, chunk_len=2, min_doc_freq=2).collect()}
    assert out[1]["clean_text"] == "a b a b"
    assert out[1]["n_removed"] == 0


def test_dedup_against_incremental(spark):
    from nonconsumptive_spark.operators.dedup import dedup_against

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [(2, base), (4, "totally different words entirely unrelated content here")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(1, base),                      # exact dup of corpus doc 2
         (3, "fresh unique new text that matches nothing in the corpus")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in dedup_against(new, corpus, threshold=0.5).collect()}
    assert rows[1]["is_dup"] and rows[1]["match_id"] == 2
    assert rows[1]["jaccard"] == 1.0
    assert not rows[3]["is_dup"] and rows[3]["match_id"] is None


def _words(lo, hi):
    """Distinct 4-letter words (letters only, so each is one token)."""
    return ["".join(chr(97 + i // 26 ** k % 26) for k in range(4))
            for i in range(lo, hi)]


def _incremental_matches(path, new, corpus, tmp_path):
    """(doc_id, match_id, jaccard) of the new docs flagged at threshold 0.5
    by one of the three incremental near-dup paths."""
    if path == "neardup_flag_batch":
        from nonconsumptive_spark.streaming.neardup import neardup_flag_batch

        def base(d):
            return dd._sig_base(d, "doc_id", "text", keep_shingles=True)
        return neardup_flag_batch(base(new), base(corpus), 0.5, "doc_id").select(
            "doc_id", F.col("dup_of").alias("match_id"), "jaccard")
    if path == "dedup_against":
        out = dd.dedup_against(new, corpus, threshold=0.5)
    else:
        idx = str(tmp_path / "ppidx")
        dd.ppjoin_index_write(corpus, idx, threshold=0.5)
        out = dd.ppjoin_against(new, idx)
    return out.filter("is_dup").select("doc_id", "match_id", "jaccard")


@pytest.mark.parametrize("ids", [(1, 5, 20, 10),
                                 ("batch-1", "doc-0", "doc-b", "doc-a")],
                         ids=["int", "str"])
@pytest.mark.parametrize("path", ["dedup_against", "ppjoin_against",
                                  "neardup_flag_batch"])
def test_dedup_against_best_match_ties(spark, tmp_path, path, ids):
    """Every incremental path picks the same best match: highest jaccard
    first, then the lowest existing id (in the id column's own order)."""
    new_id, near_id, tie_hi, tie_lo = ids
    t = _words(0, 30)
    near = t[:-1] + _words(100, 101)  # 27 of 29 shingles: J = 0.931
    corpus = spark.createDataFrame(
        [(near_id, " ".join(near)), (tie_hi, " ".join(t)),
         (tie_lo, " ".join(t))], ["doc_id", "text"])
    new = spark.createDataFrame([(new_id, " ".join(t))], ["doc_id", "text"])
    # the lowest id has the lower jaccard; of the two 1.0 ties the lower
    # id wins
    got = _incremental_matches(path, new, corpus, tmp_path).collect()
    assert [(r["match_id"], r["jaccard"]) for r in got] == [(tie_lo, 1.0)]


def test_dedup_against_string_ids(spark):
    """String doc ids must work: the r3 tie-break negated the id column
    arithmetically, which cast strings to double -> NULL and reported a
    real dup as clean (r3 ADVICE).  Ties now break on the id column's own
    ordering (lexicographic for strings)."""
    from nonconsumptive_spark.operators.dedup import dedup_against

    t = "one two three four five six seven eight nine ten"
    corpus = spark.createDataFrame(
        [("doc-b", t), ("doc-a", t),
         ("doc-z", "totally different words entirely unrelated content here")],
        ["doc_id", "text"])
    new = spark.createDataFrame([("batch-1", t)], ["doc_id", "text"])
    r = dedup_against(new, corpus, threshold=0.5).collect()[0]
    assert r["is_dup"] is True
    assert r["match_id"] == "doc-a"  # lexicographic min on the jaccard tie
    assert r["jaccard"] == 1.0


def test_minhash_fast_hash_same_verified_pairs(spark):
    """xxhash64 and md5 shingle hashes change LSH band collisions but not
    the exact-Jaccard verification, so on the fixture both paths surface
    the identical verified pair set."""
    from nonconsumptive_spark.operators.dedup import minhash_dedup_pairs
    from nonconsumptive_spark.queries import load
    from tests.conftest import SF_SMALL

    docs = load(spark, SF_SMALL, "documents")
    md5_pairs = {(r["doc_a"], r["doc_b"], r["jaccard"])
                 for r in minhash_dedup_pairs(docs).collect()}
    xx_pairs = {(r["doc_a"], r["doc_b"], r["jaccard"])
                for r in minhash_dedup_pairs(docs, hash_fn="xxhash64").collect()}
    assert md5_pairs == xx_pairs
    assert md5_pairs  # non-vacuous: the fixture has near-dup pairs


def test_snm_window_semantics(spark):
    """Near-identical docs share a sorted-prefix blocking key, land on
    adjacent ranks, and get verified; a high-Jaccard pair forced far
    apart in key order is OUTSIDE the window and must not be reported
    (that is the SNM trade — window recall for linear candidates)."""
    from nonconsumptive_spark.operators.dedup import snm_pairs

    t = "alpha beta gamma delta epsilon zeta eta theta"
    # docs 1/2 near-identical; padding docs whose keys sort BETWEEN
    # 'aa ...' and 'alpha ...' push the aa-prefixed mirror doc away
    rows = [(1, t), (2, t + " iota")]
    rows += [(10 + i, f"ab{chr(98 + i)} ac{chr(98 + i)} ad{chr(98 + i)} "
              f"ae{chr(98 + i)} af{chr(98 + i)}") for i in range(6)]
    rows += [(99, "aa " + t)]  # shares 8 of 9 distinct tokens with doc 1
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r["doc_a"], r["doc_b"]) for r in
           snm_pairs(docs, window=3, threshold=0.5).collect()}
    assert (1, 2) in got
    assert all(99 not in p for p in got)  # key 'aa ...' ranks far from 'alpha ...'


def test_snm_bucket_join_equals_naive_window_join(spark):
    """The two-bucket equi-join realization must produce EXACTLY the
    pairs of a naive |Δrank| < window theta-join (no pair lost at bucket
    boundaries, none duplicated)."""
    from nonconsumptive_spark.operators.dedup import snm_pairs
    from nonconsumptive_spark.queries import load
    from tests.conftest import SF_SMALL

    docs = load(spark, SF_SMALL, "documents").limit(60)
    w = 4
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in snm_pairs(docs, window=w, threshold=0.0).collect()}
    # naive reference: rank in driver, all pairs within window
    from nonconsumptive_spark.operators.dedup import (
        doc_shingles, snm_key, tokenize)  # noqa: F401
    base = docs.select(
        "doc_id", snm_key("text").alias("k")).join(
        doc_shingles(docs).select("doc_id"), "doc_id").collect()
    order = sorted(base, key=lambda r: (r["k"], r["doc_id"]))
    expect = set()
    for i in range(len(order)):
        for j in range(i + 1, min(i + w, len(order))):
            expect.add((order[i]["doc_id"], order[j]["doc_id"]))
    assert set(got) == expect


def test_ppjoin_equals_naive_jaccard_and_prunes_candidates(spark):
    """PPJoin is EXACT: identical result set to the full shingle join at
    the same threshold — and its prefix candidate set is strictly smaller
    than the naive join's sharing-any-shingle candidate set."""
    from nonconsumptive_spark.operators import dedup as dd
    from nonconsumptive_spark.queries import load
    from tests.conftest import SF_SMALL

    docs = load(spark, SF_SMALL, "documents")
    naive = {(r["doc_a"], r["doc_b"], r["jaccard"])
             for r in dd.jaccard_pairs(docs, threshold=0.5).collect()}
    pp = {(r["doc_a"], r["doc_b"], r["jaccard"])
          for r in dd.ppjoin_pairs(docs, threshold=0.5).collect()}
    assert pp == naive and len(pp) > 0

    # candidate-volume: pairs sharing >=1 PREFIX shingle (with length
    # filter) vs pairs sharing >=1 shingle at all
    sh = dd.doc_shingles(docs)
    exploded = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    a = exploded.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = exploded.select(F.col("doc_id").alias("doc_b"), "shingle")
    naive_cands = (a.join(b, "shingle").filter("doc_a < doc_b")
                   .select("doc_a", "doc_b").distinct().count())
    # reconstruct the prefix candidate count through the operator's own
    # internals: run it up to the distinct() and count
    dfreq = exploded.groupBy("shingle").agg(F.count("*").alias("df"))
    from pyspark.sql.window import Window
    w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("shingle"))
    sizes = sh.select("doc_id", F.size("shingles").cast("long").alias("n"))
    ranked = (exploded.join(dfreq, "shingle")
              .withColumn("pos", F.row_number().over(w).cast("long"))
              .join(sizes, "doc_id"))
    prefix = ranked.filter(
        F.col("pos") <= F.col("n") - F.ceil(F.lit(0.5) * F.col("n")) + 1)
    pa = prefix.select(F.col("doc_id").alias("doc_a"), "shingle",
                       F.col("n").alias("na"))
    pb = prefix.select(F.col("doc_id").alias("doc_b"), "shingle",
                       F.col("n").alias("nb"))
    pp_cands = (pa.join(pb, "shingle")
                .filter((F.col("doc_a") < F.col("doc_b"))
                        & (F.col("nb") >= F.ceil(F.lit(0.5) * F.col("na")))
                        & (F.col("na") >= F.ceil(F.lit(0.5) * F.col("nb"))))
                .select("doc_a", "doc_b").distinct().count())
    assert pp_cands < naive_cands


def test_ppjoin_index_incremental_exact(spark, tmp_path):
    """Persisted prefix-index incremental dedup is EXACT: identical to a
    brute-force cross-side jaccard at the same threshold, and the batch
    path never recomputes corpus structures (it reads them from disk)."""
    from nonconsumptive_spark.operators import dedup as dd
    from nonconsumptive_spark.queries import load
    from tests.conftest import SF_SMALL

    docs = load(spark, SF_SMALL, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)

    idx = str(tmp_path / "ppidx")
    dd.ppjoin_index_write(corpus, idx, threshold=0.5)
    got = {r["doc_id"]: (r["is_dup"], r["match_id"], r["jaccard"])
           for r in dd.ppjoin_against(batch, idx, threshold=0.5).collect()}

    # brute force: all cross pairs sharing >= 1 shingle, exact jaccard
    sh = dd.doc_shingles(docs)
    ex = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    sizes = {r["doc_id"]: r["n"] for r in
             sh.select("doc_id", F.size("shingles").alias("n")).collect()}
    pairs = {}
    a = ex.withColumnRenamed("doc_id", "new_id")
    b = ex.withColumnRenamed("doc_id", "old_id")
    inter = (a.join(b, "shingle")
             .filter((F.col("new_id") % 2 == 1) & (F.col("old_id") % 2 == 0))
             .groupBy("new_id", "old_id").count().collect())
    best = {}
    for r in inter:
        na, nb = sizes[r["new_id"]], sizes[r["old_id"]]
        j = round(r["count"] / (na + nb - r["count"]), 4)
        if j >= 0.5:
            cur = best.get(r["new_id"])
            if cur is None or j > cur[0] or (j == cur[0] and r["old_id"] < cur[1]):
                best[r["new_id"]] = (j, r["old_id"])
    for did, (is_dup, match_id, jac) in got.items():
        if did in best:
            assert is_dup and match_id == best[did][1] and jac == best[did][0], \
                (did, got[did], best[did])
        else:
            assert not is_dup and match_id is None
    assert any(v[0] for v in got.values())  # fixtures contain cross dups


def test_ppjoin_index_threshold_mismatch_refused(spark, tmp_path):
    import pytest as _pytest

    from nonconsumptive_spark.operators import dedup as dd
    from nonconsumptive_spark.queries import load
    from tests.conftest import SF_SMALL

    docs = load(spark, SF_SMALL, "documents").limit(20)
    idx = str(tmp_path / "idx")
    dd.ppjoin_index_write(docs, idx, threshold=0.7)
    with _pytest.raises(ValueError, match="threshold"):
        dd.ppjoin_against(docs, idx, threshold=0.5)
    # threshold=None uses the indexed threshold
    assert dd.ppjoin_against(docs, idx).count() == 20


def test_lsh_tune_minimizes_objective_and_is_monotone():
    """lsh_tune returns the factorization that actually minimizes its
    stated FP/FN-area objective, and rows grow monotonically with the
    threshold (higher threshold -> sharper curve -> more rows/band)."""
    from nonconsumptive_spark.operators.dedup import lsh_tune

    def err(bands, rows, t, w=0.5):
        fp = fn = 0.0
        for i in range(1000):
            s = (i + 0.5) / 1000
            p = 1.0 - (1.0 - s ** rows) ** bands
            if s < t:
                fp += p / 1000
            else:
                fn += (1.0 - p) / 1000
        return w * fp + (1 - w) * fn

    prev_rows = 0
    for t in (0.3, 0.5, 0.7, 0.9):
        bands, rows = lsh_tune(t)  # default n_perm = N_HASHES = 16
        assert bands * rows == 16
        best = min(err(16 // r, r, t) for r in range(1, 17) if 16 % r == 0)
        assert abs(err(bands, rows, t) - best) < 1e-12
        assert rows >= prev_rows
        prev_rows = rows


def test_ivf_append_equals_rebuild(spark, tmp_path):
    """Appending a batch to a persisted IVF index yields identical kNN
    results to rebuilding the index over the full corpus."""
    from nonconsumptive_spark.operators import similarity as sim
    from nonconsumptive_spark.queries import load
    from tests.conftest import SF_SMALL

    emb = load(spark, SF_SMALL, "embeddings")
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    queries = emb.orderBy("vec_id").limit(5)

    inc_dir = str(tmp_path / "inc")
    sim.ivf_write(old, inc_dir, n_centroids=16)
    sim.ivf_append(new, inc_dir, n_centroids=16)

    full_dir = str(tmp_path / "full")
    sim.ivf_write(emb, full_dir, n_centroids=16)

    a = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in
         sim.knn_ivf_index(spark, inc_dir, queries, k=5,
                           n_centroids=16).collect()}
    b = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in
         sim.knn_ivf_index(spark, full_dir, queries, k=5,
                           n_centroids=16).collect()}
    assert a == b and len(a) > 0


def _boundary_docs(spark):
    """Doc 0 has 7502 distinct words -> 7500 shingles.  Doc 1 is its first
    5002 words plus 2501 new ones: nb=7501, inter=5000, J = 5000/10001 =
    0.49995, which rounds to 0.5.  Doc 2 is its first 5001 words plus 2501
    new ones: nb=7500, inter=4999, J = 4999/10001 = 0.49985 -> 0.4999
    (and 4999/10002 -> 0.4998 against doc 1)."""
    a = _words(0, 7502)
    b = a[:5002] + _words(10_000, 12_501)
    c = a[:5001] + _words(20_000, 22_501)
    return spark.createDataFrame(
        [(0, " ".join(a)), (1, " ".join(b)), (2, " ".join(c))],
        ["doc_id", "text"])


def _boundary_pairs(path, docs, tmp_path):
    """{(lower id, higher id, jaccard)} reported by one pair path at 0.5."""
    def pairs(df, a="doc_a", b="doc_b"):
        return {(min(r[a], r[b]), max(r[a], r[b]), r["jaccard"])
                for r in df.collect()}

    if path in ("jaccard_pairs", "ppjoin_pairs", "snm_pairs",
                "minhash_dedup_pairs"):
        return pairs(getattr(dd, path)(docs, threshold=0.5))
    if path in ("ppjoin_against", "dedup_against", "neardup_flag_batch"):
        old, new = docs.filter("doc_id = 0"), docs.filter("doc_id > 0")
        return pairs(_incremental_matches(path, new, old, tmp_path),
                     "match_id", "doc_id")
    # the kernel itself on explicit candidates: covers the LSH paths,
    # whose banding need not propose the pair
    sh = dd.doc_shingles(docs)
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    cands = sa.crossJoin(sb).filter("doc_a < doc_b")
    return pairs(dd.verify_pairs(cands, 0.5, "boundary_verify"))


@pytest.mark.parametrize("path", [
    "jaccard_pairs", "ppjoin_pairs", "snm_pairs", "ppjoin_against",
    "verify_pairs", "minhash_dedup_pairs", "dedup_against",
    "neardup_flag_batch"])
def test_rounded_threshold_boundary_same_on_every_path(spark, tmp_path, path):
    """The 4-decimal contract round(J, 4) >= t holds on every pair path:
    true J = 0.49995 rounds up to 0.5 and is kept (PPJoin's bounds prune
    at t - 1/20000, not at t), J = 0.49985 rounds to 0.4999 and is not.
    The LSH paths may miss the pair by banding, never report the other."""
    got = _boundary_pairs(path, _boundary_docs(spark), tmp_path)
    want = {(0, 1, 0.5)}
    if path in ("minhash_dedup_pairs", "dedup_against", "neardup_flag_batch"):
        assert got <= want
    else:
        assert got == want
