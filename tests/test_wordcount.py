"""Golden invariants ported from the reference's test strategy
(SURVEY §5): count-sum preservation, Unicode tokens, re-runnability,
edge-case documents."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nonconsumptive_spark.operators import wordcount as wc


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_count_sum_preservation(spark):
    # Reference tests/test_throughput.py:100-108: encoding preserves sums.
    docs = _docs(spark, [(1, "a b a c"), (2, "b b b"), (3, "")])
    enc = wc.encode_unigrams(docs)
    total = enc.agg(F.sum("count")).first()[0]
    assert total == 7


def test_unicode_tokens(spark):
    # Reference test: Cyrillic token 'каждая' must survive tokenization.
    docs = _docs(spark, [(1, "каждая счастливая семья, каждая!")])
    counts = {r["token"]: r["count"] for r in wc.doc_token_counts(docs).collect()}
    assert counts["каждая"] == 2
    assert counts["семья"] == 1


def test_repetition_scores_golden(spark):
    """Hand-computed repetition metrics: 'a b\\na b\\nc d' has 3 lines with
    one duplicate; tokens a,b,a,b,c,d give bigrams [a b, b a, a b, b c,
    c d] — 5 total, 4 distinct, mode 'a b' twice."""
    from nonconsumptive_spark.operators.textstats import repetition_scores

    docs = _docs(spark, [(1, "a b\na b\nc d"), (2, "x"), (3, "")])
    rows = {r["doc_id"]: r for r in repetition_scores(docs).collect()}
    r1 = rows[1]
    assert r1["n_lines"] == 3
    assert r1["dup_line_frac"] == round(1 - 2 / 3, 4)
    assert r1["dup_bigram_frac"] == round(1 - 4 / 5, 4)
    assert r1["top_bigram_frac"] == 0.4
    # degenerate docs: no bigrams, no lines → all zeros
    assert rows[2]["dup_bigram_frac"] == 0.0 and rows[2]["n_lines"] == 1
    assert rows[3]["n_lines"] == 0 and rows[3]["top_bigram_frac"] == 0.0


def test_tokenize_fallback_matches_reference_findall(spark):
    """F3 must agree with the reference's re.findall(r'[\\w^_]+|[^\\w\\s]+')
    (reference document.py:79-80) on representative texts."""
    import re

    texts = [
        "Hello, world! It's a test_case.",
        "a--b  c_d 42x ...",
        "каждая! семья; (mixed) #tag",
        "",
    ]
    docs = _docs(spark, list(enumerate(texts)))
    from nonconsumptive_spark.functions.text import tokenize_fallback

    got = {
        r["doc_id"]: r["toks"]
        for r in docs.select("doc_id", tokenize_fallback("text").alias("toks")).collect()
    }
    # default (Unicode) flags — exactly what the reference runs
    pat = re.compile(r"[\w^_]+|[^\w\s]+")
    for i, t in enumerate(texts):
        assert got[i] == pat.findall(t), (i, t)


def test_tokenize_blingfire_gated(spark):
    from nonconsumptive_spark.functions import text as tx

    if tx.HAS_BLINGFIRE:
        docs = _docs(spark, [(1, "Hello, world!")])
        toks = docs.select(tx.tokenize_blingfire("text").alias("t")).first()["t"]
        assert len(toks) >= 2
    else:
        import pytest

        with pytest.raises(ModuleNotFoundError, match="blingfire"):
            tx.tokenize_blingfire("text")


def test_vocabulary_dense_ids_and_tiebreak(spark):
    docs = _docs(spark, [(1, "b a b c a b")])
    vocab = wc.vocabulary(docs).collect()
    ids = sorted(r["wordid"] for r in vocab)
    assert ids == [0, 1, 2]
    by_token = {r["token"]: r for r in vocab}
    assert by_token["b"]["wordid"] == 0  # count 3
    # a and c tie at count... a=2, c=1; check order
    assert by_token["a"]["wordid"] == 1
    assert by_token["c"]["wordid"] == 2


def test_rank_vocab_dense_path_matches_window_path(spark):
    """The corpus-scale ranking strategy (count-histogram boundary +
    per-partition-offset dense ids, no unpartitioned window) must produce
    EXACTLY the window path's (wordid, token, count) rows, including the
    tie band cut mid-count, and its returned plan must contain no Window
    and no global Sort."""
    from nonconsumptive_spark.queries import load
    from tests.conftest import SF_SMALL

    docs = load(spark, SF_SMALL, "documents")
    counts = wc.global_wordcount(docs)
    for cap in (5, 17, 10_000):  # below, mid-tie-band, above vocab size
        a = sorted(map(tuple, wc.rank_vocab(counts, cap=cap).collect()))
        dense = wc.rank_vocab(counts, cap=cap, window_cap_threshold=0)
        b = sorted(map(tuple, dense.collect()))
        assert a == b, f"cap={cap}"

    dense = wc.rank_vocab(counts, cap=17, window_cap_threshold=0)
    plan = dense._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "Sort [count" not in plan  # no global sort on the kept set


def test_vocab_cap_and_oov_drop(spark):
    docs = _docs(spark, [(1, "x x y z w")])
    vocab = wc.vocabulary(docs, cap=2)
    enc = wc.encode_unigrams(docs, vocab).collect()
    # only top-2 tokens (x, then tie w/y/z by token asc -> w) survive encode
    assert {r["wordid"] for r in enc} <= {0, 1}
    assert sum(r["count"] for r in enc) == 3  # x:2 + w:1


def test_ngrams_edges(spark):
    docs = _docs(spark, [(1, "a b c"), (2, "a"), (3, "")])
    bi = wc.ngram_counts(docs, 2).collect()
    assert {(r["doc_id"], r["w0"], r["w1"]) for r in bi} == {(1, "a", "b"), (1, "b", "c")}
    tri = wc.ngram_counts(docs, 3).collect()
    assert {(r["w0"], r["w1"], r["w2"]) for r in tri} == {("a", "b", "c")}


def _word(i):
    """A distinct letter-only token per i (tokens split on non-letters)."""
    out = ""
    for _ in range(4):
        i, r = divmod(i, 26)
        out += chr(ord("a") + r)
    return out


@pytest.mark.parametrize("ansi", ["false", "true"])
def test_fused_kernel_matches_groupby_path(spark, ansi):
    """The run-length kernel (fused=True) against explode+groupBy on the
    edge docs: NULL, empty, one token, one token 50 times, shorter than
    n, and 6,000 tokens over 5,000 distinct ones.  Under ANSI, size(NULL)
    is NULL rather than -1; both must give no rows."""
    from nonconsumptive_spark.operators import textstats as ts

    big = " ".join(_word(i % 5000) for i in range(6000))
    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "solo"), (4, " ".join(["echo"] * 50)),
         (5, "two words"), (6, big)], "doc_id long, text string")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        fused = rows(wc.doc_token_counts(docs))
        assert fused == rows(wc.doc_token_counts(docs, fused=False))
        assert sum(1 for r in fused if r[0] == 6) == 5000
        assert {r[1:] for r in fused if r[0] == 4} == {("echo", 50)}
        for n in range(1, 5):
            assert rows(wc.ngram_counts(docs, n)) == \
                rows(wc.ngram_counts(docs, n, fused=False)), n
        ent = {r["doc_id"]: (r["n_tokens"], r["n_types"])
               for r in ts.token_entropy(docs).collect()}
        assert ent[1] == ent[2] == (0, 0)
        assert ent[6] == (6000, 5000)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_document_lengths_empty_doc(spark):
    docs = _docs(spark, [(1, "one two"), (2, ""), (3, "...!!!")])
    lens = {r["doc_id"]: r["nwords"] for r in wc.document_lengths(docs).collect()}
    assert lens == {1: 2, 2: 0, 3: 0}


def test_chunked_wordcounts_balanced(spark):
    # 5 tokens, chunk_size 2 -> 3 chunks of sizes 2/2/1 (balanced split)
    docs = _docs(spark, [(1, "a b c d e")])
    rows = wc.chunked_wordcounts(docs, chunk_size=2).collect()
    sizes = {}
    for r in rows:
        sizes[r["chunk"]] = sizes.get(r["chunk"], 0) + r["count"]
    assert sum(sizes.values()) == 5
    assert len(sizes) == 3
    assert max(sizes.values()) - min(sizes.values()) <= 1


def test_rerunnable(spark):
    # Reference iterator-refresh tests: plans are re-executable.
    docs = _docs(spark, [(1, "a b a")])
    q = wc.doc_token_counts(docs)
    assert q.count() == q.count() == 2


def test_zipf_and_heaps_fits(spark):
    from nonconsumptive_spark.operators.wordcount import heaps_fit, zipf_fit
    from tests.conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    z = zipf_fit(docs).collect()[0]
    assert z["n_terms"] > 2
    assert z["slope"] < 0  # frequency decreases with rank, always
    h = heaps_fit(docs).collect()[0]
    assert h["n_strata"] > 2
    assert h["k"] > 0
    # vocabulary never exceeds token count: V = k*N^beta stays under N at
    # the observed points, so beta < 1 on any real corpus
    assert h["beta"] < 1


def test_bigram_lm_ranks_fluent_above_shuffled(spark):
    """The bigram term must reward in-corpus word order: a corpus of
    repeated fluent sentences scores strictly higher under the bigram LM
    than a doc with the same unigram profile but scrambled order."""
    from nonconsumptive_spark.operators.textstats import (
        bigram_logprob_scores,
        unigram_logprob_scores,
    )

    fluent = "the cat sat on the mat"
    docs = spark.createDataFrame(
        [(i, fluent) for i in range(20)] + [(99, "mat the on sat cat the")],
        "doc_id long, text string",
    )
    bg = {r["doc_id"]: r["avg_logprob"]
          for r in bigram_logprob_scores(docs).collect()}
    ug = {r["doc_id"]: r["avg_logprob"]
          for r in unigram_logprob_scores(docs).collect()}
    # same tokens -> unigram can't separate them...
    assert abs(ug[0] - ug[99]) < 1e-9
    # ...but the bigram model must
    assert bg[0] > bg[99]


def test_countmin_never_undercounts(spark):
    from nonconsumptive_spark.operators.wordcount import countmin_estimates
    from tests.conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    rows = countmin_estimates(docs, top=100).collect()
    assert rows
    assert all(r["c_est"] >= r["c_exact"] for r in rows)  # structural bound
    assert all(r["overestimate"] == r["c_est"] - r["c_exact"] for r in rows)
    # with width 1024 >> vocab, most top tokens should be collision-free
    assert sum(1 for r in rows if r["overestimate"] == 0) > len(rows) * 0.5


# ------------------------------------------------------ sliding chunks ----
def test_sliding_chunks_cover_all_tokens_with_overlap(spark, tmp_path):
    from nonconsumptive_spark.queries import all_queries
    from nonconsumptive_spark.queries.text import _CHUNK_STRIDE, _CHUNK_W

    words = " ".join(f"w{chr(ord('a')+i//26)}{chr(ord('a')+i%26)}"
                     for i in range(150))
    d = str(tmp_path)
    spark.createDataFrame(
        [(0, words), (1, "short doc"), (2, "")], ["doc_id", "text"]
    ).coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")
    rows = all_queries()["q_sliding_chunks"].spark_fn(spark, d).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 150 tokens, W=64, stride=48 -> 1 + ceil((150-64)/48) = 3 chunks
    assert len(by_doc[0]) == 3
    covered = set()
    for r in by_doc[0]:
        assert r["chunk_len"] == len(r["chunk_text"].split(" "))
        assert r["start_tok"] == r["chunk_idx"] * _CHUNK_STRIDE
        covered |= set(range(r["start_tok"], r["start_tok"] + r["chunk_len"]))
    assert covered == set(range(150))  # every token in >= 1 chunk
    # consecutive chunks overlap by W - stride tokens (except a short tail)
    assert by_doc[0][0]["chunk_len"] == _CHUNK_W
    # short doc -> exactly one whole-doc chunk; empty doc -> none
    assert len(by_doc[1]) == 1 and by_doc[1][0]["chunk_len"] == 2
    assert 2 not in by_doc


# ------------------------------------------------------ token cache -------
def test_token_cache_transparent(spark, tmp_path):
    """The session token cache (plans/token_cache.py) is result-identical
    to the inline tokenize form — including NULL/empty text — and actually
    caches (same DataFrame object on a second call, new object after a
    corpus rewrite changes the mtime key)."""
    import time as _time

    from nonconsumptive_spark.operators import wordcount as wc
    from nonconsumptive_spark.plans.ranker_cache import clear_session_cache
    from nonconsumptive_spark.plans.token_cache import tokenized_documents
    from nonconsumptive_spark.queries import load

    d = str(tmp_path)
    rows = [(0, "the cat sat on the mat"), (1, None), (2, ""),
            (3, "cat cat CAT tie-break"), (4, "  padded   spaces  ")]
    spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.mode(
        "overwrite").parquet(d + "/documents.parquet")
    clear_session_cache()
    toks = tokenized_documents(spark, d)
    assert tokenized_documents(spark, d) is toks  # cache hit

    docs = load(spark, d, "documents")
    for cached, plain in [
        (wc.vocabulary(toks, tokens_col="toks"), wc.vocabulary(docs)),
        (wc.encode_unigrams(toks, tokens_col="toks"), wc.encode_unigrams(docs)),
        (wc.ngram_counts(toks, 2, tokens_col="toks"), wc.ngram_counts(docs, 2)),
        (wc.chunked_wordcounts(toks, chunk_size=3, tokens_col="toks"),
         wc.chunked_wordcounts(docs, chunk_size=3)),
    ]:
        assert sorted(map(tuple, cached.collect())) == \
            sorted(map(tuple, plain.collect()))

    # a rewrite invalidates via the (mtime, size) key
    _time.sleep(0.05)
    spark.createDataFrame([(0, "new corpus")], ["doc_id", "text"]).coalesce(
        1).write.mode("overwrite").parquet(d + "/documents.parquet")
    toks2 = tokenized_documents(spark, d)
    assert toks2 is not toks
    assert [r["toks"] for r in toks2.collect()] == [["new", "corpus"]]
    clear_session_cache()
