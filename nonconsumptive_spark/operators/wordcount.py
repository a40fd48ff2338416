"""The reference's text-pipeline spine, Spark-first.

Covers SURVEY.md §2 rows A1 (per-doc wordcount), A2 (n-gram counts), A3
(global wordcount), A4 (vocabulary ranking), A8 (document lengths), A10
(chunked wordcounts), J1 (vocabulary encode join), plus the count-sum
preservation invariant the reference tests
(reference ``tests/test_throughput.py:100-108``).

Scale design:
  * Per-doc counts (default, ``fused=True``): sort the token (or gram)
    array in-row and run-length encode it (``_rle_counts``) — a narrow map
    with no shuffle, linear in the tokens after the sort.  This is the
    per-batch counting the reference does with polars groupbys (reference
    ``wordcounting.py:57-68``), per row.  ``fused=False`` keeps
    ``explode -> groupBy(doc, token)``: map-side partial aggregation, so
    the shuffle carries one row per *distinct* (doc, token).
  * Global counts: second partial/final hash agg on token.  Spark's
    spill-capable exact agg replaces the reference's 4 GB count-min sketch
    (reference ``corpus.py:198-228``) — exact, no approximation error.
  * Vocabulary: ``orderBy(count desc).limit(cap)`` compiles to
    TakeOrderedAndProject (top-k per partition + merge, no global sort);
    dense wordids are then assigned by a window over at most ``cap`` rows,
    so the single-partition window is bounded by the cap (1M default, the
    reference's cap at ``corpus.py:193,241``), never by corpus size.
  * Encode: broadcast hash join against the ≤1M-row vocab — no shuffle of
    the (huge) counts side, mirroring the reference's ``pc.index_in``
    hash-build (reference ``transformations.py:320-346``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nonconsumptive_spark.functions.text import let, ngram_structs, tokenize
from nonconsumptive_spark.plans.checkpoint import materialize_once

VOCAB_CAP = 1_000_000  # reference corpus.py:193,241


def doc_token_counts(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", fused: bool = True,
                     tokens_col: str | None = None) -> DataFrame:
    """A1: (doc, token, count) — one row per distinct token per document.

    Fused (default): sort the token array and run-length encode it in
    the row — no shuffle (see ngram_counts; same kernel at n=1).  The
    explode+groupBy fallback shuffles one row per distinct (doc, token).

    ``tokens_col``: read pre-tokenized arrays (plans/token_cache.py;
    policy: plans/ranker_cache.py) instead of running tokenize(text_col)
    — same expression either way, so results are identical."""
    src = F.col(tokens_col) if tokens_col else tokenize(text_col)
    if not fused:
        toks = docs.select(id_col, F.explode(src).alias("token"))
        return toks.groupBy(id_col, "token").agg(F.count("*").alias("count"))
    counted = docs.select(
        id_col, F.explode(let(F.array_sort(src), _rle_counts)).alias("e")
    )
    return counted.select(
        id_col, F.col("e.g").alias("token"), F.col("e.c").alias("count")
    )


def token_counts_from_tokens(tokens_df: DataFrame, id_col: str = "nc:id",
                             tokens_col: str = "tokenization") -> DataFrame:
    """A1 over a pre-tokenized frame (the cached `tokenization` transform)
    — same zero-shuffle fused kernel as doc_token_counts."""
    counted = tokens_df.select(
        id_col, F.explode(let(F.array_sort(F.col(tokens_col)), _rle_counts)).alias("e")
    )
    return counted.select(
        id_col, F.col("e.g").alias("token"), F.col("e.c").alias("count")
    )


def ngram_counts_from_tokens(tokens_df: DataFrame, n: int, id_col: str = "nc:id",
                             tokens_col: str = "tokenization") -> DataFrame:
    """A2 over a pre-tokenized frame — same zero-shuffle fused kernel as
    ngram_counts (sort-in-array + run-length encode)."""
    joined = F.transform(
        ngram_structs(F.col(tokens_col), n),
        lambda g: F.concat_ws(_GRAM_SEP, *[g[f"w{j}"] for j in range(n)]),
    )
    counted = tokens_df.select(
        id_col, F.explode(let(F.array_sort(joined), _rle_counts)).alias("e")
    )
    return counted.select(
        id_col,
        *[F.split("e.g", _GRAM_SEP)[j].alias(f"w{j}") for j in range(n)],
        F.col("e.c").alias("count"),
    )


def tfidf_top_terms(docs: DataFrame, k: int = 5, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """TF-IDF top-k terms per document: tf = raw in-doc count, idf =
    ln(N / df) with df = number of docs containing the term.  Ties break
    on token ascending for cross-engine determinism.

    Plan: the fused per-doc counts (zero-shuffle) feed BOTH the df agg
    (one row per (doc, token) → count per token) and the scoring join;
    the (token, df) side is vocabulary-sized and broadcasts.  N comes
    from a 1-row agg cross-joined in (no collect).  Top-k per doc is a
    partitioned window — no global sort."""
    counts = materialize_once(doc_token_counts(docs, id_col, text_col), "tfidf_tf")
    df_t = counts.groupBy("token").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        counts.join(F.broadcast(df_t), "token")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(F.col("count") * F.log(F.col("n_docs") / F.col("df")), 4),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.asc("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(id_col, "token", "count", "tfidf", "rank")
    )


def bigram_pmi(docs: DataFrame, min_count: int = 5, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Pointwise mutual information over corpus-wide bigrams — the
    collocation detector: pmi = ln(p(w0,w1) / (p(w0)·p(w1))) with
    probabilities over bigram/unigram totals; pairs below ``min_count``
    dropped (PMI is noise at low counts).

    Plan: global bigram counts (fused kernel + one agg) join the
    vocabulary-sized unigram count table twice — both broadcast; totals
    are 1-row aggs cross-joined in.  No shuffle larger than the bigram
    agg itself."""
    bg_all = materialize_once(
        ngram_counts(docs, 2, id_col, text_col)
        .groupBy("w0", "w1")
        .agg(F.sum("count").alias("c2")),
        "pmi_bigrams",
    )
    bg = bg_all.filter(F.col("c2") >= min_count)
    uni = global_wordcount(docs, id_col, text_col).select(
        "token", F.col("count").alias("c1")
    )
    uni = materialize_once(uni, "pmi_uni")
    t2 = bg_all.agg(F.sum("c2").alias("t2"))
    t1 = uni.agg(F.sum("c1").alias("t1"))
    joined = (
        bg.join(F.broadcast(uni.withColumnRenamed("token", "w0")
                            .withColumnRenamed("c1", "c1a")), "w0")
        .join(F.broadcast(uni.withColumnRenamed("token", "w1")
                          .withColumnRenamed("c1", "c1b")), "w1")
        .crossJoin(F.broadcast(t2))
        .crossJoin(F.broadcast(t1))
    )
    pmi = F.log(
        (F.col("c2") / F.col("t2"))
        / ((F.col("c1a") / F.col("t1")) * (F.col("c1b") / F.col("t1")))
    )
    return joined.select(
        # + 0.0 normalizes IEEE -0.0 (a tiny-negative pmi rounded to 4
        # decimals) to +0.0, so the value-hash agrees with engines whose
        # round() preserves the sign bit
        "w0", "w1", "c2", (F.round(pmi, 4) + F.lit(0.0)).alias("pmi")
    )


def document_lengths(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """A8: token count per document, read off the array length — no explode,
    no shuffle (reference transformations.py:113-132 reads Arrow offsets)."""
    return docs.select(
        id_col,
        # NULL text counts as empty (hygiene convention): without the
        # coalesce, size(tokenize(NULL)) is Spark's legacy -1 while the
        # oracle yields NULL — invisible on NULL-free fixtures, red row
        # on the first corpus with one
        F.size(tokenize(F.coalesce(F.col(text_col), F.lit(""))))
        .cast("long").alias("nwords"),
    )


def global_wordcount(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                     tokens_col: str | None = None) -> DataFrame:
    """A3 (exact form): corpus-wide (token, count)."""
    src = F.col(tokens_col) if tokens_col else tokenize(text_col)
    toks = docs.select(F.explode(src).alias("token"))
    return toks.groupBy("token").agg(F.count("*").alias("count"))


def vocabulary(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
               cap: int = VOCAB_CAP, tokens_col: str | None = None) -> DataFrame:
    """A4: top-``cap`` tokens by count desc, dense wordid 0..N-1.

    Ties broken by token ascending (the reference's sort is unstable on
    ties, corpus.py:236; we add the tie-break for determinism — SURVEY §7
    hard-point 2)."""
    counts = global_wordcount(docs, id_col, text_col, tokens_col=tokens_col)
    return rank_vocab(counts, cap)


WINDOW_CAP_THRESHOLD = 1_000_000


def rank_vocab(global_counts: DataFrame, cap: int = VOCAB_CAP,
               window_cap_threshold: int = WINDOW_CAP_THRESHOLD) -> DataFrame:
    """A4 ranking step over a (token, count) frame: top-``cap`` by count
    desc (ties token asc), dense wordid 0..N-1.

    Two physical strategies, same result (test-asserted equal):

    * ``cap <= window_cap_threshold`` — TakeOrdered + a single-partition
      window BOUNDED BY ``cap`` (≤1M rows after the limit, never corpus
      size).  The right plan for dictionary-sized vocabularies.
    * ``cap > window_cap_threshold`` — no unpartitioned window anywhere:
      the cap boundary is located on a count-value histogram (rows =
      distinct count values, collapsed to ONE collected row), boundary
      ties are ranked with the distributed per-partition-offset id
      assigner, and final wordids come from ``assign_dense_ids`` over
      (count desc, token asc) — range partition + local sort + offsets,
      so a 100M-term vocabulary never passes through one reducer."""
    if cap <= window_cap_threshold:
        top = global_counts.orderBy(F.desc("count"), F.asc("token")).limit(cap)
        w = Window.orderBy(F.desc("count"), F.asc("token"))
        return top.select(
            (F.row_number().over(w) - 1).cast("long").alias("wordid"),
            "token",
            "count",
        )

    from nonconsumptive_spark.plans.checkpoint import materialize_once
    from nonconsumptive_spark.sources.readers import assign_dense_ids

    counts = materialize_once(global_counts, "rank_vocab_counts")
    # histogram over distinct COUNT VALUES (Zipfian corpora: small), with
    # tokens-in-strictly-higher-bands as the running prefix; the only
    # global window runs over this histogram and ends in a 1-row collect
    hist = counts.groupBy("count").agg(F.count("*").alias("n"))
    hw = Window.orderBy(F.desc("count")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    hist = hist.select(
        "count", (F.sum("n").over(hw) - F.col("n")).alias("kept_before")
    )
    # the band containing the cap-th token: smallest count whose prefix
    # is still inside the cap
    row = (
        hist.filter(F.col("kept_before") < cap)
        .orderBy(F.asc("count")).limit(1).collect()
    )
    if not row:
        return counts.select(
            F.lit(0).cast("long").alias("wordid"), "token", "count"
        ).limit(0)
    cstar, kept_before = row[0]["count"], row[0]["kept_before"]

    above = counts.filter(F.col("count") > cstar)
    boundary = counts.filter(F.col("count") == cstar)
    # rank boundary ties by token asc WITHOUT a global window: the
    # boundary band can be huge (count-1 tokens) at corpus scale
    b_ranked = assign_dense_ids(boundary, ["token"], id_name="__brk")
    kept = above.unionByName(
        b_ranked.filter(F.col("__brk") < cap - kept_before).drop("__brk")
    )
    out = assign_dense_ids(
        kept.withColumn("__negc", -F.col("count")),
        ["__negc", "token"], id_name="wordid",
    )
    return out.select(F.col("wordid").cast("long"), "token", "count")


def encode_unigrams(docs: DataFrame, vocab: DataFrame | None = None,
                    id_col: str = "doc_id", text_col: str = "text",
                    tokens_col: str | None = None) -> DataFrame:
    """J1: per-doc counts with tokens replaced by dense wordids via a
    broadcast join; out-of-vocabulary tokens are dropped (the reference's
    index_in misses encode as null and are filtered on write).

    When no vocabulary is supplied, it is derived FROM the per-doc counts
    (summed per token) rather than from a second pass over the raw text:
    the counts table is materialized once and feeds both the vocabulary
    aggregation and the encode join — one tokenize of the corpus instead
    of two.  This is exactly the reference's two-phase structure
    (total_wordcounts barrier then per-stack encode, corpus.py:250-253)
    with the barrier realized as a broadcast."""
    counts = doc_token_counts(docs, id_col, text_col, tokens_col=tokens_col)
    if vocab is None:
        counts = materialize_once(counts, "unigram_counts")
        vocab = rank_vocab(
            counts.groupBy("token").agg(F.sum("count").alias("count"))
        )
    return counts.join(
        F.broadcast(vocab.select("token", "wordid")), "token", "inner"
    ).select(id_col, "wordid", "count")


def encode_ngrams(docs: DataFrame, n: int, vocab: DataFrame | None = None,
                  id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """J1 at n >= 2: per-doc n-gram counts with grams replaced by dense
    gramids via a broadcast join — the encode the reference's Quadgrams
    class ADVERTISED but never ran (its constructor passes ngrams=3, a
    copy-paste bug at transformations.py:282-289, so the reference's own
    tests never covered the n=4 encode path; SURVEY §2.11).

    Same two-phase shape as ``encode_unigrams``: the fused zero-shuffle
    per-doc gram counts are materialized ONCE and feed both the single
    global vocabulary aggregation and the broadcast encode join — one
    tokenize of the corpus, one inherent exchange.  Count sums are
    preserved by construction when the vocabulary derives from the
    counts and the cap is not hit; the registered query's oracle
    re-derives both sides independently, so the driver's hash compare IS
    the count-sum-preservation check at n=4 (the reference's strongest
    invariant, tests/test_throughput.py:100-108, extended to the n it
    never reached)."""
    wcols = [f"w{j}" for j in range(n)]
    counts = ngram_counts(docs, n, id_col, text_col).select(
        id_col, F.concat_ws(_GRAM_SEP, *wcols).alias("token"), "count")
    if vocab is None:
        counts = materialize_once(counts, f"gram{n}_counts")
        vocab = rank_vocab(
            counts.groupBy("token").agg(F.sum("count").alias("count"))
        )
    return counts.join(
        F.broadcast(vocab.select("token", "wordid")), "token", "inner"
    ).select(id_col, F.col("wordid").alias("gramid"), "count")


_GRAM_SEP = " "  # tokens are letter-only ([^\p{L}]+ split) — space is unambiguous


def _rle_counts(arr):
    """array<string> (sorted) -> array<struct<g,c>> run-length counts —
    per-row counting with NO shuffle, linear in the array length.

    Run starts are the 1-based positions i with i = 1 or a[i] <> a[i-1];
    each run's count is the next start minus its own (the last run ends
    at n + 1).  An empty or NULL array gives an empty result.

    ``arr`` MUST be a bound lambda variable (``let(sorted_expr,
    _rle_counts)``): it is referenced once per element, and an unbound
    expression would be re-evaluated — re-sorted — at every reference."""
    n = F.size(arr)
    starts = F.filter(
        F.sequence(F.lit(1), n),
        # get() is 0-based and NULL out of range, so i = 1 compares to NULL
        lambda i: (i == 1) | (F.get(arr, i - 1) != F.get(arr, i - 2)),
    )

    def runs(s):
        # zip_with pads the shifted starts with one trailing NULL
        return F.zip_with(
            s, F.slice(s, 2, F.size(s)),
            lambda b, e: F.named_struct(
                F.lit("g"), F.get(arr, b - 1),
                F.lit("c"), (F.coalesce(e, n + 1) - b).cast("bigint")),
        )

    return F.when(n > 0, let(starts, runs)).otherwise(
        F.array().cast("array<struct<g:string,c:bigint>>"))


def ngram_counts(docs: DataFrame, n: int, id_col: str = "doc_id",
                 text_col: str = "text", fused: bool = True,
                 tokens_col: str | None = None) -> DataFrame:
    """A2: per-doc adjacent n-gram counts, columns (doc, w0..w{n-1}, count).

    ``fused=True`` (default) counts WITHOUT any shuffle: grams are built
    and sorted inside the token array, then run-length encoded
    (``_rle_counts``: run starts by ``filter``, counts by ``zip_with``) —
    the whole operator is a narrow map (the SURVEY §4 "fused per-doc
    kernel", realized with HOFs instead of mapInArrow: no Python worker,
    but the HOFs are CodegenFallback, evaluated interpreted per element,
    so the kernel is kept linear in the grams).  Per-doc counting is
    embarrassingly parallel — the reference exploits exactly this with
    per-batch polars groupbys — and the explode+groupBy form shuffles one
    row per distinct gram per document, which at corpus scale is the
    dominant exchange.  Set-equal to the groupBy form (tests/
    test_wordcount.py) and checked against the DuckDB oracle.

    ``fused=False`` keeps the explode → partial/final hash-agg form (the
    baseline, and the shape to prefer if grams-per-doc ever exceed memory
    for a single row's arrays)."""
    wcols = [f"w{j}" for j in range(n)]
    src = F.col(tokens_col) if tokens_col else tokenize(text_col)
    if not fused:
        grams = docs.select(id_col, F.explode(ngram_structs(src, n)).alias("g"))
        return (
            grams.select(id_col, *[F.col(f"g.w{j}").alias(f"w{j}") for j in range(n)])
            .groupBy(id_col, *wcols)
            .agg(F.count("*").alias("count"))
        )
    joined = F.transform(
        ngram_structs(src, n),
        lambda g: F.concat_ws(_GRAM_SEP, *[g[f"w{j}"] for j in range(n)]),
    )
    counted = docs.select(
        id_col, F.explode(let(F.array_sort(joined), _rle_counts)).alias("e")
    )
    return counted.select(
        id_col,
        *[F.split("e.g", _GRAM_SEP)[j].alias(f"w{j}") for j in range(n)],
        F.col("e.c").alias("count"),
    )


def chunked_wordcounts(docs: DataFrame, chunk_size: int = 10_000,
                       id_col: str = "doc_id", text_col: str = "text",
                       tokens_col: str | None = None) -> DataFrame:
    """A10: split each document's token stream into ceil(len/chunk_size)
    balanced chunks and count per (doc, chunk, token).

    Balanced-remainder semantics (reference ``wordcounting.py:5-55``): chunk
    of the k-th token (1-based) = ((k-1) * nchunks) div len — pure integer
    arithmetic so the DuckDB oracle agrees bit-for-bit.

    Zero-shuffle form (same fused kernel as doc_token_counts): the chunk id
    is prepended to each token inside an indexed ``transform``, the tagged
    array is sorted and run-length encoded, and the tag split
    back off — the whole operator is a narrow map.  (RLE only needs equal
    elements adjacent; any total order of the tagged strings works.)

    The token array MUST be let-bound before the indexed transform: the
    per-element lambda references nwords/nchunks, and without the binding
    CollapseProject inlines ``size(tokenize(text))`` into every element —
    O(n²) per document (measured 4× slower at sf0.1)."""

    def tagged(toks):
        nwords = F.size(toks)
        nchunks = F.greatest(
            F.ceil(nwords / F.lit(chunk_size)), F.lit(1)
        ).cast("long")
        def chunk_of(i):
            # exact integer division (i*nchunks) div nwords: subtract the
            # remainder first so the double division is of an exact multiple
            a = i.cast("long") * nchunks
            return ((a - F.pmod(a, nwords)) / nwords).cast("long")

        return F.transform(
            toks,
            lambda t, i: F.concat_ws(_GRAM_SEP, chunk_of(i).cast("string"), t),
        )

    tagged_sorted = let(
        F.col(tokens_col) if tokens_col else tokenize(text_col),
        lambda toks: F.array_sort(tagged(toks)),
    )
    counted = docs.select(
        id_col,
        F.explode(let(tagged_sorted, _rle_counts)).alias("e"),
    )
    return counted.select(
        id_col,
        F.split("e.g", _GRAM_SEP)[0].cast("long").alias("chunk"),
        F.split("e.g", _GRAM_SEP)[1].alias("token"),
        F.col("e.c").alias("count"),
    )


def _ols_fold(xy: DataFrame) -> DataFrame:
    """OLS sums over an (x, y) frame with ORDER-INDEPENDENT results: the
    points collect into one bounded array (callers guarantee the frame is
    capped — #strata or a top-N vocab), sort by (x, y), and the sums fold
    SEQUENTIALLY over the sorted array — so partition/merge order can
    never flip a last-ulp sum across runs or engines.  One row:
    (n, sx, sy, sxx, sxy).  The matching oracle fragment is _OLS in
    queries/text.py (list(... ORDER BY x, y) + list_sum)."""
    pts = xy.agg(F.array_sort(
        F.collect_list(F.struct("x", "y"))).alias("p"))

    def fsum(term):
        return F.aggregate(F.col("p"), F.lit(0.0),
                           lambda acc, e: acc + term(e))

    return pts.select(
        F.size("p").cast("long").alias("n"),
        fsum(lambda e: e["x"]).alias("sx"),
        fsum(lambda e: e["y"]).alias("sy"),
        fsum(lambda e: e["x"] * e["x"]).alias("sxx"),
        fsum(lambda e: e["x"] * e["y"]).alias("sxy"),
    )


def zipf_fit(docs: DataFrame, top_n: int = 500, id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """Zipf's-law fit over the top-``top_n`` vocabulary: OLS of ln(count)
    on ln(rank) — the corpus-analytics "is this corpus natural language"
    diagnostic (natural text slopes ≈ -1).  One row:
    (n_terms, slope, intercept).

    The regression runs over the RANKED vocab (bounded by ``top_n``, the
    same capped-window pattern as rank_vocab), so the only corpus-sized
    work is the wordcount agg; the OLS sums are one tiny aggregate.
    Outputs round to 4 decimals — ln differs across engines by ≤1 ulp per
    term, orders of magnitude inside the rounding guard."""
    ranked = rank_vocab(global_wordcount(docs, id_col, text_col), cap=top_n)
    xy = ranked.select(
        F.log(F.col("wordid") + 1.0).alias("x"),
        F.log(F.col("count").cast("double")).alias("y"),
    )
    s = _ols_fold(xy)
    n, sx, sy, sxx, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "sxy"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        n.cast("long").alias("n_terms"),
        (F.round(slope, 4) + F.lit(0.0)).alias("slope"),
        (F.round((sy - slope * sx) / n, 4) + F.lit(0.0)).alias("intercept"),
    )


def heaps_fit(docs: DataFrame, stratum_col: str = "source",
              text_col: str = "text") -> DataFrame:
    """Heaps'-law fit V = k·N^beta from per-stratum (total tokens N_s,
    distinct tokens V_s) points: OLS of ln(V) on ln(N) across strata.
    One row: (n_strata, beta, k).

    Each stratum contributes one point, so the fit input is
    stratum-cardinality-sized; the distinct-token count is the one real
    shuffle ((stratum, token) pairs)."""
    toks = docs.select(
        stratum_col, F.explode(tokenize(text_col)).alias("token")
    )
    pts = toks.groupBy(stratum_col).agg(
        F.count("*").alias("n_tok"),
        F.countDistinct("token").alias("v_tok"),
    )
    xy = pts.select(
        F.log(F.col("n_tok").cast("double")).alias("x"),
        F.log(F.col("v_tok").cast("double")).alias("y"),
    )
    s = _ols_fold(xy)
    n, sx, sy, sxx, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "sxy"))
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        n.cast("long").alias("n_strata"),
        # + 0.0: a saturated-vocabulary corpus (every stratum sees the
        # whole vocab) makes the true beta 0 and the computed value a
        # sign-unstable ~1e-17 — without the guard the -0.0 leaks into
        # the hash (observed once at sf0.1 before this fix)
        (F.round(beta, 4) + F.lit(0.0)).alias("beta"),
        (F.round(F.exp((sy - beta * sx) / n), 4) + F.lit(0.0)).alias("k"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch — the reference's ACTUAL A3 mechanism (bounter count-min,
# nonconsumptive/corpus.py:198-228); global_wordcount above is the exact
# replacement, this is the fidelity form.  The sketch is a d×w counter
# matrix: cell (i, j) = #occurrences of tokens with h_i(token) = j, and
# estimate(t) = min_i cell(i, h_i(t)) — always an over-count, never under.
# Deterministic md5-affine hashes (the minhash family), so the sketch and
# every estimate replay bit-for-bit in the DuckDB oracle.
# ---------------------------------------------------------------------------
CMS_DEPTH = 4
CMS_WIDTH = 1024


def countmin_sketch(docs: DataFrame, depth: int = CMS_DEPTH,
                    width: int = CMS_WIDTH, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(row_idx, bucket, cnt): the d×w sketch in one pass — each token
    occurrence fans out to its d cells via posexplode, then one hash agg
    whose key space is d·w cells REGARDLESS of corpus size (the whole
    point: fixed memory at 100 TB, unlike the exact wordcount's
    vocabulary-sized state)."""
    from nonconsumptive_spark.operators.dedup import (
        HASH_AS, HASH_BS, MINHASH_P, _md5_long,
    )

    h = _md5_long(F.col("token")) % MINHASH_P
    cells = F.array(*[
        (F.lit(HASH_AS[i]) * h + F.lit(HASH_BS[i])) % MINHASH_P % width
        for i in range(depth)
    ])
    return (
        docs.select(F.explode(tokenize(text_col)).alias("token"))
        .select(F.posexplode(cells).alias("row_idx", "bucket"))
        .groupBy("row_idx", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def countmin_estimates(docs: DataFrame, top: int = 50,
                       depth: int = CMS_DEPTH, width: int = CMS_WIDTH,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """(token, c_exact, c_est, overestimate) for the ``top`` most frequent
    tokens: exact counts vs sketch estimates.  The sketch is ≤ d·w rows
    and broadcasts onto the bounded vocab lookup; c_est ≥ c_exact is a
    structural invariant (collisions only ADD)."""
    from nonconsumptive_spark.operators.dedup import (
        HASH_AS, HASH_BS, MINHASH_P, _md5_long,
    )

    sketch = countmin_sketch(docs, depth, width, id_col, text_col)
    vocab = (
        global_wordcount(docs, id_col, text_col)
        .orderBy(F.desc("count"), F.asc("token"))
        .limit(top)
        .withColumnRenamed("count", "c_exact")
    )
    h = _md5_long(F.col("token")) % MINHASH_P
    cells = F.array(*[
        (F.lit(HASH_AS[i]) * h + F.lit(HASH_BS[i])) % MINHASH_P % width
        for i in range(depth)
    ])
    lookups = vocab.select(
        "token", "c_exact", F.posexplode(cells).alias("row_idx", "bucket")
    )
    return (
        lookups.join(F.broadcast(sketch), ["row_idx", "bucket"])
        .groupBy("token", "c_exact")
        .agg(F.min("cnt").alias("c_est"))
        .select(
            "token", "c_exact", "c_est",
            (F.col("c_est") - F.col("c_exact")).alias("overestimate"),
        )
    )


def cooccurrence_counts(docs: DataFrame, window: int = 4,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """(w0, w1, count): corpus-wide directional co-occurrence counts — every
    ordered token pair at positional distance 1..window inside a document
    (the classic skip-gram/GloVe pre-aggregation for embedding training).

    Plan: pair generation is IN-ROW (one ``transform`` over index
    sequences per distance, concatenated — no self-join on position), so
    the only shuffle is the final (w0, w1) count agg, map-side combined;
    the same shape as global wordcount, ~``window``x the rows."""
    toks = tokenize(text_col)

    def pairs_at(ts, d):
        return F.when(
            F.size(ts) > d,
            F.transform(
                F.sequence(F.lit(0), F.size(ts) - 1 - d),
                lambda i: F.struct(
                    F.element_at(ts, i + 1).alias("w0"),
                    F.element_at(ts, i + 1 + d).alias("w1"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<w0:string,w1:string>>"))

    all_pairs = let(
        toks,
        lambda ts: F.concat(*[pairs_at(ts, d) for d in range(1, window + 1)]),
    )
    return (
        docs.select(F.explode(all_pairs).alias("p"))
        .select(F.col("p.w0").alias("w0"), F.col("p.w1").alias("w1"))
        .groupBy("w0", "w1")
        .agg(F.count("*").cast("bigint").alias("count"))
    )


NEG_POW = 0.75            # word2vec's unigram distribution exponent
NEG_SCALE = 1_000_000     # weight quantization: 1e-6 units


def negative_sampling_table(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """(token, count, weight_q, cum_lo, cum_hi): the word2vec negative-
    sampling table — tokens weighted by count^0.75, laid out as disjoint
    integer ranges so a sampler draws uniform u in [0, max(cum_hi)) and
    binary-searches its token.  Companion to cooccurrence_counts: the two
    together are the full word2vec/GloVe data prep.

    weight_q = round(sqrt(sqrt(c^3)) * 1e6) as BIGINT — algebraically
    c^0.75, but built from correctly-rounded IEEE ops only (mul, sqrt),
    so the quantized weight is bit-identical cross-engine (pow is not
    correctly-rounded and would expose rounding boundaries).  Ranges are
    assigned in token order (deterministic).

    Plan: one corpus count agg, then a vocabulary-bounded running-sum
    window — the same documented bounded-window pattern as the vocabulary
    ranker (a 100M-term vocab would switch to the per-partition-offset
    dense-id path, see rank_vocab)."""
    from pyspark.sql.window import Window

    counts = (
        docs.select(F.explode(tokenize(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("count"))
    )
    # count^0.75 computed as sqrt(sqrt(c^3)): multiplication and sqrt are
    # IEEE-754 correctly-rounded in every engine, unlike pow (Java's
    # Math.pow is only 1-ulp), so the quantized weight is bit-identical
    # cross-engine with NO rounding-boundary exposure — the same
    # transcendental-divergence class the DSIR fix eliminated
    x = F.col("count").cast("double")
    wq = F.round(F.sqrt(F.sqrt(x * x * x)) * F.lit(NEG_SCALE)).cast("bigint")
    w = Window.orderBy("token").rowsBetween(Window.unboundedPreceding,
                                            Window.currentRow)
    return (
        counts.withColumn("weight_q", wq)
        .withColumn("cum_hi", F.sum("weight_q").over(w).cast("bigint"))
        .withColumn("cum_lo", (F.col("cum_hi") - F.col("weight_q"))
                    .cast("bigint"))
        .select("token", "count", "weight_q", "cum_lo", "cum_hi")
    )


def logdice_collocations(docs: DataFrame, min_count: int = 5,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """log-Dice collocation strength (Rychlý 2008 — the lexicography
    standard, used by Sketch Engine): 14 + log2(2·c(w0,w1) /
    (c(w0) + c(w1))).  Unlike PMI it is bounded (≤ 14) and stable under
    corpus-size changes, so scores compare across corpora.

    Same plan as bigram_pmi: one bigram agg + two broadcast unigram
    joins; the score is a pure function of three exact BIGINTs, so
    cross-engine parity needs only the mirrored expression."""
    bg = (
        ngram_counts(docs, 2, id_col, text_col)
        .groupBy("w0", "w1")
        .agg(F.sum("count").cast("bigint").alias("c2"))
        .filter(F.col("c2") >= min_count)
    )
    uni = global_wordcount(docs, id_col, text_col).select(
        "token", F.col("count").cast("bigint").alias("c1"))
    uni = materialize_once(uni, "ld_uni")
    joined = (
        bg.join(F.broadcast(uni.withColumnRenamed("token", "w0")
                            .withColumnRenamed("c1", "c1a")), "w0")
        .join(F.broadcast(uni.withColumnRenamed("token", "w1")
                          .withColumnRenamed("c1", "c1b")), "w1")
    )
    score = F.lit(14.0) + F.log2(
        F.lit(2.0) * F.col("c2") / (F.col("c1a") + F.col("c1b")))
    return joined.select(
        "w0", "w1", "c2",
        (F.round(score, 4) + F.lit(0.0)).alias("logdice"),
    )


def g2_collocations(docs: DataFrame, min_count: int = 5,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(w0, w1, c2, g2) — Dunning log-likelihood-ratio collocation
    strength (Dunning 1993), the third classic association measure
    beside PMI and log-Dice: G² = 2·Σ k·ln(k·N / (row·col)) over the
    2×2 bigram contingency table (k11 = c(w0 w1), margins = bigram
    tokens starting with w0 / ending with w1, N = total bigrams).
    Zero cells contribute zero (the k·ln(k) → 0 limit).

    Cross-engine exactness: every cell and margin is an exact BIGINT;
    each of the four terms is CAST(k·N AS DOUBLE)/(row·col) — one
    correctly-rounded division of exact-integer doubles — through ONE
    ln call, and the four terms fold left-to-right in a fixed order on
    both engines (no cross-row float sum anywhere).  Products k·N stay
    far below 2^53 at any corpus the BIGINT margins themselves allow.

    Plan: the logdice shape — one bigram agg, margins as two tiny
    groupBys OVER THE BIGRAM FRAME (not a second corpus pass), broadcast
    margin joins, a 1-row N attach."""
    bg_all = materialize_once(
        ngram_counts(docs, 2, id_col, text_col)
        .groupBy("w0", "w1")
        .agg(F.sum("count").cast("bigint").alias("c2")),
        "g2_bigrams",
    )
    left = bg_all.groupBy("w0").agg(F.sum("c2").cast("bigint").alias("r_tot"))
    right = bg_all.groupBy("w1").agg(F.sum("c2").cast("bigint").alias("c_tot"))
    n = bg_all.agg(F.sum("c2").cast("bigint").alias("n_tot"))
    joined = (
        bg_all.filter(F.col("c2") >= min_count)
        .join(F.broadcast(left), "w0")
        .join(F.broadcast(right), "w1")
        .crossJoin(F.broadcast(n))  # 1-row total attach
    )

    def term(k, row, col):
        # k * ln(k*N / (row*col)), 0 when k = 0 — mirrored in the oracle
        return F.when(
            k > 0,
            k.cast("double")
            * F.log((k * F.col("n_tot")).cast("double") / (row * col)),
        ).otherwise(F.lit(0.0))

    k11 = F.col("c2")
    k12 = F.col("r_tot") - F.col("c2")
    k21 = F.col("c_tot") - F.col("c2")
    k22 = F.col("n_tot") - F.col("r_tot") - F.col("c_tot") + F.col("c2")
    nr = F.col("n_tot") - F.col("r_tot")
    nc = F.col("n_tot") - F.col("c_tot")
    g2 = F.lit(2.0) * (
        ((term(k11, F.col("r_tot"), F.col("c_tot"))
          + term(k12, F.col("r_tot"), nc))
         + term(k21, nr, F.col("c_tot")))
        + term(k22, nr, nc)
    )
    return joined.select(
        "w0", "w1", "c2",
        (F.round(g2, 4) + F.lit(0.0)).alias("g2"),
    )


def hapax_stats(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """One row (v, n_tokens, n_hapax, n_dis, hapax_ratio): hapax legomena
    (count-1 types) and dis legomena (count-2) — the rare-type mass that
    drives Heaps growth and OOV rates.  Pure integer aggregation over the
    global wordcount plus one mirrored ratio division."""
    wc_ = global_wordcount(docs, id_col, text_col)
    return wc_.agg(
        F.count("*").cast("bigint").alias("v"),
        F.sum("count").cast("bigint").alias("n_tokens"),
        F.sum((F.col("count") == 1).cast("bigint")).cast("bigint")
         .alias("n_hapax"),
        F.sum((F.col("count") == 2).cast("bigint")).cast("bigint")
         .alias("n_dis"),
    ).select(
        "v", "n_tokens", "n_hapax", "n_dis",
        (F.round(F.col("n_hapax").cast("double") / F.col("v"), 4)
         + F.lit(0.0)).alias("hapax_ratio"),
    )


# --------------------------------------------------------------------------
# HyperLogLog distinct-count replay — the cardinality sketch companion to
# the count-min frequency sketch above: fixed 2^p-register memory however
# large the corpus, with the exact distinct count computed alongside as the
# self-evaluation (the countmin/LSH-recall pattern).  All register math is
# exact integers (md5-derived buckets, bin()-length ranks, bit-shifted
# harmonic terms summed as BIGINTs); the only floats are ONE mirrored
# estimate expression at the end.
HLL_P = 8
HLL_M = 1 << HLL_P          # 256 registers
HLL_SHIFT = 54              # harmonic term = 1 << (SHIFT - M_j), exact BIGINT

# The one float expression (estimate + linear-counting correction) shared
# verbatim with the DuckDB oracle; references the exact BIGINT columns s, v.
HLL_EST_SQL = (
    f"CASE WHEN (0.7213 / (1.0 + 1.079 / {HLL_M}.0)) * {HLL_M}.0 *"
    f" {HLL_M}.0 * {float(1 << HLL_SHIFT)!r} / s <= 2.5 * {HLL_M}.0"
    f" AND v > 0"
    f" THEN round({HLL_M}.0 * ln({HLL_M}.0 / v), 2) + 0.0"
    f" ELSE round((0.7213 / (1.0 + 1.079 / {HLL_M}.0)) * {HLL_M}.0 *"
    f" {HLL_M}.0 * {float(1 << HLL_SHIFT)!r} / s, 2) + 0.0 END"
)


def hll_distinct_tokens(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """One row (m, n_exact, estimate, rel_err): HLL estimate of the
    corpus's distinct-token cardinality vs the exact audit.

    Register math (mirrored verbatim in the oracle): h = 60-bit md5;
    j = h mod m; w = h div m (52 bits); rank = 53 - length(bin(w)),
    53 if w = 0 — i.e. leading-zero count + 1, derived from the binary
    STRING length so no float log2 can misround.  Harmonic sum
    S = sum_j 2^(54 - M_j) is a pure BIGINT (max 256·2^54 < 2^63); the
    raw estimate alpha_m·m²·2^54/S and the small-range linear-counting
    correction are one mirrored float expression.

    Plan shape (100 TB): one tokenize scan into a 256-group max agg
    (map-side combined, so shuffle bytes ≈ 256 rows per partition);
    everything after is register-table-sized.  The exact count_distinct
    exists ONLY as the self-evaluation — production keeps the sketch."""
    tok = docs.select(F.explode(tokenize(text_col)).alias("token"))
    regs = hll_registers(tok)
    sums = hll_register_sums(docs.sparkSession, regs)
    exact = tok.agg(F.count_distinct("token").cast("long").alias("n_exact"))
    return (
        sums.crossJoin(F.broadcast(exact))
        .select(
            F.lit(HLL_M).cast("long").alias("m"),
            "n_exact",
            F.expr(HLL_EST_SQL).alias("estimate"),
            F.expr(
                "round(abs(" + HLL_EST_SQL + " - n_exact)"
                " / CAST(n_exact AS DOUBLE), 4) + 0.0"
            ).alias("rel_err"),
        )
    )


def hll_registers(tok: DataFrame) -> DataFrame:
    """SPARSE register table (j, mr) for a frame with a ``token`` column —
    only buckets some token hashed into appear.  Sparse registers are the
    MERGEABLE form of the sketch: registers of two corpora union +
    max-group into the registers of their union (max is monotone and
    idempotent, which is what makes the streaming fold replay-safe —
    ``streaming/hllstream.py``)."""
    from nonconsumptive_spark.operators.dedup import _md5_long

    h = _md5_long(F.col("token"))
    rr = tok.select(
        (h % HLL_M).alias("j"),
        F.when(F.expr(f"{_md5_expr('token')} div {HLL_M}") == 0, F.lit(53))
        .otherwise(
            F.lit(53)
            - F.length(F.bin(F.expr(f"{_md5_expr('token')} div {HLL_M}")))
        ).cast("int").alias("rank"),
    )
    return rr.groupBy("j").agg(F.max("rank").alias("mr"))


def hll_register_sums(spark, regs: DataFrame) -> DataFrame:
    """1-row (s, v) harmonic-sum frame from a sparse register table
    (absent buckets are rank 0)."""
    spine = spark.range(HLL_M).select(F.col("id").cast("long").alias("j"))
    full = spine.join(regs, "j", "left").select(
        F.coalesce("mr", F.lit(0)).alias("m_j")
    )
    return full.agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_SHIFT} - m_j)"))
        .cast("long").alias("s"),
        F.sum((F.col("m_j") == 0).cast("long")).cast("long").alias("v"),
    )


def _md5_expr(col_name: str) -> str:
    """The _md5_long arithmetic as a SQL fragment (for expr() reuse)."""
    return f"CAST(conv(substring(md5({col_name}), 1, 15), 16, 10) AS BIGINT)"


def hll_registers_grouped(df: DataFrame, group_col: str,
                          value_col: str) -> DataFrame:
    """Per-group sparse HLL registers (grp, j, mr) — the grouped form of
    ``hll_registers`` ("distinct users per event type" at sketch cost).
    Registers stay mergeable per group (max-fold), so grouped sketches
    from shards/epochs union + max-group exactly like the global one."""
    from nonconsumptive_spark.operators.dedup import _md5_long

    v = F.col(value_col).cast("string")
    h = _md5_long(v)
    expr_v = f"CAST(conv(substring(md5(CAST({value_col} AS STRING)), 1, 15), 16, 10) AS BIGINT)"
    rr = df.select(
        F.col(group_col).alias("grp"),
        (h % HLL_M).alias("j"),
        F.when(F.expr(f"{expr_v} div {HLL_M}") == 0, F.lit(53))
        .otherwise(F.lit(53) - F.length(F.bin(F.expr(f"{expr_v} div {HLL_M}"))))
        .cast("int").alias("rank"),
    )
    return rr.groupBy("grp", "j").agg(F.max("rank").alias("mr"))


def hll_estimate_by_group(df: DataFrame, group_col: str,
                          value_col: str) -> DataFrame:
    """(grp, n_exact, estimate, rel_err): per-group HLL cardinality with
    the exact audit alongside.  Plan: one (grp, j) register agg (map-side
    combined, ≤ groups x 256 rows shuffle), a groups x 256 spine join,
    one group agg — the exact count_distinct exists only as the
    self-evaluation."""
    regs = hll_registers_grouped(df, group_col, value_col)
    groups = regs.select("grp").distinct()
    spark = df.sparkSession
    spine = (
        groups.crossJoin(
            F.broadcast(spark.range(HLL_M)
                        .select(F.col("id").cast("long").alias("j"))))
    )
    full = (
        spine.join(regs, ["grp", "j"], "left")
        .select("grp", F.coalesce("mr", F.lit(0)).alias("m_j"))
    )
    sums = full.groupBy("grp").agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_SHIFT} - m_j)"))
        .cast("long").alias("s"),
        F.sum((F.col("m_j") == 0).cast("long")).cast("long").alias("v"),
    )
    exact = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count_distinct(value_col).cast("long").alias("n_exact"))
    return (
        sums.join(exact, "grp")
        .selectExpr(
            "grp", "n_exact", f"{HLL_EST_SQL} AS estimate",
            f"round(abs(({HLL_EST_SQL}) - n_exact)"
            " / greatest(n_exact, 1), 4) AS rel_err")
    )


# ---------------------------------------------------------------------------
# AMS (Alon-Matias-Szegedy) F2 sketch — the second-frequency-moment
# estimator that completes the classic sketch family next to count-min
# (counts), HLL (cardinality), and bloom (membership).  F2 = sum c_w^2 is
# the corpus "self-join size" / repeat-rate; the sketch estimates it in
# O(R) counters: X_r = sum_w c_w * s_r(w) with 4-wise signs s_r in {-1,+1},
# E[X_r^2] = F2.  Deterministic md5-derived signs, so sketch AND estimate
# replay bit-for-bit in the DuckDB oracle (the countmin discipline).
# ---------------------------------------------------------------------------
AMS_R = 16


def ams_f2(docs: DataFrame, n_estimators: int = AMS_R,
           id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row (f2_exact, f2_est, rel_err): exact second frequency moment
    vs the mean of ``n_estimators`` AMS sketch estimates.  Sign r of
    token w is bit r of the portable 60-bit md5 hash.  rel_err is the
    ABSOLUTE relative error |est - exact| / exact — the same convention
    as hll_estimate_by_group, so the sketch family reads uniformly.

    Exactness: every X_r is an exact BIGINT sum over the (token, count)
    frame; the estimate stays the exact integer sum(X_r^2) until ONE
    division at output; rel_err derives from integers the same way.

    Scale shape: the exact vocabulary agg (the A3 barrier), then one
    1-row agg carrying R+1 integer sums — sketch state is R counters
    regardless of corpus size, which is the entire point at 100 TB."""
    from nonconsumptive_spark.operators.dedup import _md5_long

    counts = global_wordcount(docs, id_col, text_col)
    h = _md5_long(F.col("token"))
    # integer shift, NOT floor(h / 2^r): h is 60 bits, beyond double
    # precision — a float division would corrupt the low bits AND
    # diverge from the oracle's integer >> operator
    signs = [
        (F.shiftright(h, r) % 2) * 2 - 1
        for r in range(n_estimators)
    ]
    agg = counts.agg(
        F.sum(F.col("count") * F.col("count")).cast("long").alias("f2"),
        *[F.sum(F.col("count") * s).cast("long").alias(f"x{r}")
          for r, s in enumerate(signs)],
    )
    sumsq = None
    for r in range(n_estimators):
        t = F.col(f"x{r}") * F.col(f"x{r}")
        sumsq = t if sumsq is None else sumsq + t
    return agg.select(
        F.col("f2").alias("f2_exact"),
        (F.round(sumsq.cast("double") / n_estimators, 4) + F.lit(0.0))
        .alias("f2_est"),
        (F.round(
            F.abs((sumsq - F.lit(n_estimators) * F.col("f2")).cast("double"))
            / (F.lit(float(n_estimators)) * F.col("f2")), 6) + F.lit(0.0))
        .alias("rel_err"),
    )


KEYNESS_TOPK = 10


def keyness_terms(docs: DataFrame, min_count: int = 5,
                  top_k: int = KEYNESS_TOPK, id_col: str = "doc_id",
                  text_col: str = "text",
                  group_col: str = "source") -> DataFrame:
    """(source, token, c, g2, overused) — corpus-linguistics KEYNESS: the
    Dunning G² of each term's frequency in one source vs the REST of the
    corpus (Rayson & Garside 2000, the AntConc/WordSmith keyword
    measure), top-``top_k`` terms per source.  ``overused`` is TRUE when
    the term is relatively MORE frequent in the source than in the rest
    — decided by the exact integer cross-multiplication
    c·(N−r) > (ct−c)·r, never by a float ratio.

    Same 2×2 G² kernel as g2_collocations (one ln per non-zero cell,
    fixed fold order, margins exact BIGINTs); the contingency table here
    is term-in-source vs term-in-rest.  Ranking is (round(g2,4) DESC,
    token ASC) — both engines compute the identical double via the
    mirrored chain, so the rounded sort key + token tiebreak is
    engine-stable.

    Plan: one (group, token) agg feeds the cell counts, the group and
    term margins (two tiny re-aggs of THAT frame), and a 1-row N attach;
    the cut is one per-group top-k window over rows already filtered to
    c >= min_count."""
    cells = materialize_once(
        docs.select(group_col, F.explode(tokenize(text_col)).alias("token"))
        .groupBy(group_col, "token")
        .agg(F.count("*").cast("bigint").alias("c")),
        "keyness_cells",
    )
    grp = cells.groupBy(group_col).agg(
        F.sum("c").cast("bigint").alias("r_tot"))
    term = cells.groupBy("token").agg(
        F.sum("c").cast("bigint").alias("c_tot"))
    n = cells.agg(F.sum("c").cast("bigint").alias("n_tot"))
    joined = (
        cells.filter(F.col("c") >= min_count)
        .join(F.broadcast(grp), group_col)
        .join(term, "token")
        .crossJoin(F.broadcast(n))  # 1-row total attach
    )

    def t(k, row, col):
        return F.when(
            k > 0,
            k.cast("double")
            * F.log((k * F.col("n_tot")).cast("double") / (row * col)),
        ).otherwise(F.lit(0.0))

    k11 = F.col("c")
    r, ct, nt = F.col("r_tot"), F.col("c_tot"), F.col("n_tot")
    g2 = F.lit(2.0) * (
        ((t(k11, r, ct) + t(r - k11, r, nt - ct))
         + t(ct - k11, nt - r, ct))
        + t(nt - r - ct + k11, nt - r, nt - ct)
    )
    scored = joined.select(
        group_col, "token", "c",
        (F.round(g2, 4) + F.lit(0.0)).alias("g2"),
        (k11 * (nt - r) > (ct - k11) * r).alias("overused"),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.desc("g2"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .drop("rn")
    )
