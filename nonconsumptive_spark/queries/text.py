"""Text-pipeline queries over `documents` — the reference's core capability
(tokenize → counts → vocabulary → encode; SURVEY §2 rows A1-A4, A8, A10,
J1, W1, O1/O2, F1).

Oracle note: DuckDB tokenizes with RE2 ``[^\\pL]+`` which matches Spark's
Java-regex ``[^\\p{L}]+`` exactly (both drop empty strings after split).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nonconsumptive_spark.operators import wordcount as wc
from nonconsumptive_spark.plans.token_cache import tokenized_documents
from nonconsumptive_spark.queries import load, register

# DuckDB-side tokenization fragments shared by the oracles.
_DUCK_TOKS = "list_filter(regexp_split_to_array(text, '[^\\pL]+'), x -> x <> '')"
_DUCK_TOKEN_ROWS = f"""
  SELECT doc_id, unnest({_DUCK_TOKS}) AS token
  FROM documents
"""
_DUCK_TOKEN_POS_ROWS = f"""
  SELECT doc_id,
         len({_DUCK_TOKS}) AS nwords,
         generate_subscripts({_DUCK_TOKS}, 1) AS pos,
         unnest({_DUCK_TOKS}) AS token
  FROM documents
"""


# --------------------------------------------------------------------------
@register(
    "q_doc_token_counts",
    oracle=f"""
    SELECT doc_id, token, CAST(count(*) AS BIGINT) AS count
    FROM ({_DUCK_TOKEN_ROWS})
    GROUP BY doc_id, token
    """,
    doc="A1: per-document wordcount (in-row sort + run-length encode, no "
        "shuffle; wc.doc_token_counts' fused kernel).",
)
def q_doc_token_counts(spark, sf_dir):
    return wc.doc_token_counts(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
@register(
    "q_document_lengths",
    oracle=f"""
    SELECT doc_id, CAST(len({_DUCK_TOKS}) AS BIGINT) AS nwords
    FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents) documents
    """,
    doc="A8: doc length via array size — no explode, no shuffle; NULL "
        "text counts as empty (mirrors the Spark-side coalesce).",
)
def q_document_lengths(spark, sf_dir):
    return wc.document_lengths(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
@register(
    "q_global_wordcount",
    oracle=f"""
    SELECT token, CAST(count(*) AS BIGINT) AS count
    FROM ({_DUCK_TOKEN_ROWS})
    GROUP BY token
    """,
    doc="A3 exact form: corpus-wide token counts (replaces the reference's "
        "count-min sketch with Spark's spillable exact agg).",
)
def q_global_wordcount(spark, sf_dir):
    return wc.global_wordcount(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
@register(
    "q_vocabulary",
    oracle=f"""
    SELECT CAST(row_number() OVER (ORDER BY count DESC, token ASC) - 1 AS BIGINT) AS wordid,
           token, count
    FROM (
      SELECT token, CAST(count(*) AS BIGINT) AS count
      FROM ({_DUCK_TOKEN_ROWS})
      GROUP BY token)
    ORDER BY wordid
    LIMIT 1000000
    """,
    doc="A4: top-1M vocabulary with dense wordid, count-desc + token tie-break.",
)
def q_vocabulary(spark, sf_dir):
    # session token cache: tokenize the corpus once per session, not once
    # per query (plans/token_cache.py; result-identical to the inline form)
    return wc.vocabulary(tokenized_documents(spark, sf_dir), tokens_col="toks")


# --------------------------------------------------------------------------
@register(
    "q_encoded_unigrams",
    oracle=f"""
    WITH counts AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS count
      FROM ({_DUCK_TOKEN_ROWS})
      GROUP BY doc_id, token),
    vocab AS (
      SELECT CAST(row_number() OVER (ORDER BY count DESC, token ASC) - 1 AS BIGINT) AS wordid,
             token
      FROM (SELECT token, count(*) AS count FROM ({_DUCK_TOKEN_ROWS}) GROUP BY token)
      LIMIT 1000000)
    SELECT c.doc_id, v.wordid, c.count
    FROM counts c JOIN vocab v ON c.token = v.token
    """,
    doc="J1 flagship: vocabulary-encode join (broadcast ≤1M-row vocab; no "
        "shuffle of the counts side).",
)
def q_encoded_unigrams(spark, sf_dir):
    return wc.encode_unigrams(tokenized_documents(spark, sf_dir),
                              tokens_col="toks")


# --------------------------------------------------------------------------
@register(
    "q_bigram_counts",
    oracle=f"""
    SELECT doc_id, w0, w1, CAST(count(*) AS BIGINT) AS count
    FROM (
      SELECT doc_id, token AS w0,
             lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
      FROM ({_DUCK_TOKEN_POS_ROWS}))
    WHERE w1 IS NOT NULL
    GROUP BY doc_id, w0, w1
    """,
    doc="A2/W1/P3: per-doc bigram counts. Spark builds n-grams inside the "
        "token array (no window shuffle; the trailing incomplete gram is the "
        "P3 null-tail drop); oracle uses the equivalent lead() form.",
)
def q_bigram_counts(spark, sf_dir):
    return wc.ngram_counts(tokenized_documents(spark, sf_dir), 2,
                           tokens_col="toks")


# --------------------------------------------------------------------------
@register(
    "q_trigram_counts",
    oracle=f"""
    SELECT doc_id, w0, w1, w2, CAST(count(*) AS BIGINT) AS count
    FROM (
      SELECT doc_id, token AS w0,
             lead(token, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
             lead(token, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      FROM ({_DUCK_TOKEN_POS_ROWS}))
    WHERE w2 IS NOT NULL
    GROUP BY doc_id, w0, w1, w2
    """,
    doc="A2 at n=3 (the reference's Trigrams class; its Quadgrams is a "
        "known copy-paste bug we do not replicate — SURVEY §2.11).",
)
def q_trigram_counts(spark, sf_dir):
    return wc.ngram_counts(load(spark, sf_dir, "documents"), 3)


# --------------------------------------------------------------------------
@register(
    "q_quadgram_counts",
    oracle=f"""
    SELECT doc_id, w0, w1, w2, w3, CAST(count(*) AS BIGINT) AS count
    FROM (
      SELECT doc_id, token AS w0,
             lead(token, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
             lead(token, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
             lead(token, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
      FROM ({_DUCK_TOKEN_POS_ROWS}))
    WHERE w3 IS NOT NULL
    GROUP BY doc_id, w0, w1, w2, w3
    """,
    doc="A2 at n=4 — what the reference's Quadgrams class INTENDS: its "
        "constructor passes ngrams=3 (copy-paste bug, transformations.py:"
        "282-289, SURVEY §2.11), so this implements the intent, not the "
        "defect.",
)
def q_quadgram_counts(spark, sf_dir):
    return wc.ngram_counts(load(spark, sf_dir, "documents"), 4)


# --------------------------------------------------------------------------
@register(
    "q_encoded_quadgrams",
    oracle=f"""
    WITH counts AS (
      SELECT doc_id, w0 || ' ' || w1 || ' ' || w2 || ' ' || w3 AS gram,
             CAST(count(*) AS BIGINT) AS count
      FROM (
        SELECT doc_id, token AS w0,
               lead(token, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
               lead(token, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
               lead(token, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
        FROM ({_DUCK_TOKEN_POS_ROWS}))
      WHERE w3 IS NOT NULL
      GROUP BY doc_id, w0, w1, w2, w3),
    vocab AS (
      SELECT CAST(row_number() OVER (ORDER BY count DESC, gram ASC) - 1
                  AS BIGINT) AS gramid,
             gram
      FROM (SELECT gram, CAST(sum(count) AS BIGINT) AS count
            FROM counts GROUP BY gram)
      LIMIT 1000000)
    SELECT c.doc_id, v.gramid, c.count
    FROM counts c JOIN vocab v ON c.gram = v.gram
    """,
    doc="J1 at n=4: vocabulary-encoded quadgram counts — the encode path "
        "the reference's Quadgrams class advertised but never ran (its "
        "ctor passes ngrams=3, transformations.py:282-289; SURVEY §2.11). "
        "The oracle re-derives counts and vocabulary independently, so "
        "the hash compare doubles as the count-sum-preservation invariant "
        "(tests/test_throughput.py:100-108) extended to n=4.",
)
def q_encoded_quadgrams(spark, sf_dir):
    return wc.encode_ngrams(load(spark, sf_dir, "documents"), 4)


# --------------------------------------------------------------------------
@register(
    "q_chunked_wordcounts",
    oracle=f"""
    SELECT doc_id, CAST(((pos - 1) * nchunks) // nwords AS BIGINT) AS chunk,
           token, CAST(count(*) AS BIGINT) AS count
    FROM (
      SELECT doc_id, nwords, pos, token,
             greatest(CAST(ceil(nwords / 50.0) AS BIGINT), 1) AS nchunks
      FROM ({_DUCK_TOKEN_POS_ROWS}))
    GROUP BY 1, 2, 3
    """,
    doc="A10: balanced chunked wordcounts (chunk_size=50), integer-exact "
        "chunk assignment on both engines.",
)
def q_chunked_wordcounts(spark, sf_dir):
    return wc.chunked_wordcounts(tokenized_documents(spark, sf_dir),
                                 chunk_size=50, tokens_col="toks")


# --------------------------------------------------------------------------
@register(
    "q_tfidf_top_terms",
    oracle=f"""
    WITH counts AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS count
      FROM ({_DUCK_TOKEN_ROWS})
      GROUP BY doc_id, token),
    dfs AS (SELECT token, count(*) AS df FROM counts GROUP BY token),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT c.doc_id, c.token, c.count,
             round(c.count * ln(n.n_docs * 1.0 / d.df), 4) AS tfidf
      FROM counts c JOIN dfs d USING (token) CROSS JOIN n)
    SELECT doc_id, token, count, tfidf, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                     ORDER BY tfidf DESC, token ASC) AS BIGINT) AS rank
      FROM scored)
    WHERE rank <= 5
    """,
    doc="TF-IDF top-5 terms per document (tf = raw count, idf = ln(N/df), "
        "token tie-break).  Fused counts feed both the broadcast df table "
        "and the scoring join; top-k is a partitioned window.",
)
def q_tfidf_top_terms(spark, sf_dir):
    return wc.tfidf_top_terms(load(spark, sf_dir, "documents"), k=5)


# --------------------------------------------------------------------------
@register(
    "q_bigram_pmi",
    oracle=f"""
    WITH tokpos AS ({_DUCK_TOKEN_POS_ROWS}),
    bg AS (
      SELECT w0, w1, CAST(count(*) AS BIGINT) AS c2
      FROM (
        SELECT doc_id, token AS w0,
               lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
        FROM tokpos) z
      WHERE w1 IS NOT NULL
      GROUP BY w0, w1),
    uni AS (
      SELECT token, CAST(count(*) AS BIGINT) AS c1
      FROM ({_DUCK_TOKEN_ROWS}) GROUP BY token),
    t2 AS (SELECT sum(c2) AS t2 FROM bg),
    t1 AS (SELECT sum(c1) AS t1 FROM uni)
    SELECT b.w0, b.w1, b.c2,
           round(ln((b.c2 * 1.0 / t2.t2) /
                    ((ua.c1 * 1.0 / t1.t1) * (ub.c1 * 1.0 / t1.t1))), 4) + 0.0 AS pmi
    FROM bg b
    JOIN uni ua ON ua.token = b.w0
    JOIN uni ub ON ub.token = b.w1
    CROSS JOIN t2 CROSS JOIN t1
    WHERE b.c2 >= 5
    """,
    doc="Bigram PMI collocations: ln(p(w0,w1)/(p(w0)p(w1))), pairs under "
        "min_count=5 dropped.  Bigram agg joins the broadcast unigram "
        "table twice; totals are 1-row cross joins.",
)
def q_bigram_pmi(spark, sf_dir):
    return wc.bigram_pmi(load(spark, sf_dir, "documents"), min_count=5)


# --------------------------------------------------------------------------
@register(
    "q_nfc_normalize",
    oracle="""
    SELECT doc_id,
           nfc_normalize(text) = text AS already_nfc,
           CAST(length(nfc_normalize(text)) AS BIGINT) AS n_chars_nfc,
           md5(nfc_normalize(text)) AS nfc_md5
    FROM documents
    """,
    doc="Unicode NFC normalization (ingest-cleaning step: composed vs "
        "decomposed glyphs must hash identically before dedup).  Spark "
        "side is a pandas_udf over stdlib unicodedata; DuckDB's native "
        "nfc_normalize recomputes the normalized text and the md5 compare "
        "proves the outputs are byte-identical.",
)
def q_nfc_normalize(spark, sf_dir):
    from nonconsumptive_spark.functions.text import nfc_normalize

    docs = load(spark, sf_dir, "documents")
    # bind ONE udf expression and reference it three times — separate
    # nfc_normalize() calls create distinct PythonUDF nodes that
    # ExtractPythonUDFs cannot deduplicate (3 worker round-trips)
    nfc = nfc_normalize("text")
    return docs.select(
        "doc_id",
        (nfc == F.col("text")).alias("already_nfc"),
        F.length(nfc).cast("long").alias("n_chars_nfc"),
        F.md5(nfc).alias("nfc_md5"),
    )


# --------------------------------------------------------------------------
@register(
    "q_tokenize_fallback",
    oracle=r"""
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(toks,
                x -> NOT regexp_full_match(x, '[\p{L}\p{N}^_]+'))) AS BIGINT) AS n_punct_runs,
           toks[1] AS first_token
    FROM (
      SELECT doc_id,
             regexp_extract_all(coalesce(text, ''),
                                '[\p{L}\p{N}^_]+|[^\p{L}\p{N}_\s]+') AS toks
      FROM documents)
    """,
    doc="F3: the reference's words+punctuation fallback tokenizer "
        "(document.py:79-80, re.findall(r'[\\w^_]+|[^\\w\\s]+')) as a "
        "regexp_extract_all column expression — token count, punctuation-run "
        "count, and first token per document.  The word class is spelled "
        "\\p{L}\\p{N}_ so Spark (Java), DuckDB (RE2), and the reference "
        "(Python Unicode \\w) agree on non-ASCII text.",
)
def q_tokenize_fallback(spark, sf_dir):
    from nonconsumptive_spark.functions.text import let, tokenize_fallback

    docs = load(spark, sf_dir, "documents")
    stats = let(
        tokenize_fallback(F.coalesce(F.col("text"), F.lit(""))),
        lambda toks: F.struct(
            F.size(toks).cast("long").alias("n_tokens"),
            F.size(
                F.filter(toks, lambda x: ~x.rlike(r"^[\p{L}\p{N}^_]+$"))
            ).cast("long").alias("n_punct_runs"),
            F.element_at(toks, 1).alias("first_token"),
        ),
    )
    return docs.select("doc_id", stats.alias("s")).select("doc_id", "s.*")


# --------------------------------------------------------------------------
@register(
    "q_renest_roundtrip",
    oracle=f"""
    WITH orig AS (
      SELECT doc_id, coalesce({_DUCK_TOKS}, []) AS orig FROM documents),
    child AS (
      SELECT doc_id, generate_subscripts(orig, 1) AS pos, unnest(orig) AS token
      FROM orig),
    renested AS (
      SELECT doc_id, list(token ORDER BY pos) AS toks
      FROM child GROUP BY doc_id)
    SELECT o.doc_id,
           CAST(len(o.orig) AS BIGINT) AS n_tokens,
           coalesce(r.toks, []) = o.orig AS round_trip_ok
    FROM orig o LEFT JOIN renested r USING (doc_id)
    """,
    doc="F14: list re-nesting — explode a token array into a (id, pos, "
        "value) child table, then reconstruct it with order-stable "
        "collect_list (array_sort on carried positions; reference "
        "catalog.py:430-442 ListArray.from_arrays).  round_trip_ok must be "
        "TRUE for every document.",
)
def q_renest_roundtrip(spark, sf_dir):
    from nonconsumptive_spark.functions.text import tokenize, tokens_with_pos
    from nonconsumptive_spark.sources.writers import renest_lists

    docs = load(spark, sf_dir, "documents")
    orig = docs.select(
        "doc_id",
        tokenize(F.coalesce(F.col("text"), F.lit(""))).alias("orig"))
    child = tokens_with_pos(docs, "doc_id", "text")
    renested = renest_lists(child, "doc_id", "token", "pos", out_col="toks")
    empty = F.array().cast("array<string>")
    return orig.join(renested, "doc_id", "left").select(
        "doc_id",
        F.size("orig").cast("long").alias("n_tokens"),
        (F.coalesce(F.col("toks"), empty) == F.col("orig")).alias("round_trip_ok"),
    )


# --------------------------------------------------------------------------
@register(
    "q_count_sum_preservation",
    oracle=f"""
    WITH counts AS (
      SELECT doc_id, token, count(*) AS count
      FROM ({_DUCK_TOKEN_ROWS}) GROUP BY doc_id, token)
    SELECT CAST(sum(count) AS BIGINT) AS total_encoded,
           CAST((SELECT count(*) FROM ({_DUCK_TOKEN_ROWS})) AS BIGINT) AS total_tokens
    FROM counts
    """,
    doc="The reference's strongest invariant: encoding preserves count sums "
        "(tests/test_throughput.py:100-108).",
)
def q_count_sum_preservation(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    enc = wc.encode_unigrams(docs)
    total_tokens = wc.document_lengths(docs).agg(F.sum("nwords").alias("t"))
    return enc.agg(F.sum("count").alias("total_encoded")).crossJoin(
        total_tokens.select(F.col("t").alias("total_tokens"))
    )


# --------------------------------------------------------------------------
_BPE_MERGES = 8


def _bpe_oracle(k: int) -> str:
    """Generate the k-round BPE replay: each round counts weighted adjacent
    pairs, picks the argmax (cnt DESC, x, y), and re-segments every word
    with a greedy left-to-right fold (string accumulator with a chr(31)
    separator — a just-merged tail can never re-merge in-round, matching
    the Spark array fold and reference BPE trainers)."""
    cte = [f"""
    words_0 AS (
      SELECT word, freq, string_split(word, '') AS syms
      FROM (SELECT word, count(*) AS freq
            FROM (SELECT unnest({_DUCK_TOKS}) AS word FROM documents)
            GROUP BY word))"""]
    for i in range(1, k + 1):
        p = i - 1
        cte.append(f"""
    pairs_{i} AS (
      SELECT s[1] AS x, s[2] AS y, CAST(sum(freq) AS BIGINT) AS cnt
      FROM (SELECT freq,
                   unnest(list_zip(syms[1:len(syms)-1], syms[2:len(syms)])) AS s
            FROM words_{p})
      GROUP BY 1, 2),
    best_{i} AS (
      SELECT x, y, cnt FROM pairs_{i} ORDER BY cnt DESC, x ASC, y ASC LIMIT 1),
    words_{i} AS (
      SELECT word, freq,
             string_split(substr(list_reduce(list_prepend('', syms),
               (acc, s) -> CASE WHEN ends_with(acc, chr(31) || b.x) AND s = b.y
                           THEN substr(acc, 1, length(acc) - length(b.x)) || b.x || b.y
                           ELSE acc || chr(31) || s END), 2), chr(31)) AS syms
      FROM words_{p} CROSS JOIN best_{i} b)""")
    unions = "\n      UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS step, x, y, x || y AS merged, cnt FROM best_{i}"
        for i in range(1, k + 1)
    )
    return "WITH" + ",".join(cte) + f"\n    {unions}"


def _bpe_encode_oracle(k: int) -> str:
    """Same k-round replay as ``_bpe_oracle``, but emitting the ENCODED
    vocabulary after the final round: every word with its frequency,
    symbol count, and space-joined segmentation — the inference half of
    the tokenizer, verified against the same merge sequence."""
    train = _bpe_oracle(k)
    with_body = train[: train.rindex("\n    SELECT CAST(1")]
    return f"""{with_body}
    SELECT word, CAST(freq AS BIGINT) AS freq,
           CAST(len(syms) AS BIGINT) AS n_syms,
           array_to_string(syms, ' ') AS segmented
    FROM words_{k}"""


@register(
    "q_bpe_merges",
    oracle=_bpe_oracle(_BPE_MERGES),
    doc=f"BPE vocabulary induction: the first {_BPE_MERGES} learned merges "
        "(step, x, y, merged, cnt) — the tokenizer-training algorithm.  "
        "Corpus-sized work is one word-count agg; rounds run on the small "
        "vocab table with one bounded 1-row collect per round (merge order "
        "is inherently sequential).  The oracle replays all rounds as "
        "generated CTEs with a string-fold merge.",
)
def q_bpe_merges(spark, sf_dir):
    from nonconsumptive_spark.operators.bpe import train_bpe

    return train_bpe(load(spark, sf_dir, "documents"), n_merges=_BPE_MERGES)


# --------------------------------------------------------------------------
@register(
    "q_bpe_encode",
    oracle=_bpe_encode_oracle(_BPE_MERGES),
    doc=f"BPE encoding (the inference half): the training vocabulary "
        f"segmented by the {_BPE_MERGES} learned merges — (word, freq, "
        "n_syms, segmented).  Same sequential training replay as "
        "q_bpe_merges; the encode itself is the same vocab-sized Catalyst "
        "array fold, so corpus-sized work stays one word-count agg.",
)
def q_bpe_encode(spark, sf_dir):
    from nonconsumptive_spark.operators.bpe import encode_bpe

    return encode_bpe(load(spark, sf_dir, "documents"), n_merges=_BPE_MERGES)


# --------------------------------------------------------------------------
_PR_ITERS = 10


def _pagerank_oracle(k: int) -> str:
    """Replay k synchronous PageRank iterations over the distinct-bigram
    graph: same recurrence, same damping, rounding at output only."""
    cte = [f"""
    tokpos AS (
      SELECT doc_id, generate_subscripts({_DUCK_TOKS}, 1) AS pos,
             unnest({_DUCK_TOKS}) AS token
      FROM documents),
    edges AS (
      SELECT DISTINCT token AS src,
             lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS dst
      FROM tokpos QUALIFY dst IS NOT NULL),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
    ed AS (SELECT e.src, e.dst, d.out_deg FROM edges e JOIN deg d USING (src)),
    nn AS (SELECT count(*) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""]
    for i in range(1, k + 1):
        cte.append(f"""
    r{i} AS (
      SELECT nd.node,
             (0.15 / (SELECT n FROM nn))
               + 0.85 * coalesce(c.sum_c, 0.0) AS rank
      FROM nodes nd LEFT JOIN (
        SELECT ed.dst AS node, sum(r.rank / ed.out_deg) AS sum_c
        FROM ed JOIN r{i - 1} r ON ed.src = r.node
        GROUP BY ed.dst) c USING (node))""")
    return ("WITH" + ",".join(cte)
            + f"\n    SELECT node, round(rank, 6) AS rank FROM r{k}")


@register(
    "q_token_pagerank",
    oracle=_pagerank_oracle(_PR_ITERS),
    doc=f"PageRank ({_PR_ITERS} synchronous iterations, damping 0.85, "
        "uniform teleport, dangling mass not redistributed) over the "
        "distinct token-bigram graph — the TextRank recurrence.  "
        "Per-iteration: one ranks⋈edges equi-join + one dst-keyed agg, "
        "lineage cut per round; the oracle replays every iteration as "
        "generated CTEs.",
)
def q_token_pagerank(spark, sf_dir):
    from nonconsumptive_spark.operators.graph import bigram_edges, pagerank

    edges = bigram_edges(load(spark, sf_dir, "documents"))
    return pagerank(edges, n_iter=_PR_ITERS)


# --------------------------------------------------------------------------
_ZIPF_TOP = 500

# Order-independent OLS sums: points sort into one list and the sums fold
# sequentially over it, mirroring operators/wordcount._ols_fold — a plain
# sum() would accumulate in engine-defined order and can flip the last
# ulp (observed as a -0.0 beta flake at sf0.1 on a saturated vocabulary).
_OLS = """
    SELECT CAST(len(p) AS BIGINT) AS n,
           list_sum(list_transform(p, e -> e.x)) AS sx,
           list_sum(list_transform(p, e -> e.y)) AS sy,
           list_sum(list_transform(p, e -> e.x * e.x)) AS sxx,
           list_sum(list_transform(p, e -> e.x * e.y)) AS sxy
    FROM (SELECT list({'x': x, 'y': y} ORDER BY x, y) AS p FROM xy)
"""


@register(
    "q_zipf_slope",
    oracle=f"""
    WITH ranked AS (
      SELECT row_number() OVER (ORDER BY count DESC, token ASC) - 1 AS wordid,
             count
      FROM (SELECT token, CAST(count(*) AS BIGINT) AS count
            FROM ({_DUCK_TOKEN_ROWS}) GROUP BY token)
      ORDER BY wordid LIMIT {_ZIPF_TOP}),
    xy AS (SELECT ln(wordid + 1.0) AS x, ln(CAST(count AS DOUBLE)) AS y
           FROM ranked),
    s AS ({_OLS})
    SELECT n AS n_terms,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) + 0.0 AS slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4)
             + 0.0 AS intercept
    FROM s
    """,
    doc=f"Zipf's-law diagnostic: OLS of ln(count) on ln(rank) over the "
        f"top-{_ZIPF_TOP} vocabulary (natural text ≈ -1).  Corpus-sized "
        "work is the wordcount agg; the regression is a bounded-cap "
        "ranked frame + one tiny sum aggregate, rounded to 4 decimals "
        "(ln cross-engine drift ≤ 1 ulp/term).",
)
def q_zipf_slope(spark, sf_dir):
    return wc.zipf_fit(load(spark, sf_dir, "documents"), top_n=_ZIPF_TOP)


@register(
    "q_heaps_fit",
    oracle=f"""
    WITH pts AS (
      SELECT source, count(*) AS n_tok, count(DISTINCT token) AS v_tok
      FROM (SELECT source, unnest({_DUCK_TOKS}) AS token FROM documents)
      GROUP BY source),
    xy AS (SELECT ln(CAST(n_tok AS DOUBLE)) AS x,
                  ln(CAST(v_tok AS DOUBLE)) AS y FROM pts),
    s AS ({_OLS})
    SELECT n AS n_strata,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) + 0.0 AS beta,
           round(exp((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n), 4)
             + 0.0 AS k
    FROM s
    """,
    doc="Heaps'-law fit V = k·N^beta across per-source (tokens, distinct "
        "tokens) points — vocabulary-growth analytics.  One (source, "
        "token) distinct agg is the only corpus-sized shuffle; the fit "
        "runs on #sources points.",
)
def q_heaps_fit(spark, sf_dir):
    return wc.heaps_fit(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
def _countmin_oracle(depth: int, width: int, top: int) -> str:
    from nonconsumptive_spark.operators.dedup import HASH_AS, HASH_BS, MINHASH_P

    params = ", ".join(
        f"({i}, {HASH_AS[i]}, {HASH_BS[i]})" for i in range(depth)
    )
    return f"""
    WITH params(i, a, b) AS (VALUES {params}),
    tok AS (
      SELECT unnest({_DUCK_TOKS}) AS token FROM documents),
    hv AS (
      SELECT token,
             CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) % {MINHASH_P} AS h
      FROM tok),
    cells AS (
      SELECT p.i AS row_idx, (p.a * hv.h + p.b) % {MINHASH_P} % {width} AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
      FROM hv CROSS JOIN params p
      GROUP BY 1, 2),
    vocab AS (
      SELECT token, CAST(count(*) AS BIGINT) AS c_exact,
             CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) % {MINHASH_P} AS h
      FROM tok GROUP BY token ORDER BY c_exact DESC, token ASC LIMIT {top}),
    est AS (
      SELECT v.token, v.c_exact, min(c.cnt) AS c_est
      FROM vocab v
      JOIN params p ON true
      JOIN cells c ON c.row_idx = p.i
                  AND c.bucket = (p.a * v.h + p.b) % {MINHASH_P} % {width}
      GROUP BY v.token, v.c_exact)
    SELECT token, c_exact, c_est, c_est - c_exact AS overestimate
    FROM est
    """


@register(
    "q_countmin_estimate",
    oracle=_countmin_oracle(wc.CMS_DEPTH, wc.CMS_WIDTH, 50),
    doc="Count-min sketch counts vs exact — the reference's ACTUAL A3 "
        "mechanism (bounter count-min, reference corpus.py:198-228) in "
        "fixed memory: the sketch agg keys on d*w cells regardless of "
        "corpus size, estimates are min-of-cells (always >= exact).  "
        "Deterministic md5-affine hashes make sketch AND estimates replay "
        "bit-for-bit in DuckDB.",
)
def q_countmin_estimate(spark, sf_dir):
    return wc.countmin_estimates(load(spark, sf_dir, "documents"), top=50)


# --------------------------------------------------------------------------
@register(
    "q_token_triangles",
    oracle=f"""
    WITH tokpos AS (
      SELECT doc_id, generate_subscripts({_DUCK_TOKS}, 1) AS pos,
             unnest({_DUCK_TOKS}) AS token
      FROM documents),
    dedges AS (
      SELECT DISTINCT token AS src,
             lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS dst
      FROM tokpos QUALIFY dst IS NOT NULL),
    und AS (
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM dedges WHERE src <> dst),
    nodes AS (SELECT u AS node FROM und UNION SELECT v FROM und),
    tris AS (
      SELECT count(*) AS t
      FROM und e1 JOIN und e2 ON e1.v = e2.u JOIN und e3
        ON e3.u = e1.u AND e3.v = e2.v)
    SELECT CAST((SELECT count(*) FROM nodes) AS BIGINT) AS n_nodes,
           CAST((SELECT count(*) FROM und) AS BIGINT) AS n_edges,
           CAST((SELECT t FROM tris) AS BIGINT) AS n_triangles
    """,
    doc="Triangle census of the undirected token co-occurrence graph.  "
        "Spark enumerates via degree-ordered orientation (wedge fan-out "
        "bounded by sqrt(m) per node — the hub-proof form); the oracle "
        "enumerates u<v<w directly.  Both count each triangle exactly "
        "once, so the totals hash-match.",
)
def q_token_triangles(spark, sf_dir):
    from nonconsumptive_spark.operators.graph import bigram_edges, triangle_count

    return triangle_count(bigram_edges(load(spark, sf_dir, "documents")))


# --------------------------------------------------------------------------
from nonconsumptive_spark.operators import wordcount as _wc


@register(
    "q_hll_distinct",
    oracle=f"""
    WITH tok AS (SELECT unnest({_DUCK_TOKS}) AS token FROM documents),
    hh AS (
      SELECT CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS h, token
      FROM tok),
    rr AS (
      SELECT h % {_wc.HLL_M} AS j,
             CASE WHEN h // {_wc.HLL_M} = 0 THEN 53
                  ELSE 53 - length(bin(h // {_wc.HLL_M})) END AS rank
      FROM hh),
    regs AS (SELECT j, max(rank) AS mr FROM rr GROUP BY j),
    spine AS (SELECT g.j FROM generate_series(0, {_wc.HLL_M - 1}) AS g(j)),
    fullr AS (
      SELECT coalesce(r.mr, 0) AS m_j
      FROM spine s LEFT JOIN regs r ON r.j = s.j),
    sums AS (
      SELECT CAST(sum(CAST(1 AS BIGINT) << ({_wc.HLL_SHIFT} - m_j))
                  AS BIGINT) AS s,
             CAST(sum(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
      FROM fullr),
    ex AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS n_exact FROM tok)
    SELECT CAST({_wc.HLL_M} AS BIGINT) AS m, n_exact,
           {_wc.HLL_EST_SQL} AS estimate,
           round(abs({_wc.HLL_EST_SQL} - n_exact)
                 / CAST(n_exact AS DOUBLE), 4) + 0.0 AS rel_err
    FROM sums CROSS JOIN ex
    """,
    doc="HyperLogLog distinct-token cardinality with the exact audit "
        "alongside (the countmin/LSH-recall self-evaluation pattern): "
        "256 registers, md5-bucketed, ranks from binary-STRING length "
        "(no float log2), harmonic sum as bit-shifted exact BIGINTs; the "
        "estimate + linear-counting correction is ONE mirrored float "
        "expression.  Fixed 2^p memory however large the corpus.",
)
def q_hll_distinct(spark, sf_dir):
    return _wc.hll_distinct_tokens(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Sliding-window chunk extraction — the training-prep segmentation step
# (split every document into fixed-width token windows with overlap so no
# span longer than the stride is lost at a boundary).  Complements
# pack_sequences (which BINS whole docs into shards) and
# chunked_wordcounts (which AGGREGATES per chunk): this emits the chunk
# ROWS a tokenizer-bound trainer consumes.
_CHUNK_W = 64      # window width in tokens
_CHUNK_STRIDE = 48 # stride (overlap = W - STRIDE = 16 tokens)


@register(
    "q_sliding_chunks",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[^\\pL]+'),
                         x -> x <> '') AS t
      FROM documents),
    lens AS (SELECT doc_id, t, COALESCE(len(t), 0) AS n_tokens FROM toks),
    spans AS (
      SELECT doc_id, n_tokens,
             unnest(range(0,
               CASE WHEN n_tokens = 0 THEN 0
                    WHEN n_tokens <= {_CHUNK_W} THEN 1
                    ELSE 1 + CAST(ceil((n_tokens - {_CHUNK_W})
                                       / {_CHUNK_STRIDE}.0) AS BIGINT)
               END)) AS chunk_idx,
             t
      FROM lens)
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(chunk_idx * {_CHUNK_STRIDE} AS BIGINT) AS start_tok,
           CAST(least({_CHUNK_W},
                      n_tokens - chunk_idx * {_CHUNK_STRIDE}) AS BIGINT)
             AS chunk_len,
           array_to_string(t[chunk_idx * {_CHUNK_STRIDE} + 1 :
                             chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_W}],
                           ' ') AS chunk_text
    FROM spans
    """,
    doc=f"Sliding-window segmentation: width {_CHUNK_W} tokens, stride "
        f"{_CHUNK_STRIDE} (overlap {_CHUNK_W - _CHUNK_STRIDE}).  Chunk "
        "count per doc = 1 + ceil((n - W)/stride) (one chunk for short "
        "docs, none for empty), so every token belongs to >= 1 chunk and "
        "boundaries never drop a span shorter than the stride.  Pure "
        "in-row expansion — tokenize once, emit slices; zero shuffle at "
        "any corpus size.",
)
def q_sliding_chunks(spark, sf_dir):
    from nonconsumptive_spark.functions.text import let, tokenize

    w, st = _CHUNK_W, _CHUNK_STRIDE

    def build(t):
        # NULL-text safe (legacy size() = -1): normalize to 0 -> no chunks
        n = F.when(F.size(t) >= 0, F.size(t)).otherwise(F.lit(0))
        n_chunks = (
            F.when(n == 0, F.lit(0))
            .when(n <= w, F.lit(1))
            .otherwise(1 + F.ceil((n - F.lit(w)) / F.lit(float(st))))
            .cast("long")
        )
        # sequence(0, -1) DESCENDS in Spark, so the empty-doc case must
        # short-circuit to an empty array (oracle: range(0, 0) = [])
        return F.when(n_chunks == 0, F.array()).otherwise(F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.cast("long").alias("chunk_idx"),
                (i * st).cast("long").alias("start_tok"),
                F.least(F.lit(w), n - i * st).cast("long").alias("chunk_len"),
                F.concat_ws(" ", F.slice(t, i * st + 1, w)).alias("chunk_text"),
            ),
        ))

    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.explode(let(tokenize("text"), build)).alias("c"),
        )
        .select("doc_id", "c.chunk_idx", "c.start_tok", "c.chunk_len",
                "c.chunk_text")
    )


# --------------------------------------------------------------------------
def _bpe_fertility_oracle(k: int) -> str:
    """Compose the k-round BPE replay with per-language word counts:
    fertility = segmented symbols per word occurrence under the learned
    vocabulary."""
    train = _bpe_oracle(k)
    with_body = train[: train.rindex("\n    SELECT CAST(1")]
    return f"""{with_body},
    lw AS (
      SELECT lang, word, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT lang, unnest({_DUCK_TOKS}) AS word FROM documents)
      GROUP BY lang, word)
    SELECT lang,
           CAST(sum(cnt) AS BIGINT) AS n_words,
           CAST(sum(cnt * len(syms)) AS BIGINT) AS n_pieces,
           round(CAST(sum(cnt * len(syms)) AS DOUBLE) / sum(cnt), 4) + 0.0
             AS fertility
    FROM lw JOIN words_{k} USING (word)
    GROUP BY lang"""


@register(
    "q_bpe_fertility",
    oracle=_bpe_fertility_oracle(_BPE_MERGES),
    doc=f"Tokenizer fertility per language under the {_BPE_MERGES}-merge "
        "BPE vocabulary learned from this corpus: segmented symbols per "
        "word occurrence — the dataset-card number that says which "
        "languages the tokenizer fragments (fertility gaps = compute-cost "
        "gaps at training time).  n_pieces is an exact BIGINT "
        "(occurrence-weighted post-merge symbol counts); one mirrored "
        "division at output.  Plan: per-language word counts are one "
        "corpus agg; the vocab-with-segmentation table (the q_bpe_encode "
        "plan) broadcasts onto it.",
)
def q_bpe_fertility(spark, sf_dir):
    from nonconsumptive_spark.functions.text import tokenize
    from nonconsumptive_spark.operators.bpe import encode_bpe

    docs = load(spark, sf_dir, "documents")
    enc = encode_bpe(docs, n_merges=_BPE_MERGES).select("word", "n_syms")
    lw = (
        docs.select("lang", F.explode(tokenize("text")).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    return (
        lw.join(F.broadcast(enc), "word")
        .groupBy("lang")
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_syms")).cast("long")
            .alias("n_pieces"),
        )
        .select(
            "lang", "n_words", "n_pieces",
            (F.round(F.col("n_pieces").cast("double") / F.col("n_words"), 4)
             + F.lit(0.0)).alias("fertility"),
        )
    )


# --------------------------------------------------------------------------
_BFS_SOURCE = "table"
_BFS_MAX_ITER = 10


@register(
    "q_bfs_distances",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_id, token AS src,
             lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS dst
      FROM (SELECT doc_id, generate_subscripts({_DUCK_TOKS}, 1) AS pos,
                   unnest({_DUCK_TOKS}) AS token FROM documents)),
    edges AS (
      SELECT DISTINCT src, dst FROM pairs WHERE dst IS NOT NULL),
    bfs(node, dist) AS (
      SELECT '{_BFS_SOURCE}' AS node, 0 AS dist
      UNION
      SELECT e.dst, b.dist + 1
      FROM bfs b JOIN edges e ON e.src = b.node
      WHERE b.dist < {_BFS_MAX_ITER})
    SELECT node, CAST(min(dist) AS BIGINT) AS dist
    FROM bfs GROUP BY node
    """,
    doc=f"BFS shortest hop distances from token '{_BFS_SOURCE}' over the "
        f"directed distinct-bigram graph, {_BFS_MAX_ITER}-hop bound — the "
        "reachability/radius companion to PageRank, triangles and "
        "connected components.  Spark side is synchronous frontier "
        "expansion (per round: one frontier-edges equi-join + one "
        "anti-join against the visited set, lineage cut each round, "
        "early-exit on empty frontier); the oracle is DuckDB WITH "
        "RECURSIVE with the same hop bound.",
)
def q_bfs_distances(spark, sf_dir):
    from nonconsumptive_spark.operators.graph import bfs_distances, bigram_edges

    edges = bigram_edges(load(spark, sf_dir, "documents"))
    return bfs_distances(edges, _BFS_SOURCE, max_iter=_BFS_MAX_ITER)


# --------------------------------------------------------------------------
# Degree assortativity of the bigram graph: Pearson correlation between
# src out-degree and dst in-degree across directed distinct edges —
# "do hub tokens link to hub tokens?".  Degrees are exact integers, the
# six Pearson moments exact BIGINTs, r one guarded mirrored expression
# (shared shape with q_spearman_len_tokens's rho).
_ASSORT_R = (
    "CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0"
    " THEN round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
    "  / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
    "       * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)"
    "  + 0.0"
    " ELSE CAST(0.0 AS DOUBLE) END"
)


@register(
    "q_degree_assortativity",
    oracle=f"""
    WITH pairs AS (
      SELECT doc_id, token AS src,
             lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS dst
      FROM (SELECT doc_id, generate_subscripts({_DUCK_TOKS}, 1) AS pos,
                   unnest({_DUCK_TOKS}) AS token FROM documents)),
    edges AS (SELECT DISTINCT src, dst FROM pairs WHERE dst IS NOT NULL),
    outd AS (SELECT src, CAST(count(*) AS BIGINT) AS od FROM edges GROUP BY src),
    ind  AS (SELECT dst, CAST(count(*) AS BIGINT) AS idg FROM edges GROUP BY dst),
    xy AS (
      SELECT o.od AS x, i.idg AS y
      FROM edges e JOIN outd o ON e.src = o.src JOIN ind i ON e.dst = i.dst),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM xy)
    SELECT n AS n_edges, {_ASSORT_R} AS assortativity FROM mom
    """,
    doc="Out-in degree assortativity of the directed distinct-bigram "
        "graph (Newman 2002 r as a plain Pearson over edge-endpoint "
        "degrees).  Plan: degree tables are short re-aggs of the edge "
        "frame, broadcast back onto it; one 1-row moment agg; every "
        "moment an exact BIGINT.",
)
def q_degree_assortativity(spark, sf_dir):
    from pyspark.sql import functions as F

    from nonconsumptive_spark.operators.graph import bigram_edges
    from nonconsumptive_spark.plans.checkpoint import materialize_once

    edges = materialize_once(
        bigram_edges(load(spark, sf_dir, "documents")), "assort_edges")
    outd = edges.groupBy("src").agg(F.count("*").cast("long").alias("od"))
    ind = edges.groupBy("dst").agg(F.count("*").cast("long").alias("idg"))
    xy = (
        edges.join(F.broadcast(outd), "src")
        .join(F.broadcast(ind), "dst")
        .select(F.col("od").alias("x"), F.col("idg").alias("y"))
    )
    mom = xy.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    return mom.selectExpr("n AS n_edges", f"{_ASSORT_R} AS assortativity")


@register(
    "q_hll_by_group",
    oracle=f"""
    WITH tok AS (
      SELECT source AS grp, unnest({_DUCK_TOKS}) AS token FROM documents),
    hh AS (
      SELECT grp,
             CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS h, token
      FROM tok),
    rr AS (
      SELECT grp, h % {_wc.HLL_M} AS j,
             CASE WHEN h // {_wc.HLL_M} = 0 THEN 53
                  ELSE 53 - length(bin(h // {_wc.HLL_M})) END AS rank
      FROM hh),
    regs AS (SELECT grp, j, max(rank) AS mr FROM rr GROUP BY grp, j),
    spine AS (
      SELECT g.grp, s.j
      FROM (SELECT DISTINCT grp FROM tok) g
      CROSS JOIN generate_series(0, {_wc.HLL_M - 1}) AS s(j)),
    fullr AS (
      SELECT spine.grp, coalesce(r.mr, 0) AS m_j
      FROM spine LEFT JOIN regs r ON r.grp = spine.grp AND r.j = spine.j),
    sums AS (
      SELECT grp,
             CAST(sum(CAST(1 AS BIGINT) << ({_wc.HLL_SHIFT} - m_j))
                  AS BIGINT) AS s,
             CAST(sum(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
      FROM fullr GROUP BY grp),
    ex AS (
      SELECT grp, CAST(count(DISTINCT token) AS BIGINT) AS n_exact
      FROM tok GROUP BY grp)
    SELECT grp, n_exact, {_wc.HLL_EST_SQL} AS estimate,
           round(abs(({_wc.HLL_EST_SQL}) - n_exact)
                 / greatest(n_exact, 1), 4) AS rel_err
    FROM sums JOIN ex USING (grp)
    """,
    doc="Per-source HyperLogLog distinct-token cardinality with the exact "
        "audit alongside — the grouped form of q_hll_distinct ('distinct "
        "values per group' at fixed 256-register cost per group).  Plan: "
        "one (grp, j) register agg (map-side combined, <= groups x 256 "
        "rows shuffled), a broadcast groups x 256 spine join, one group "
        "agg; registers stay mergeable per group across shards/epochs.  "
        "The exact count_distinct exists only as the self-evaluation.",
)
def q_hll_by_group(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    from nonconsumptive_spark.functions.text import tokenize

    tok = docs.select(
        F.col("source").alias("src"), F.explode(tokenize("text")).alias("token"))
    return _wc.hll_estimate_by_group(tok, "src", "token")
